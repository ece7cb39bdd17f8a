"""Capstone #5: the persisted ANN index lifecycle — build an IVF index,
WRITE it as parquet artifacts, load it back in a fresh reader, and serve
top-k queries from the stored index.

sim_ann_ivf demonstrates the IVF *algorithm* in one plan; real systems
separate BUILD (expensive, once) from SERVE (cheap, many): the index is a
pair of parquet artifacts — a centroid table and a cluster-keyed postings
table — and queries only ever read the probed clusters' postings. This
capstone exercises that storage contract end-to-end.
"""

from __future__ import annotations

from functools import partial

from engine.tmpdirs import scratch_dir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import dot, sftag

_QUERY_IDS = [0, 50, 100, 150, 200]
_K = 5
_NLIST = 8
_NPROBE = 3


@query(
    "pipeline_ann_index_build",
    # FULL oracle under the same contract as sim_ann_ivf: the stored-index
    # serve path achieves recall 1.0 on this corpus deterministically
    # (fixed centroids = 8 lowest vec_ids, clustered embeddings [DATA]);
    # the oracle is the exact brute-force top-5 per query, so any recall
    # regression in build/store/serve becomes a driver hash mismatch. The
    # recall floor is separately unit-tested.
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding FROM embeddings
      WHERE vec_id IN ({", ".join(str(i) for i in _QUERY_IDS)})
    ),
    sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[]), 4) AS sim
      FROM q JOIN embeddings e ON e.vec_id != q.query_id
      WHERE e.embedding IS NOT NULL AND len(e.embedding) = (SELECT len(embedding) FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1 ORDER BY count(*) DESC, len(embedding) LIMIT 1)
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rnk
      FROM sims
    )
    SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, sim
    FROM ranked WHERE rnk <= {_K}
    """,
)
def pipeline_ann_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index lifecycle capstone: BUILD (assign every vector to its
    top-3 of 8 deterministic centroids — multi-assigned postings), PERSIST
    (centroids.parquet + cluster-partitioned postings.parquet), LOAD
    (fresh reads of both artifacts), SERVE (5 fixed query vectors probe
    their nprobe=3 nearest centroids and exact-search ONLY those
    clusters' postings for the top-5 neighbors).

    Storage layout IS the query plan: postings are written
    `partitionBy(cluster)`, so a query touching 3 of 8 clusters reads 3
    directories — partition pruning does the IVF candidate narrowing at
    the STORAGE layer (the serve-side filter is `cluster IN probed`,
    plan-prunable). At 100 TB: build is one mapInPandas pass + one
    partitioned write; serving N queries batches them into one join
    against the pruned postings; nlist grows ~√n so per-cluster postings
    stay bounded. Exactly the FAISS IVF file layout, expressed as
    parquet + directories."""
    import numpy as np

    from engine.simsearch import ivf_assign
    from engine.tables import vectors

    emb = vectors(spark, sf_dir)
    # nlist scales ~sqrt(n) from footer stats (r06, same pattern and
    # rationale as sim_ann_ivf — the floor keeps every driver/test SF at
    # exactly _NLIST=8, so stored-index oracle results are unchanged);
    # here the win is serve-side read amplification: probed clusters hold
    # n·nprobe/nlist postings each, so a fixed nlist makes every query
    # scan O(n) postings while sqrt-scaling keeps it O(sqrt n).
    import math

    from engine.tables import parquet_num_rows

    _n = parquet_num_rows(f"{sf_dir}/embeddings.parquet")
    nlist = max(_NLIST, int(round(math.sqrt(_n / 32)))) if _n is not None else _NLIST
    cents_pdf = emb.orderBy("vec_id").limit(nlist).select("vec_id", "embedding").toPandas()
    if len(cents_pdf) == 0:
        # empty corpus: no index to build, no queries to serve — matches
        # the oracle's empty neighbor list (r12 empty-corpus hardening)
        return spark.createDataFrame(
            [], "query_id long, rnk int, neighbor_id long, sim double"
        )
    c_mat = np.stack(cents_pdf["embedding"].to_numpy()).astype(np.float64)
    bc = spark.sparkContext.broadcast(c_mat)

    base = scratch_dir(prefix=f"sg-annidx-{sftag(sf_dir)}-")

    # BUILD: multi-assignment — every vector is stored in its top-nprobe
    # clusters (postings replicated ×nprobe), which restores recall 1.0
    # here at ×nprobe storage; sim_ann_ivf runs the same kernel.
    postings = emb.mapInPandas(
        partial(ivf_assign, bc, _NPROBE),
        "cluster int, vec_id long, embedding array<float>",
    )
    # PERSIST: the index = centroids + cluster-partitioned postings.
    spark.createDataFrame(cents_pdf).write.mode("overwrite").parquet(
        f"{base}/centroids"
    )
    postings.write.mode("overwrite").partitionBy("cluster").parquet(
        f"{base}/postings"
    )

    # LOAD: fresh reads — from here on, only the stored artifacts are used.
    cents_back = spark.read.parquet(f"{base}/centroids").orderBy("vec_id").toPandas()
    c_back = np.stack(cents_back["embedding"].to_numpy()).astype(np.float64)
    post_back = spark.read.parquet(f"{base}/postings")

    # SERVE: probe nprobe nearest centroids per query, search only those
    # clusters' postings. Queries are batched into ONE pruned join.
    q_pdf = (
        emb.filter(F.col("vec_id").isin(_QUERY_IDS))
        .select("vec_id", "embedding")
        .toPandas()
    )
    q_mat = np.stack(q_pdf["embedding"].to_numpy()).astype(np.float64)
    probes = np.argsort(-(q_mat @ c_back.T), axis=1)[:, :_NPROBE]
    probe_rows = [
        (int(q_pdf["vec_id"].iloc[i]), [float(x) for x in q_mat[i]], [int(c) for c in probes[i]])
        for i in range(len(q_pdf))
    ]
    qdf = spark.createDataFrame(
        probe_rows, "query_id long, q_emb array<double>, probed array<int>"
    ).select("query_id", "q_emb", F.explode("probed").alias("cluster"))
    # Equi-join on the exploded probe list: a broadcast HASH join keyed on
    # cluster (never a nested-loop on array_contains), and the cluster key
    # is the postings' partition column — the storage layout does the IVF
    # candidate narrowing.
    cand = post_back.join(F.broadcast(qdf), "cluster").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(dot("q_emb", "embedding"), 4).alias("sim"),
    ).dropDuplicates(["query_id", "neighbor_id"])  # multi-assigned postings
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _K)
        .select("query_id", "rnk", "neighbor_id", "sim")
    )
