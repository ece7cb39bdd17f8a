"""Similarity search beyond brute force: embedding-cosine near-dup and the
IVF-bucketed approximate-nearest-neighbor scale path.

The brute-force baselines live in engine.llmops (sim_topk_pairs /
sim_knn_query — blocked BLAS matmul). This module adds:

- ``dedup_embedding_cosine``: all pairs above a cosine threshold (the
  embedding near-dup primitive for training-data curation) — FULL oracle via
  DuckDB list_dot_product.
- ``sim_ann_ivf``: inverted-file ANN — deterministic coarse centroids,
  multi-probe assignment, per-cluster exact search. FULL oracle since r04
  (recall 1.0 on this corpus, pinned by tests); recall vs brute force is
  unit-tested (tests/test_trainops.py).

Scale notes (100 TB): the IVF shape is the one that survives — assignment is
a map-side matmul against broadcast centroids, candidate generation becomes a
shuffle on cluster_id, and per-cluster exact search is a bounded blocked
matmul. Nothing is O(n²) in the corpus; the probe count trades recall for
cost. Embeddings are L2-normalized (FIXTURES) so cosine ≡ dot everywhere.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query

_COS_THRESH = 0.4  # corpus max pair-sim is 0.51; 0.4 keeps a small stable set


def _cosine_floor(thresh, sims):
    return thresh - 2e-4


def _cosine_keep(thresh, exact):
    import numpy as np

    return exact >= thresh, np.round(exact, 4)


@query(
    "dedup_embedding_cosine",
    # dim filter in a CTE, not a WHERE conjunct: DuckDB may evaluate the
    # list_dot_product conjunct before the dim check on the same filter,
    # crashing on mismatched lengths (r13 ragged hardening)
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE embedding IS NOT NULL
        AND len(embedding) = (SELECT len(embedding) FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1 ORDER BY count(*) DESC, len(embedding) LIMIT 1)
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= {_COS_THRESH}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ 0.4 (cosine ≡ dot on the
    L2-normalized corpus). The same upper-triangle tiled matmul as
    sim_topk_pairs (llmops._triangle_pairs) but threshold-cut instead of
    top-k, so output size is data-dependent and exact.

    100 TB: swap the broadcast side for IVF buckets (sim_ann_ivf's layout)
    and run the identical block kernel per bucket. The broadcast side rides
    llmops._broadcast_side: pyarrow-direct (no collect job) and LOUDLY
    size-gated at ~1M vectors — past the gate the key refuses and points at
    the bucketed path rather than collecting unbounded data to the driver
    (round-1 verdict item 2).

    Kernel (r02, same select/refine split as sim_topk_pairs): one f32
    boolean pass finds candidates above thresh − 2e-4 (margin covers f32 dot
    error on unit vectors); exact f64 dots decide the REAL >= thresh cut on
    the small candidate set, so the published sims are full-precision."""
    from engine.llmops import _triangle_pairs

    return _triangle_pairs(
        spark,
        sf_dir,
        partial(_cosine_floor, _COS_THRESH),
        partial(_cosine_keep, _COS_THRESH),
    )


def ivf_assign(bc, nprobe: int, batches):
    """IVF build step: each vector of a (vec_id, embedding) batch, once per
    cluster of its top-nprobe broadcast centroids (bc: the (nlist, dim)
    centroid matrix) — multi-assigned postings, the standard IVF spill
    (single home-cluster postings measured recall ~0.64 on this corpus).
    Fewer centroids than nprobe (tiny corpus/shard): the probe width is
    whatever argsort produced, not the nominal nprobe."""
    import numpy as np
    import pandas as pd

    c = bc.value
    for pb in batches:
        v_ids = pb["vec_id"].to_numpy()
        mat = np.stack(pb["embedding"].to_numpy()).astype(np.float64)
        top = np.argsort(-(mat @ c.T), axis=1)[:, :nprobe]
        p = top.shape[1]
        rep = np.repeat(np.arange(len(v_ids)), p)
        yield pd.DataFrame(
            {
                "cluster": top.ravel().astype("int32"),
                "vec_id": np.repeat(v_ids, p),
                "embedding": [pb["embedding"].iloc[i] for i in rep],
            }
        )


def _cluster_topk(k: int, key, pdf):
    """One IVF cluster's top-k pairs (a_id < b_id) by rounded dot."""
    import numpy as np
    import pandas as pd

    v_ids = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    sims = np.round(mat @ mat.T, 4)
    ai, bi = np.nonzero(v_ids[:, None] < v_ids[None, :])
    s = sims[ai, bi]
    if len(s) > k:
        thresh = np.partition(s, len(s) - k)[len(s) - k]
        keep = s >= thresh
        ai, bi, s = ai[keep], bi[keep], s[keep]
    order = np.lexsort((v_ids[bi], v_ids[ai], -s))
    # keep boundary TIES past k: a same-sim pair cut here could out-rank a
    # kept pair on the global (sim desc, a_id, b_id) order — measure-zero
    # for real dots, routine for dup-group expansion.
    if len(order) > k:
        cutoff = s[order[k - 1]]
        order = order[s[order] >= cutoff]
    return pd.DataFrame(
        {"a_id": v_ids[ai][order], "b_id": v_ids[bi][order], "sim": s[order]}
    )


@query(
    "sim_ann_ivf",
    # FULL oracle (r04): centroid assignment is not SQL-expressible, but the
    # exact top-10 pair list is — and on this corpus the IVF path achieves
    # recall 1.0 deterministically (fixed centroid choice, fixed data;
    # verified at sf0.001 and sf0.01, recall floor separately unit-tested in
    # tests/test_simsearch.py). Comparing ANN output against the exact
    # answer turns any recall regression into a driver hash mismatch.
    oracle="""
    SELECT a_id, b_id, sim FROM (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL
        AND len(a.embedding) = (SELECT len(embedding) FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1 ORDER BY count(*) DESC, len(embedding) LIMIT 1)
        AND len(b.embedding) = (SELECT len(embedding) FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1 ORDER BY count(*) DESC, len(embedding) LIMIT 1)
    ) ORDER BY sim DESC, a_id, b_id LIMIT 10
    """,
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 similar pairs via IVF: nlist deterministic
    coarse centroids (the nlist lowest-vec_id vectors; nlist = max(8,
    sqrt(n/32)) from footer stats — the e17ddf2 recalibration, pinned by
    tests/test_adaptive_params.py), each vector assigned to its
    nprobe=3 nearest centroids, exact blocked search within each cluster,
    global top-k merge. Compare sim_topk_pairs for the exact answer;
    tests/test_simsearch.py pins the recall.

    100 TB: assignment = map-side matmul vs broadcast centroids (no shuffle),
    candidates = one shuffle on cluster_id, per-cluster search bounded by
    cluster size — replaces the O(n²) pair space with Σ_c |c|². With
    nlist ∝ √n the two stages balance (assignment n·nlist vs search
    Σ|c|² ≈ n²·nprobe²/nlist) at Θ(n^1.5) total — the optimal exponent
    for SINGLE-LEVEL IVF all-pair mining; the engine's near-linear ANN
    path is sim_ann_rp_lsh (bucket-capped, 25× exponent 0.33).

    Exact-dup collapse (engine.tables.clone_groups, members truncated to
    k+1): taken whenever embeddings duplicate; identical vectors pair at
    sim = ‖v‖² (engine.vecops.clone_topk)."""
    import math

    import numpy as np

    k = 10
    nprobe = 3
    # Coarse-quantizer size scales ~sqrt(n) (the comment below always
    # claimed it; implemented r06 after the 5× rehearsal measured exponent
    # 1.32 from the fixed nlist=8 — Σ_c |c|² is quadratic in n when the
    # cluster count stands still). nlist stays exactly 8 at every
    # driver/test SF (n=50/500 → the max() floor binds), so oracle results
    # and the pinned recall floor are unchanged; past that, cluster
    # population n·nprobe/nlist tracks sqrt(n), keeping per-cluster dense
    # blocks bounded. Footer-only count; non-parquet sources fall back to
    # the floor. Calibration: sqrt(n/32) releases the floor just past the
    # bench corpus (n=2000 -> 8, the measured-recall operating point;
    # 10k -> 18; 1M -> 177), so every tested SF keeps its exact plan and
    # growth pays the extra Python cluster-groups only when cluster sizes
    # would otherwise grow past ~750 postings.
    from engine.tables import all_rows_distinct, clone_groups, parquet_num_rows, vectors

    path = f"{sf_dir}/embeddings.parquet"
    _n = parquet_num_rows(path)
    emb = vectors(spark, sf_dir)
    if all_rows_distinct(spark, path, emb, "embedding"):
        grp, reps = None, emb
    else:
        grp = clone_groups(spark, emb, "vec_id", "embedding", "ivf_grp", keep=k + 1)
        reps = grp.select("vec_id", "embedding")
        # nlist sizes from the relation actually indexed (the reps); the
        # count doubles as grp's materialization for the later consumers.
        _n = grp.count()
    nlist = max(8, int(round(math.sqrt(_n / 32)))) if _n is not None else 8
    cents = (
        reps.orderBy("vec_id").limit(nlist).select("embedding").toPandas()
    )
    if len(cents) == 0:
        # empty corpus/shard: no centroids, no candidates, no pairs —
        # matches the oracle's empty pair list (r12 empty-corpus hardening)
        return spark.createDataFrame([], "a_id long, b_id long, sim double")
    c_mat = np.stack(cents["embedding"].to_numpy()).astype(np.float64)
    bc = spark.sparkContext.broadcast(c_mat)
    assigned = reps.mapInPandas(
        partial(ivf_assign, bc, nprobe),
        "cluster int, vec_id long, embedding array<float>",
    )
    # Shuffle into exactly n_centroids partitions keyed by cluster: the
    # downstream applyInPandas otherwise inherits spark.sql.shuffle.partitions
    # (32 locally) and fans a mostly-empty Python-worker task per partition —
    # measured 9.4 s cold / 0.75 s warm at sf0.1 from worker forks alone.
    # Partition count tracks the index layout (nlist grows ~sqrt(n) at scale),
    # so this stays right as the corpus grows.
    assigned = assigned.repartition(nlist, "cluster")
    per_cluster = assigned.groupBy("cluster").applyInPandas(
        partial(_cluster_topk, k), "a_id long, b_id long, sim double"
    )
    # a pair probed into two shared clusters appears twice — dedup, then
    # top-k. per_cluster is ≤ nlist×(k+ties) rows by construction, so
    # collapse to one partition instead of a 32-partition dedup shuffle
    # of ~80 rows.
    rep_pairs = per_cluster.coalesce(1).dropDuplicates(["a_id", "b_id"])
    if grp is None:  # dup-free: reps ≡ vectors, nothing to expand
        return rep_pairs.orderBy(F.col("sim").desc(), "a_id", "b_id").limit(k)
    from engine.vecops import clone_topk

    return clone_topk(rep_pairs, grp, k)
