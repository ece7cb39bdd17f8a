"""Embedding similarity search: every sim_* key and the pair kernel.

- the pair kernel: a blocked upper-triangle matmul against one broadcast
  side (the id-sorted corpus matrix at source precision, cached per
  worker process and gated at ~1M vectors). sim_topk_pairs cuts it to a
  top-k; engine.dedup's dedup_embedding_cosine cuts it at a threshold
  through triangle_pairs, the one entry point other modules call;
- probe-vector scoring with the JVM dot product: kNN, NDCG@5 evaluation
  and hybrid lexical+vector rank fusion;
- ANN: the IVF-bucketed search (ivf_assign and ivf_nlist are shared with
  the stored index in engine.pipeline) and random-hyperplane LSH, with the
  exact-dup collapse of both (clone_topk).

Scale notes (100 TB): broadcasting one full side stops scaling past ~1M
vectors. The IVF shape is the one that survives — assignment is a
map-side matmul against broadcast centroids, candidate generation becomes
a shuffle on cluster_id, and per-cluster exact search is a bounded
blocked matmul. Nothing is O(n²) in the corpus; the probe count trades
recall for cost. Embeddings are L2-normalized (FIXTURES) so cosine ≡ dot
everywhere.
"""

from __future__ import annotations

import math
import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from engine.registry import query
from engine.session import session_memo
from engine.tables import dot, load

# ---------------------------------------------------------------------------
# the broadcast side
# ---------------------------------------------------------------------------


_MAX_BROADCAST_VECTORS = 1_000_000  # float32 broadcast budget (~0.25 GB at dim 64)

# Worker-process cache of deserialized broadcast sides, keyed by the
# (file_identity, nrows) key _broadcast_side stamps. PySpark's
# worker re-registers each broadcast per TASK (a fresh Broadcast(path=…)
# whose pickle is re-loaded on .value), so with python-worker reuse every
# task of every collect() would re-pay the full matrix deserialization —
# a width-4 spread pays it 4× per run. A module-level
# dict lives in the reused worker process, so only the first task per
# worker per corpus loads the pickle; everything after is a dict hit.
# Bounded by BYTES, not entries: a corpus near the 1M-vector
# gate is ~0.25 GB as f32, so an entry-count cap could pin ~1 GB per reused
# worker for the application lifetime. FIFO-evict until the new entry fits.
_SIDE_CACHE: dict[tuple, tuple] = {}
_SIDE_CACHE_MAX_BYTES = 256 * 1024 * 1024


def _side_value(bc, key):
    """Worker-side accessor: cached (ids, matrix), loading bc.value only
    on the first task a worker process sees for this corpus."""
    if key is not None:
        hit = _SIDE_CACHE.get(key)
        if hit is not None:
            return hit
    val = bc.value
    if key is not None:
        nbytes = int(getattr(val[0], "nbytes", 0)) + int(
            getattr(val[1], "nbytes", 0)
        )
        if nbytes <= _SIDE_CACHE_MAX_BYTES:
            held = sum(
                int(getattr(v[0], "nbytes", 0)) + int(getattr(v[1], "nbytes", 0))
                for v in _SIDE_CACHE.values()
            )
            while _SIDE_CACHE and held + nbytes > _SIDE_CACHE_MAX_BYTES:
                old = _SIDE_CACHE.pop(next(iter(_SIDE_CACHE)))
                held -= int(getattr(old[0], "nbytes", 0)) + int(
                    getattr(old[1], "nbytes", 0)
                )
            _SIDE_CACHE[key] = val
    return val


def _side_broadcast(spark, sf_dir: str, emb) -> tuple:
    """(Broadcast[(ids, matrix)], side_key, side rows), kept in the session
    store per corpus path, the driver-side twin of the worker _SIDE_CACHE:
    a hit skips the parquet read and the re-publish (~15-20 ms warm at
    sf0.1). Its validity (file_identity, nrows) needs only a stat + footer,
    so a rewritten corpus replaces the path's one entry. The replaced handle
    is not destroy()ed: a running plan may still hold it, and Spark's
    ContextCleaner reclaims it on GC. Side rows (vectors left after the
    NULL/modal-dim filter) let kernels size their tasks. With no readable
    footer every call builds a fresh broadcast."""
    from engine.tables import file_identity, parquet_num_rows

    path = f"{sf_dir}/embeddings.parquet"
    n = parquet_num_rows(path)

    def build() -> tuple:
        b_ids, b_mat, side_key = _broadcast_side(spark, sf_dir, emb)
        return spark.sparkContext.broadcast((b_ids, b_mat)), side_key, len(b_ids)

    if n is None or n > _MAX_BROADCAST_VECTORS:
        return build()
    valid = (file_identity(path), int(n))
    return session_memo(spark, build, "side_bc", os.path.realpath(path), valid=valid)


def _check_side_size(n: int) -> None:
    """Past ~1M vectors a full-side broadcast is the scale-killer
    (SCALE.md invariant 1): refuse LOUDLY with a pointer at the bucketed
    IVF/LSH path instead of silently OOMing the driver."""
    if n > _MAX_BROADCAST_VECTORS:
        raise RuntimeError(
            f"embeddings has {n} vectors > broadcast budget "
            f"{_MAX_BROADCAST_VECTORS}; use the bucketed IVF/LSH path "
            "(engine.simsearch.sim_ann_ivf) for candidate generation"
        )


def _broadcast_side(spark, sf_dir: str, emb) -> tuple:
    """(ids, source-precision matrix, cache_key) for the broadcast side
    of blocked-matmul kernels.

    Source precision, not a fixed dtype: an array<float> column is
    shipped as f32 — halving the pickle the workers deserialize, with
    the refine stages upcasting candidate rows losslessly (f32→f64 is
    exact) — while an array<double> source stays f64 (narrowing it would
    quantize values and break bit-identity with the oracle's f64 dots).
    Every kernel consuming this side is dtype-agnostic (numpy upcasts at
    the refine gather). Rows are sorted by vec_id, so in the triangle
    kernels (triangle_pairs) position order matches a_id < b_id order
    and each tile only multiplies against columns from its own start
    onward. cache_key identifies the corpus bytes
    (file_identity, nrows) for the per-worker _SIDE_CACHE; None when the
    source isn't a stat-able path (toPandas fallback) — then every task
    loads bc.value.

    Direct pyarrow read of the shared-path parquet — the same bytes the
    executors scan — skips paying a Spark collect job; falls back to
    toPandas for sources pyarrow can't reach. Both paths pass the LOUD
    size gate (_check_side_size)."""
    import numpy as np

    path = f"{sf_dir}/embeddings.parquet"
    try:
        import pyarrow.parquet as pq

        from engine.tables import file_identity, parquet_num_rows

        n = parquet_num_rows(path)  # footer-only
        if n is None:
            raise ValueError("not footer-readable")  # -> toPandas fallback
        _check_side_size(n)
        t = pq.read_table(path, columns=["vec_id", "embedding"])
        # vector-family contract (engine.tables.vectors): NULL vectors are
        # dropped — flatten() silently skips null lists, so without this
        # the reshape misaligns ids against vectors — and WRONG-DIM
        # vectors (failed/partial inference) are excluded too (np reshape:
        # "all input arrays must have the same shape"):
        # the side matrix lives in the corpus's modal-dim subspace.
        t = t.drop_null()
        if t.num_rows:
            import pyarrow.compute as pc

            lens = pc.list_value_length(t.column("embedding"))
            modal = pc.mode(lens, n=1).to_pylist()[0]["mode"]
            t = t.filter(pc.equal(lens, modal))
        t = t.sort_by("vec_id")  # position order == id order (see docstring)
        b_ids = t.column("vec_id").to_numpy()
        flat = t.column("embedding").combine_chunks().flatten().to_numpy(
            zero_copy_only=False
        )
        # Ship the SOURCE precision: an array<float> column stays f32
        # (halves the pickle; f32→f64 upcast at refine is exact), but a
        # double source must NOT be narrowed — quantizing would break the
        # bit-identity contract with the oracle's f64 dots.
        dt = np.float32 if flat.dtype == np.float32 else np.float64
        # reshape(0, -1) is a numpy error; an empty side is a valid (0, 0)
        # matrix — the probe side then has no batches and the kernel
        # yields no rows.
        b_mat = (
            flat.astype(dt).reshape(len(b_ids), -1)
            if len(b_ids)
            else np.zeros((0, 0), dtype=dt)
        )
        key = (file_identity(path), int(n))
    except RuntimeError:
        raise
    except Exception:
        n = emb.count()
        _check_side_size(n)
        side = (
            emb.filter(F.col("embedding").isNotNull())
            .select("vec_id", "embedding")
            .toPandas()
        )
        if len(side):
            # ragged guard: keep only the modal dim, ties smaller —
            # same contract as the pyarrow fast path above
            lens = side["embedding"].map(len)
            side = side[lens == lens.mode().min()]
        side = side.sort_values("vec_id", kind="stable")
        b_ids = side["vec_id"].to_numpy()
        from pyspark.sql.types import FloatType

        elem = emb.schema["embedding"].dataType.elementType
        dt = np.float32 if isinstance(elem, FloatType) else np.float64
        b_mat = (
            np.stack(side["embedding"].to_numpy()).astype(dt)
            if len(side)
            else np.zeros((0, 0), dtype=dt)
        )
        key = None
    return b_ids, b_mat, key


# ---------------------------------------------------------------------------
# the upper-triangle pair kernel
# ---------------------------------------------------------------------------


# Task sizing for the upper-triangle pair kernels (triangle_pairs). A
# Python task has a fixed cost before its UDF runs. On a 4-vCPU host a
# pass-through mapInArrow that imports engine costs 0.085-0.090 s of
# process-tree CPU over 1 task and 0.175-0.200 s over 4, i.e. ~0.03 s per
# extra task (scripts/_probe_python_task_cost.py, get_spark's Unix-socket
# workers; ~0.2 s for code that never imports engine, docs/SCALE.md rule 2).
# The tiled triangle kernel scores ~100M pairs/s (n = 2000, dim 64: 2M
# pairs in 16-21 ms), so break-even is ~3M pairs. The constant stays at
# 16M: at sf0.1 (2M pairs) an interleaved A/B found width 2 about as fast
# as width 1 (60-67 vs 64-69 ms) but dearer in CPU (0.18-0.19 vs
# 0.13-0.15 s per run; width 4: 75-84 ms, 0.25-0.30 s).
_PAIRS_PER_TASK = 1 << 24
# Cells of one tile's similarity matrix: 4 MiB as f32 (8 MiB for an f64
# source). Not below _MAX_BROADCAST_VECTORS, so one full row always fits.
# Measured at n = 2000: 2^18..2^20 cells run the triangle in 28-42 ms,
# one 4M-cell tile (the full square) in 51-55 ms.
_TILE_CELLS = 1 << 20


def _pair_width(spark, n: int) -> int:
    """Tasks for the n(n-1)/2-pair triangle: one per _PAIRS_PER_TASK
    pairs, at least 1, at most defaultParallelism."""
    pairs = n * (n - 1) // 2
    return max(1, min(pairs // _PAIRS_PER_TASK, spark.sparkContext.defaultParallelism))


def _triangle_bounds(n: int, width: int) -> list[int]:
    """Row bounds [0, ..., n] cutting the strict upper triangle of an n x n
    pair matrix into width blocks of equal pair count (each within one
    row's pairs, n - 1, of n(n-1)/2/width). Row i holds n - 1 - i pairs."""
    import numpy as np

    rows = np.arange(n, dtype=np.int64)
    before = rows * (n - 1) - rows * (rows - 1) // 2  # pairs in rows < i
    total = n * (n - 1) // 2
    cuts = np.searchsorted(before, [total * b // width for b in range(1, width)])
    return [0, *(int(c) for c in cuts), n]


def triangle_pairs(spark, sf_dir: str, floor, keep, limit=None) -> DataFrame:
    """(a_id, b_id, sim) pairs, a_id < b_id, of the embedding vectors by a
    blocked upper-triangle matmul against the broadcast side.

    Blocks: spark.range(width) partitions, width = _pair_width (one task
    at the bench corpus); block b owns rows _triangle_bounds[b:b+2] of the
    id-sorted side matrix. Tiles: inside a block, rows are walked in tiles
    of at most _TILE_CELLS cells, each multiplied only against the columns
    from its own start onward, so below the diagonal only each tile's own
    diagonal square is computed (and masked). Per-task `sims` memory is
    bounded by _TILE_CELLS x 4 B (f32 source; 8 B for f64) whatever n is:
    a tile has at least one row, and the broadcast gate keeps a row
    (n <= _MAX_BROADCAST_VECTORS) within _TILE_CELLS.

    Per tile: f32 select (cells >= floor(2-D tile sims); masked cells
    are -inf), exact f64 refine of those candidates (the f32->f64 upcast
    is exact), then keep(exact) -> (mask, published sims). limit=k merges
    a block's tile results with the (-sim, a_id, b_id) lexsort and emits
    its first k; limit None emits every kept pair, tile by tile.

    floor and keep run on the worker, so they are module-level defs (or a
    functools.partial of one) like the kernel itself: all three pickle by
    reference and the worker imports them from the shipped engine."""
    from engine.tables import vectors

    emb = vectors(spark, sf_dir)
    # side_key lets reused workers skip re-deserializing the side per task
    bc, side_key, n = _side_broadcast(spark, sf_dir, emb)
    width = _pair_width(spark, n)
    bounds = _triangle_bounds(n, width)
    return spark.range(0, width, 1, width).mapInArrow(
        partial(_triangle_kernel, bc, side_key, bounds, _TILE_CELLS, floor, keep, limit),
        "a_id long, b_id long, sim double",
    )


def _pair_batch(a, b, v):
    import pyarrow as pa

    return pa.RecordBatch.from_pydict(
        {
            "a_id": pa.array(a, pa.int64()),
            "b_id": pa.array(b, pa.int64()),
            "sim": pa.array(v, pa.float64()),
        }
    )


def _triangle_kernel(bc, side_key, bounds, tile_cells, floor, keep, limit, batches):
    """Worker side of triangle_pairs: the tiles of each block id in
    ``batches``, against the per-process cached side (_side_value)."""
    import numpy as np

    ids, m = _side_value(bc, side_key)
    n = len(ids)
    for rb in batches:
        for blk in rb.column("id").to_pylist():
            parts = []
            s, hi = min(bounds[blk], n), min(bounds[blk + 1], n)
            while s < hi:
                e = min(hi, s + max(1, tile_cells // (n - s)))
                sims = m[s:e] @ m[s:].T
                # a_id < b_id. ids are sorted, so a_id >= b_id holds
                # only left of the end of the tile's last id run.
                w = int(np.searchsorted(ids, ids[e - 1], "right")) - s
                sims[:, :w][ids[s:e, None] >= ids[None, s : s + w]] = -np.inf
                ai, bi = np.unravel_index(np.flatnonzero(sims >= floor(sims)), sims.shape)
                ai, bi = ai + s, bi + s
                exact = np.einsum(
                    "ij,ij->i",
                    m[ai].astype(np.float64),
                    m[bi].astype(np.float64),
                )
                sel, vals = keep(exact)
                part = (ids[ai[sel]], ids[bi[sel]], vals[sel])
                if limit is None:
                    yield _pair_batch(*part)
                else:
                    parts.append(part)
                s = e
            if parts:
                a, b, v = (np.concatenate(c) for c in zip(*parts))
                order = np.lexsort((b, a, -v))[:limit]
                yield _pair_batch(a[order], b[order], v[order])


def _topk_floor(k: int, sims):
    """Candidate cut for one 2-D tile: its k-th largest row maximum minus
    a 2e-4 margin (the flat cells when the tile has fewer than k rows).
    The k largest row maxima are k distinct cells, so the cut is never
    above the tile's k-th largest cell: the candidates are a superset of
    a flat cut's and _topk_keep selects the same pairs. Partitioning one
    value per row instead of every cell is most of the kernel's saving."""
    import numpy as np

    lowest = np.finfo(sims.dtype).min  # excludes the -inf masked cells
    if sims.size <= k:
        return lowest
    top = sims.max(axis=1) if len(sims) >= k else sims.ravel()
    vk = np.partition(top, top.size - k)[top.size - k]
    return max(vk - 2e-4, lowest)


def _topk_keep(k: int, exact):
    import numpy as np

    vals = np.round(exact, 4)
    return _topk_mask(k, vals), vals


def _topk_mask(k: int, vals):
    """Mask of the values at or above the k-th largest, keeping every tie
    with it (all True for k values or fewer). The top-k cut of the three
    pair kernels: the triangle tiles, the rp-LSH batches and the IVF
    clusters."""
    import numpy as np

    if len(vals) <= k:
        return np.ones(len(vals), bool)
    return vals >= np.partition(vals, len(vals) - k)[len(vals) - k]


@query(
    "sim_topk_pairs",
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
def sim_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most-similar embedding pairs by cosine (≡ dot, vectors are
    L2-normalized). Upper-triangle tiled matmul against the broadcast side
    (triangle_pairs): one Python task at the bench corpus, each tile keeps
    its top-k (ties at the k-th rounded sim all kept), each block emits
    ≤ k rows, and a global top-k merges them. ~60× faster than evaluating
    the dot as a per-pair higher-order function.

    Rounded sim IS the sort key (with id tie-breaks) so the top-10 cut is
    identical across engines.

    Kernel shape: SELECT in float32, REFINE in float64. The f32 matmul
    + a partition of the tile's row maxima finds a candidate superset (k-th
    largest row maximum minus a 2e-4 margin — covering the 5e-5
    rounding-tie window plus f32 dot error ~1e-6 on unit vectors;
    _topk_floor); exact f64 dots + rounding run only on those few
    candidates. I/O is mapInArrow (zero pandas materialization on either
    side of the Python boundary).

    100 TB: broadcasting one full side stops scaling past ~1M vectors; the
    same per-block kernel then runs over LSH/IVF candidate buckets instead
    (engine.simsearch), keeping this exact path as the per-bucket inner loop.
    """
    k = 10
    out = triangle_pairs(
        spark, sf_dir, partial(_topk_floor, k), partial(_topk_keep, k), limit=k
    )
    return out.orderBy(F.col("sim").desc(), "a_id", "b_id").limit(k)


# ---------------------------------------------------------------------------
# probe-vector scoring
# ---------------------------------------------------------------------------


@query(
    "sim_knn_query",
    oracle="""
    WITH v AS MATERIALIZED (
      SELECT vec_id, label, embedding FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = (SELECT len(embedding) FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1 ORDER BY count(*) DESC, len(embedding) LIMIT 1)
    )
    SELECT vec_id, label, sim FROM (
      SELECT e.vec_id, e.label,
             round(list_dot_product(e.embedding::DOUBLE[], p.embedding::DOUBLE[]), 4) AS sim
      FROM v e, (SELECT embedding FROM v WHERE vec_id = 0) p
      WHERE e.vec_id <> 0
    ) ORDER BY sim DESC, vec_id LIMIT 10
    """,
)
def sim_knn_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN of one probe vector (vec_id=0): broadcast the single probe row,
    JVM-side dot, top-k heap. The probe side is O(1) — this shape scales to
    any corpus size with zero shuffle (scan + local top-k + driver merge)."""
    from engine.tables import vectors

    emb = vectors(spark, sf_dir)
    probe = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("probe_emb"))
    return (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probe))
        .select(
            "vec_id",
            "label",
            F.round(dot("embedding", "probe_emb"), 4).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(10)
    )


_NDCG_QUERIES = [0, 50, 100, 150, 200]


@query(
    "sim_eval_ndcg",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding, label FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = (SELECT len(embedding) FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1 ORDER BY count(*) DESC, len(embedding) LIMIT 1)
    ),
    q AS (
      SELECT vec_id AS query_id, embedding, label FROM v
      WHERE vec_id IN ({", ".join(str(i) for i in _NDCG_QUERIES)})
    ),
    ranked AS (
      SELECT q.query_id, q.label AS q_label, e.label AS n_label,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY list_dot_product(q.embedding::DOUBLE[],
                                         e.embedding::DOUBLE[]) DESC,
                        e.vec_id) AS rnk
      FROM q JOIN v e ON e.vec_id != q.query_id
    ),
    top5 AS (SELECT * FROM ranked WHERE rnk <= 5),
    dcg AS (
      SELECT query_id,
             sum(CASE WHEN n_label = q_label THEN 1.0 ELSE 0.0 END
                 / log2(rnk + 1)) AS dcg,
             sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END) AS n_rel
      FROM top5 GROUP BY query_id
    ),
    ideal AS (
      SELECT query_id, sum(1.0 / log2(k + 1)) AS idcg
      FROM dcg, UNNEST(range(1, 6)) AS t(k)
      WHERE k <= greatest(n_rel, 1)
      GROUP BY query_id
    )
    SELECT d.query_id,
           CAST(d.n_rel AS BIGINT) AS n_relevant,
           round(CASE WHEN d.n_rel = 0 THEN 0.0 ELSE d.dcg / i.idcg END, 4)
             AS ndcg5
    FROM dcg d JOIN ideal i ON i.query_id = d.query_id
    """,
)
def sim_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 for the standard ANN query set: neighbors ranked by exact
    cosine (sim tie-broken by vec_id), binary relevance = the neighbor
    shares the query's cluster label, DCG discounted by log2(rank+1) and
    normalized by the ideal ordering of the relevant items actually
    retrieved. The ranking-quality readout every retrieval deployment
    tracks next to recall (sim_ann_* keys) — recall says WHETHER the
    right items surfaced, NDCG says how HIGH.

    Plan: the query side is 5 rows (broadcast); scoring is one pass over
    the corpus per the brute-force contract (sim_knn_query's shape), the
    metric itself runs over 25 ranked rows. 100 TB: swap the scorer for
    the stored-index serve path (pipeline_ann_index_build) and the
    metric stage is unchanged — eval math never touches corpus scale."""
    from engine.tables import vectors

    emb = vectors(spark, sf_dir)
    q = emb.filter(F.col("vec_id").isin(_NDCG_QUERIES)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    scored = emb.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "q_label",
        F.col("label").alias("n_label"),
        dot("q_emb", "embedding").alias("sim"),
        "vec_id",
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "vec_id")
    top5 = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 5
    )
    rel = F.when(F.col("n_label") == F.col("q_label"), 1.0).otherwise(0.0)
    dcg = top5.groupBy("query_id").agg(
        F.sum(rel / F.log2(F.col("rnk") + 1)).alias("dcg"),
        F.sum(rel).cast("long").alias("n_rel"),
    )
    ks = spark.range(1, 6).select(F.col("id").alias("k"))
    ideal = (
        dcg.join(F.broadcast(ks), F.col("k") <= F.greatest("n_rel", F.lit(1)))
        .groupBy("query_id")
        .agg(F.sum(1.0 / F.log2(F.col("k") + 1)).alias("idcg"))
    )
    return dcg.join(ideal, "query_id").select(
        "query_id",
        F.col("n_rel").alias("n_relevant"),
        F.round(
            F.when(F.col("n_rel") == 0, 0.0).otherwise(
                F.col("dcg") / F.col("idcg")
            ),
            4,
        ).alias("ndcg5"),
    )


@query(
    "sim_hybrid_rrf_fusion",
    oracle="""
    WITH lex AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '),
                             x -> x = 'table' OR x = 'join' OR x = 'spark'))
               AS tf
      FROM documents
    ),
    lexrank AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY tf DESC, doc_id) AS r_lex
      FROM lex WHERE tf > 0
    ),
    vv AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = (SELECT len(embedding) FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1 ORDER BY count(*) DESC, len(embedding) LIMIT 1)
    ),
    vec AS (
      SELECT e.vec_id AS doc_id,
             round(list_dot_product(e.embedding::DOUBLE[],
                                    p.embedding::DOUBLE[]), 4) AS sim
      FROM vv e, (SELECT embedding FROM vv WHERE vec_id = 0) p
      WHERE e.vec_id <> 0
    ),
    vecrank AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY sim DESC, doc_id) AS r_vec
      FROM vec
    ),
    fused AS (
      SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
             l.r_lex, v.r_vec,
             round(coalesce(1.0 / (60 + l.r_lex), 0.0)
                   + coalesce(1.0 / (60 + v.r_vec), 0.0), 6) AS rrf
      FROM lexrank l FULL OUTER JOIN vecrank v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, r_lex, r_vec, rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
    """,
)
def sim_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion: a lexical list (term
    frequency of the fixed query {table, join, spark}) and a vector list
    (dot-product similarity to the probe vec_id=0, the 1:1 doc↔vec
    alignment of the corpus) are fused with RRF(k=60) — the
    score-scale-free combination every hybrid RAG stack uses. Docs present
    in only one list keep the other contribution at 0 (full outer join).

    Plan: the lexical side is a zero-shuffle scan + one global top-rank
    window over the tf>0 survivors (bounded by query selectivity); the
    vector side is the O(1)-probe broadcast pattern of sim_knn_query; the
    fusion joins two rank lists — both already tiny next to the corpus.
    At 100 TB each list would come from its own index (LSH/IVF for
    vectors, inverted index for terms) and the fusion stage is unchanged:
    RRF only needs ranks, never raw scores."""
    from engine.tables import vectors

    d = load(spark, sf_dir, "documents")
    emb = vectors(spark, sf_dir)
    qterms = F.expr(
        "size(filter(split(text, ' '), x -> x = 'table' OR x = 'join' OR x = 'spark'))"
    )
    lex = d.select("doc_id", qterms.alias("tf")).filter(F.col("tf") > 0)
    lexrank = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("tf").desc(), "doc_id"))
        .alias("r_lex"),
    )
    probe = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("probe_emb")
    )
    vec = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probe))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(dot("embedding", "probe_emb"), 4).alias("sim"),
        )
    )
    vecrank = vec.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("sim").desc(), "doc_id"))
        .alias("r_vec"),
    )
    fused = (
        lexrank.join(vecrank, "doc_id", "full_outer")
        .select(
            "doc_id",
            "r_lex",
            "r_vec",
            F.round(
                F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("r_vec")), F.lit(0.0)),
                6,
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(20)


# ---------------------------------------------------------------------------
# approximate nearest neighbors
# ---------------------------------------------------------------------------


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
    keep = _topk_mask(k, s)
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


def ivf_nlist(_n: int | None) -> int:
    """IVF coarse-quantizer size for an ``_n``-row corpus (None: no footer
    count, the floor). It scales ~sqrt(n): a fixed nlist=8 measured scaling
    exponent 1.32 in the 5× rehearsal — Σ_c |c|² is quadratic in n when the
    cluster count stands still. nlist stays exactly 8 at every driver/test
    SF (n=50/500 → the max() floor binds), so oracle results and the
    pinned recall floor are unchanged; past that, cluster population
    n·nprobe/nlist tracks sqrt(n), keeping per-cluster dense blocks
    bounded. Calibration: sqrt(n/32) releases the floor just past the
    bench corpus (n=2000 -> 8, the measured-recall operating point; 10k ->
    18; 1M -> 177), so every tested SF keeps its exact plan and growth pays
    the extra Python cluster-groups only when cluster sizes would otherwise
    grow past ~750 postings. sim_ann_ivf and pipeline_ann_index_build both
    size their index with it."""
    return max(8, int(round(math.sqrt(_n / 32)))) if _n is not None else 8


@query(
    "sim_ann_ivf",
    # FULL oracle: centroid assignment is not SQL-expressible, but the
    # exact top-10 pair list is — and on this corpus the IVF path achieves
    # recall 1.0 deterministically (fixed centroid choice, fixed data;
    # verified at sf0.001 and sf0.01, recall floor separately unit-tested in
    # tests/test_trainops.py). Comparing ANN output against the exact
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
    sqrt(n/32)) from footer stats, pinned by
    tests/test_adaptive_params.py), each vector assigned to its
    nprobe=3 nearest centroids, exact blocked search within each cluster,
    global top-k merge. Compare sim_topk_pairs for the exact answer;
    tests/test_trainops.py::test_ann_ivf_recall pins the recall.

    100 TB: assignment = map-side matmul vs broadcast centroids (no shuffle),
    candidates = one shuffle on cluster_id, per-cluster search bounded by
    cluster size — replaces the O(n²) pair space with Σ_c |c|². With
    nlist ∝ √n the two stages balance (assignment n·nlist vs search
    Σ|c|² ≈ n²·nprobe²/nlist) at Θ(n^1.5) total — the optimal exponent
    for SINGLE-LEVEL IVF all-pair mining; the engine's near-linear ANN
    path is sim_ann_rp_lsh (bucket-capped, 25× exponent 0.33).

    Exact-dup collapse (engine.tables.clone_groups, members truncated to
    k+1): taken whenever embeddings duplicate; identical vectors pair at
    sim = ‖v‖² (clone_topk)."""
    import numpy as np

    k = 10
    nprobe = 3
    # Footer-only count; non-parquet sources fall back to the nlist floor.
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
    nlist = ivf_nlist(_n)
    cents = (
        reps.orderBy("vec_id").limit(nlist).select("embedding").toPandas()
    )
    if len(cents) == 0:
        # empty corpus/shard: no centroids, no candidates, no pairs —
        # matches the oracle's empty pair list
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
    return clone_topk(rep_pairs, grp, k)


def _rp_signatures(bc, n_tables: int, bits: int, bucket_cap: int, batches):
    """(bucket, vec_id) rows of a (vec_id, embedding) batch: per table, the
    home bucket of the bits-wide hyperplane signature (bc: the
    (n_tables*bits, dim) planes) and every 1-bit-flip neighbor
    (multi-probe)."""
    import numpy as np
    import pandas as pd

    pl = bc.value
    weights = 1 << np.arange(bits)
    for pb in batches:
        v_ids = pb["vec_id"].to_numpy()
        if len(v_ids) == 0:
            continue
        mat = np.stack(pb["embedding"].to_numpy()).astype(np.float64)
        allbits = (mat @ pl.T) > 0  # (n, L*b)
        bucket_list = []
        for t in range(n_tables):
            sig = allbits[:, t * bits : (t + 1) * bits].astype(np.int64) @ weights
            home = (t << bits) | sig
            bucket_list.append(home)
            for b in range(bits):
                bucket_list.append(home ^ (1 << b))
        buckets = np.concatenate(bucket_list)
        ids = np.tile(v_ids, n_tables * (bits + 1))
        # Per-batch pre-cap: keep at most bucket_cap+1 members of any
        # bucket from this batch. Decision-preserving: if a bucket's
        # TRUE total is <= cap no batch ever trims it (collected size
        # = true size); if the total exceeds the cap the collected
        # size still reaches >= cap+1 (either some batch trimmed, or
        # none did and the full total arrives), so the downstream size
        # filter drops it either way. This bounds the collect_list
        # group for a degenerate bucket (identical vectors) to
        # #batches*(cap+1) ids instead of |bucket|.
        order = np.argsort(buckets, kind="stable")
        sb = buckets[order]
        run_start = np.where(
            np.concatenate(([True], sb[1:] != sb[:-1])), np.arange(len(sb)), 0
        )
        cumcount = np.arange(len(sb)) - np.maximum.accumulate(run_start)
        keep = order[cumcount <= bucket_cap]
        yield pd.DataFrame({"bucket": buckets[keep], "vec_id": ids[keep]})


def _rp_pair_sims(bc_side, side_key, k: int, batches):
    """Exact rounded dots of (a_id, b_id) candidate batches against the
    per-process cached broadcast side (_side_value), pruned to the
    batch's top-k (ties kept)."""
    import numpy as np

    ids, m = _side_value(bc_side, side_key)
    order = np.argsort(ids)
    sids = ids[order]
    for rb in batches:
        a = rb.column("a_id").to_numpy(zero_copy_only=False)
        if len(a) == 0:
            continue
        b = rb.column("b_id").to_numpy(zero_copy_only=False)
        # Membership guard: if candidate ids ever diverge from the
        # broadcast side (filtered load, corpus change), searchsorted
        # would silently gather a wrong row — fail loudly instead.
        pa_idx = np.searchsorted(sids, a).clip(max=len(sids) - 1)
        pb_idx = np.searchsorted(sids, b).clip(max=len(sids) - 1)
        if not ((sids[pa_idx] == a).all() and (sids[pb_idx] == b).all()):
            raise ValueError(
                "sim_ann_rp_lsh: candidate vec_id absent from the "
                "broadcast embedding matrix"
            )
        ia = order[pa_idx]
        ib = order[pb_idx]
        # f32→f64 upcast is exact (source column is array<float>)
        s = np.round(
            np.einsum("ij,ij->i", m[ia].astype(np.float64), m[ib].astype(np.float64)),
            4,
        )
        keep = _topk_mask(k, s)  # per-batch prune: ≤k rows (+ ties) reach the sort
        a, b, s = a[keep], b[keep], s[keep]
        yield _pair_batch(a, b, s)


@query(
    "sim_ann_rp_lsh",
    # FULL oracle: signature bucketing is not SQL-expressible, but the
    # exact top-10 pair list is — and the L=16 multi-probe configuration
    # achieves recall 1.0 on this corpus deterministically (fixed PCG64
    # hyperplanes, fixed data; verified at sf0.001 and sf0.01; the ≥0.8
    # recall floor stays unit-tested in tests/test_vecops.py). A recall
    # regression now surfaces as a driver hash mismatch.
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
def sim_ann_rp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 similar pairs via random-hyperplane LSH (SimHash
    for cosine): L=16 independent tables of b=8-bit signatures from
    deterministic pseudo-random hyperplanes, candidates = exact search
    within each (table, signature) bucket plus 1-bit-flip multi-probe
    neighbors, global top-k merge. The (L, b) operating point is set by the
    corpus's similarity regime: the exact top pairs here sit near cosine
    0.5 (bit-agreement p ≈ 0.67), where a single table is hopeless
    (p^12 ≈ 0.008 — measured recall 0.2) but 16 tables with multi-probe
    reach ≈ 1-(1-0.20)^16 ≈ 0.97 predicted; tests/test_vecops.py pins
    ≥ 0.8 at both SFs. Complements sim_ann_ivf: no training pass (no
    centroid job), tunable recall without re-clustering, at ~L× the
    candidate cost — the classic LSH-vs-IVF trade.

    100 TB: signatures are ONE map-side matmul vs a broadcast (L*b x dim)
    matrix; multi-probe multiplies rows by L*(1 + b) BEFORE the single
    shuffle on bucket id; per-bucket work is bounded by the frequency cap —
    Σ_b min(|b|, cap)² replaces the O(n²) pair space, the same contract as
    IVF and the minhash band join. b scales with log2(n) to hold bucket
    sizes constant as the corpus grows.

    Plan (9.9 s → ~1.5 s at sf0.1 against shipping vectors): the signature
    explosion ships (bucket, vec_id) int64 pairs ONLY — replicating each
    64-float embedding L*(1+b)=144× through the shuffle and re-stacking it
    in ~36k tiny pandas groups is pure Arrow/pandas overhead. Candidate
    pairs come from one grouped pass on bucket (the minhash band kernel's
    shape).

    The exact-verify stage has TWO paths chosen by a footer-only row count
    against the broadcast budget, so it has no scale ceiling. Small corpus
    (≤1M vectors): a gather+einsum against the broadcast matrix — fastest
    at bench scale. Large corpus: the (a_id, b_id) candidates join back to the
    embeddings table twice on vec_id (plain hash joins — Spark broadcasts
    the emb side while it is small and switches to sort-merge beyond that)
    and the dot product folds JVM-side (zip_with + aggregate). The key
    therefore REFUSES NOTHING at any size: past the budget it degrades to
    the join shape instead of raising, candidate volume stays bounded by
    the bucket cap (Σ_b min(|b|,cap)²), and the final top-10 is a
    TakeOrdered. tests/test_vecops.py proves the no-broadcast path by
    forcing the gate to 0 vectors and re-checking recall.

    Exact-dup collapse (engine.tables.clone_groups, members truncated to
    k+1): taken whenever embeddings duplicate; identical vectors pair at
    sim = ‖v‖²."""
    import numpy as np

    from engine.tables import all_rows_distinct, clone_groups, parquet_num_rows, vectors

    k, n_tables = 10, 16
    bucket_cap = 256  # non-discriminative-bucket guard, as in dedup_near_minhash
    path = f"{sf_dir}/embeddings.parquet"
    # Footer-only row count: feeds the verify-path broadcast-budget gate.
    _n_vec = parquet_num_rows(path)
    emb = vectors(spark, sf_dir)
    head = emb.select("embedding").first()
    if head is None:
        # empty corpus/shard: no hyperplanes to draw, no pairs — matches
        # the oracle's empty pair list
        return spark.createDataFrame([], "a_id long, b_id long, sim double")
    dim = len(head[0])
    if all_rows_distinct(spark, path, emb, "embedding"):
        g = None
    else:
        # five consumers read g: rep count, signature pass, expansion
        g = clone_groups(spark, emb, "vec_id", "embedding", "rp_lsh_grp", keep=k + 1)
    # Signature width scales with log2(n_reps): a fixed b=8 saturates its
    # 4096-bucket space (~70 members/bucket at n=2000), so growing n 5×
    # produced 11.7M candidate pairs and a 1.88 scaling exponent in the 5×
    # rehearsal.
    # b = max(8, ceil(log2(n/8))) holds home-bucket occupancy ~constant
    # (n / 2^b ≈ 8 per table), so candidate volume stays ~linear in n.
    # n is the REPRESENTATIVE count (the relation being hashed —
    # sizing from raw rows would over-widen b on dup-heavy corpora and
    # cost recall); the count doubles as g's materialization, so later
    # consumers hit cache. Dup-free corpora (every driver/test SF) give
    # n_reps == footer rows — oracle results and the pinned recall
    # floors are unchanged.
    n_reps = g.count() if g is not None else _n_vec
    bits = max(8, int(np.ceil(np.log2(max(n_reps / 8, 2)))))
    # Gaussian hyperplanes (the textbook RP-LSH construction — uniform
    # multiplicative-hash noise left rows linearly correlated and cost ~0.1
    # measured recall), seeded PCG64 so every run/executor derives the
    # identical (L*b, dim) matrix — one matmul covers all tables' signatures.
    planes = np.random.default_rng(42).standard_normal((n_tables * bits, dim))
    bc = spark.sparkContext.broadcast(planes)

    from engine.textops import spread_cpu

    src = g.select("vec_id", "embedding") if g is not None else emb.select(
        "vec_id", "embedding"
    )
    sigs = spread_cpu(src, width=8).mapInPandas(
        partial(_rp_signatures, bc, n_tables, bits, bucket_cap),
        "bucket long, vec_id long",
    )
    # Candidate generation in ONE shuffle of the signature explosion:
    # groupBy(bucket) -> collect_list, drop oversized buckets by array
    # size (the non-discriminative-bucket guard — same semantics as a
    # window count thanks to the decision-preserving per-batch pre-cap in
    # the generator above, which also bounds the collected group for a
    # degenerate bucket), then emit pairs with a double explode. A window
    # count for the cap plus a bucket self-equi-join shuffles the
    # L*(1+b)*n rows AND sorts them for the window; this shape does the
    # same Σ_b min(|b|,cap)² pair work with no sort and no join (quiet
    # host: 2.15 s -> ~1.8 s at sf0.1).
    cand = (
        sigs.groupBy("bucket")
        .agg(F.collect_list("vec_id").alias("ids"))
        .filter(F.size("ids") <= bucket_cap)
        .select(F.explode("ids").alias("a_id"), F.col("ids"))
        .select("a_id", F.explode("ids").alias("b_id"))
        .filter(F.col("a_id") < F.col("b_id"))
        .distinct()
    )

    # Path choice: footer-only row count vs the broadcast budget (a module
    # global read at call time, so tests can force the scale path); the
    # count itself was already read above for the signature-width choice.
    n_vec = _n_vec  # None for non-parquet: can't prove it's small — join path

    if n_vec is not None and n_vec <= _MAX_BROADCAST_VECTORS:
        # Small-corpus fast path: one gather+einsum per Arrow batch against
        # the broadcast float32 matrix (reusing sim_topk_pairs' side; f32 is
        # the parquet source precision, upcast to f64 at the gather).
        bc_side, side_key, _ = _side_broadcast(spark, sf_dir, emb)

        res = cand.mapInArrow(
            partial(_rp_pair_sims, bc_side, side_key, k),
            "a_id long, b_id long, sim double",
        )
    else:
        # Scale path (no ceiling): embeddings join onto the candidate pairs
        # (two hash joins keyed on vec_id), dot product folded JVM-side.
        ea = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"))
        eb = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb"))
        res = (
            cand.join(ea, "a_id")
            .join(eb, "b_id")
            # bround (half-even) to match np.round on the broadcast path
            # and clone_topk's ‖v‖² — one rounding mode for
            # every sim this operator emits. (Real dot products never
            # land on an exact 4-decimal tie, which is also why either
            # mode agrees with the DuckDB oracle's half-up round; the
            # consistency matters for the dup-collapse exactness tests.)
            .select("a_id", "b_id", F.bround(dot("ea", "eb"), 4).alias("sim"))
        )
    if g is None:  # dup-free: reps ≡ vectors, nothing to expand
        return res.orderBy(F.col("sim").desc(), "a_id", "b_id").limit(k)
    return clone_topk(res, g, k)


def clone_topk(rep_pairs: DataFrame, grp: DataFrame, k: int) -> DataFrame:
    """The top-k member pairs of an ANN key's clone corpus: its top-k rep
    pairs expanded over ``grp`` (clone_groups with keep=k+1), with each
    group's own pairs at sim = ‖v‖², the dot of identical vectors.

    bround (half-even), not round (half-up): the kernels' cross sims come
    from np.round, which is half-even, so a ‖v‖² landing exactly on a
    0.00005 boundary rounds the same way as a cross sim of that value
    (measure-zero for real dots; the exactness tests pin full equality
    against a numpy reference)."""
    from engine.tables import expand_clone_pairs

    normsq = F.bround(dot("embedding", "embedding"), 4)
    return (
        expand_clone_pairs(rep_pairs, grp, "sim", normsq)
        .orderBy(F.col("sim").desc(), "a_id", "b_id")
        .limit(k)
    )
