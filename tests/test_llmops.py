"""LLM-pipeline operator tests beyond the oracle harness (SURVEY §5.4).

The FULL-oracle §2.I keys are covered by tests/test_vs_duckdb.py; here we
check the properties the oracle can't: MinHash-LSH recall vs exact Jaccard,
determinism of the LSH pipeline, and similarity-math invariants.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR


def _exact_jaccard_pairs(spark, sf_dir: str, threshold: float):
    """Ground truth: exact Jaccard over 5-char shingle sets, distance <= t."""
    from engine.tables import load

    d = load(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(1, greatest(length(text) - 4, 1)),"
                " i -> substring(text, i, 5))"
            )
        ).alias("sh"),
    )
    a = sh.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", (1 - inter / union).alias("dist"))
        .filter(F.col("dist") <= threshold)
    )


def test_minhash_recall_vs_exact(spark):
    """LSH candidate set must recover >=80% of true near-dup pairs at d<=0.6
    and every planted 40-char-prefix pair group must be represented."""
    from engine.registry import collect

    queries, _ = collect()
    lsh = {
        (r.a_id, r.b_id)
        for r in queries["dedup_near_minhash"](spark, SF_DIR).collect()
    }
    exact = {
        (r.a_id, r.b_id)
        for r in _exact_jaccard_pairs(spark, SF_DIR, 0.6).collect()
    }
    assert exact, "corpus should contain planted near-dups"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall:.2f} < 0.8 ({len(exact)} true pairs)"


def test_minhash_deterministic(spark):
    """Fixed seed => identical pair set across runs."""
    from engine.registry import collect

    queries, _ = collect()
    r1 = [tuple(r) for r in queries["dedup_near_minhash"](spark, SF_DIR).collect()]
    r2 = [tuple(r) for r in queries["dedup_near_minhash"](spark, SF_DIR).collect()]
    assert r1 == r2


def test_cosine_self_similarity(spark):
    """Embeddings are L2-normalized: self-dot == 1 +/- 1e-3."""
    from engine.llmops import _dot
    from engine.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    bad = (
        emb.select(_dot(F.col("embedding"), F.col("embedding")).alias("s"))
        .filter((F.col("s") < 0.999) | (F.col("s") > 1.001))
        .count()
    )
    assert bad == 0


def test_dedup_exact_idempotent(spark):
    """dedup(dedup(x)) == dedup(x): survivors have unique keys."""
    from engine.registry import collect

    queries, _ = collect()
    out = queries["dedup_exact"](spark, SF_DIR)
    n = out.count()
    assert out.select("prefix40").distinct().count() == n


def test_side_broadcast_cached_per_session_corpus(spark, tmp_path):
    """_side_broadcast returns the SAME Broadcast handle for repeated calls
    on an unchanged corpus (the driver-side session store entry), and a NEW
    handle when the corpus bytes change (mtime/nrows key miss) — a stale hit
    would serve old vectors to every blocked-matmul kernel."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from engine.llmops import _side_broadcast
    from engine.session import _STORE
    from engine.tables import load

    emb = load(spark, SF_DIR, "embeddings")
    bc1, key1, _ = _side_broadcast(spark, SF_DIR, emb)
    bc2, key2, _ = _side_broadcast(spark, SF_DIR, emb)
    assert key1 is not None and key1 == key2
    assert bc1 is bc2  # hit: no re-publish

    # Rewritten corpus (copy → different path+mtime) must miss.
    alt = tmp_path / "alt_sf"
    alt.mkdir()
    shutil.copy2(f"{SF_DIR}/embeddings.parquet", alt / "embeddings.parquet")
    emb_alt = spark.read.parquet(str(alt / "embeddings.parquet"))
    bc3, key3, _ = _side_broadcast(spark, str(alt), emb_alt)
    assert key3 != key1
    assert bc3 is not bc1
    # cached value matches the on-disk side row count
    ids, mat = bc1.value
    assert len(ids) == emb.count() and mat.dtype.name == "float32"

    # Rewritten in place (same path, bumped mtime, fewer rows): a new
    # handle with the new rows replaces the path's one store entry.
    path = alt / "embeddings.parquet"
    old = pq.read_table(path)
    mtime = os.stat(path).st_mtime_ns
    pq.write_table(old.slice(0, old.num_rows // 2), path)
    os.utime(path, ns=(mtime + 10**9, mtime + 10**9))
    bc4, key4, _ = _side_broadcast(spark, str(alt), emb_alt)
    assert key4 != key3 and bc4 is not bc3
    assert len(bc4.value[0]) == old.num_rows // 2
    entries = [k for k in _STORE if k[1:] == ("side_bc", os.path.realpath(path))]
    assert len(entries) == 1


def test_broadcast_side_keeps_double_source_precision(spark, tmp_path):
    """r11 review fix: an array<double> embeddings source must NOT be
    narrowed to f32 by _broadcast_side (quantizing would break the
    bit-identity contract with the oracle's f64 dots); an array<float>
    source ships as f32 (exact upcast at refine). Checked through the
    pyarrow-direct path on a double-written copy of the corpus."""
    from pyspark.sql import functions as F

    from engine.llmops import _broadcast_side
    from engine.tables import load

    base = load(spark, SF_DIR, "embeddings")
    alt = tmp_path / "dbl"
    alt.mkdir()
    base.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"), "label"
    ).coalesce(1).write.parquet(str(alt / "embeddings.parquet"))
    # Spark writes a DIRECTORY; _broadcast_side stats the path either way.
    emb_dbl = spark.read.parquet(str(alt / "embeddings.parquet"))
    ids_d, mat_d, _ = _broadcast_side(spark, str(alt), emb_dbl)
    assert mat_d.dtype.name == "float64", mat_d.dtype

    ids_f, mat_f, _ = _broadcast_side(spark, SF_DIR, base)
    assert mat_f.dtype.name == "float32", mat_f.dtype
    # same values modulo representation
    import numpy as np

    a = mat_f[np.argsort(ids_f)].astype(np.float64)
    b = mat_d[np.argsort(ids_d)]
    assert np.array_equal(a, b)


# ---------------------------------------------------------------------------
# upper-triangle pair kernel (_triangle_pairs): task sizing, block bounds,
# tiling exactness
# ---------------------------------------------------------------------------


def _write_embeddings(out, ids, mat, order=None):
    """embeddings.parquet in FIXTURES shape (vec_id, array<float>, label),
    rows written in `order` (default: as given)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    order = np.arange(len(ids)) if order is None else order
    out.mkdir(exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.asarray(ids)[order], pa.int64()),
                "embedding": pa.array(
                    [r.tolist() for r in mat[order]], pa.list_(pa.float32())
                ),
                "label": pa.array(np.zeros(len(ids)), pa.int32()),
            }
        ),
        str(out / "embeddings.parquet"),
    )
    return str(out)


def _unit_rows(rng, n, dim):
    import numpy as np

    m = rng.standard_normal((n, dim)).astype(np.float32)
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def test_sim_topk_pairs_one_task_at_bench_size(spark, tmp_path):
    """n = 2000 (the bench corpus) is 2M pairs, below _PAIRS_PER_TASK: the
    kernel runs as ONE Python task — each extra task costs more fixed
    worker time than its share of the matmul."""
    import numpy as np

    from engine.registry import collect

    sf = _write_embeddings(
        tmp_path / "n2000", np.arange(2000), _unit_rows(np.random.default_rng(0), 2000, 8)
    )
    queries, _ = collect()
    plan = (
        queries["sim_topk_pairs"](spark, sf)._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInArrow" in plan, plan
    assert "Range (0, 1, step=1, splits=1)" in plan, plan
    assert plan.index("MapInArrow") < plan.index("Range (0, 1,"), plan


@pytest.mark.parametrize("n", [0, 1, 2, 3, 10, 97, 1000, 2000])
@pytest.mark.parametrize("width", [1, 2, 3, 4, 7, 8])
def test_triangle_bounds_balance_pairs(n, width):
    """Bounds cover [0, n), are monotone, and each block's pair count is
    within one row's pairs (n - 1) of an equal share."""
    from engine.llmops import _triangle_bounds

    b = _triangle_bounds(n, width)
    assert len(b) == width + 1 and b[0] == 0 and b[-1] == n
    assert all(x <= y for x, y in zip(b, b[1:]))

    def pairs(lo, hi):  # row i holds n - 1 - i pairs
        return sum(n - 1 - i for i in range(lo, hi))

    share = n * (n - 1) / 2 / width
    for lo, hi in zip(b, b[1:]):
        assert abs(pairs(lo, hi) - share) <= max(n - 1, 1), (n, width, b)


def _tie_corpus(rng, n=90, dim=64):
    """n unit vectors: 4 identical copies of one vector (6 pairs at sim
    1.0), and 15 vectors c*e0 + s*e_j whose 105 pairs all tie at c^2 =
    0.81, so the k=10 cut falls inside that tie; every other pair sits
    well below. Tie members are spread over the whole id range."""
    import numpy as np

    m = _unit_rows(rng, n, dim)
    hot = [5, 41, 77, 88]
    m[hot] = m[hot[0]]
    ties = [int(i) for i in np.linspace(0, n - 1, 15)]
    ties = [i if i not in hot else i + 1 for i in ties]
    c, s = np.float32(0.9), np.float32(np.sqrt(1 - 0.81))
    for j, i in enumerate(ties):
        m[i] = 0
        m[i, 0], m[i, j + 1] = c, s
    return m, ties


@pytest.mark.parametrize("key", ["sim_topk_pairs", "dedup_embedding_cosine"])
@pytest.mark.parametrize("corpus", ["ties", "shuffled"])
def test_triangle_kernel_many_blocks_and_tiles_match_oracle(
    spark, tmp_path, monkeypatch, key, corpus
):
    """Forcing several blocks and many small tiles must not change the
    answer: the k-th sim ties cross tile and block boundaries, and the
    shuffled corpus has non-contiguous vec_ids, rows out of id order and
    two duplicate ids, one replayed with the same vector (its sim-1.0 self
    pair must stay out: a_id < b_id) and one re-embedded."""
    import duckdb
    import numpy as np

    import engine.llmops as llmops
    from engine.registry import collect
    from tests.conftest import assert_frames_match

    rng = np.random.default_rng(11)
    m, ties = _tie_corpus(rng)
    n = len(m)
    ids = np.arange(n) * 3
    order = None
    if corpus == "shuffled":
        ids = rng.choice(10**6, size=n, replace=False)
        ids[[10, 60]] = ids[[20, 70]]  # duplicate ids
        m[10] = m[20]  # replayed: same id, same vector
        order = rng.permutation(n)
    sf = _write_embeddings(tmp_path / corpus, ids, m, order)

    cells = 64
    monkeypatch.setattr(llmops, "_PAIRS_PER_TASK", 1)
    monkeypatch.setattr(llmops, "_TILE_CELLS", cells)
    assert llmops._pair_width(spark, n) > 1  # several blocks
    first_tile_rows = cells // n or 1
    # the tie group's rows straddle many tiles, not one
    assert max(ties) - min(ties) > 10 * first_tile_rows

    queries, oracles = collect()
    sp = queries[key].__wrapped__(spark, sf).toPandas()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    du = con.sql(oracles[key]).df()
    con.close()
    if key == "sim_topk_pairs":
        # the cut really falls inside the 0.81 tie
        assert (du["sim"] == 0.81).sum() == 4 and (du["sim"] == 1.0).sum() == 6
    assert_frames_match(sp, du, key)
