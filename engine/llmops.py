"""LLM-training-data pipeline operators: SURVEY.md §2.I.

Dedup (exact / key-latest / MinHash-LSH near-dup), embedding similarity
(top-k pairs, kNN), text analysis (token counts, tf-idf, n-grams, lexicon
sentiment), and the text↔embedding multimodal join.

Scale designs (100 TB):
- near-dup: MinHash-LSH banding — candidate generation is an equi-join on
  (band, bucket), never a cross join.
- similarity: brute-force dot is the oracle-checkable baseline; the LSH/ANN
  variants live in engine.simsearch. Embeddings are L2-normalized (FIXTURES)
  so cosine ≡ dot product.
- all token pipelines are explode → hash-aggregate: linear, shuffle on
  (doc_id, token)-sized keys, no driver-side loops.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from engine.registry import query
from engine.session import session_memo
from engine.tables import load

# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT doc_id, substr(text, 1, 40) AS prefix40 FROM documents
    QUALIFY row_number() OVER (PARTITION BY substr(text, 1, 40) ORDER BY doc_id) = 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a deterministic survivor (min doc_id per key).

    Keyed on substr(text,1,40): the corpus has no exact-duplicate texts but
    does plant shared 40-char prefixes (FIXTURES). dropDuplicates() keeps an
    arbitrary row; the window form pins the survivor — required for oracle
    parity and for reproducible ETL reruns (upsert semantics).
    """
    d = load(spark, sf_dir, "documents")
    w = Window.partitionBy("prefix40").orderBy("doc_id")
    return (
        d.select("doc_id", F.substring("text", 1, 40).alias("prefix40"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "dedup_key_latest",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
)
def dedup_key_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ETL upsert semantics: one row per key, latest wins (ts, then event_id
    as the total-order tie-break). 100 TB: this is a single hash shuffle on
    the key; WindowGroupLimit keeps per-partition state at 1 row per key."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


@query(
    "dedup_near_minhash",
    # FULL oracle (r04): the LSH banding itself is not SQL-expressible, but
    # the *output contract* is — exact-verified pairs with Jaccard distance
    # <= 0.6. DuckDB computes the exact shingle-set Jaccard over all pairs
    # (O(n²) but fine at oracle scale: 500 docs at sf0.01). The comparison
    # is only valid because LSH recall is 1.0 on this corpus (unit-tested,
    # tests/test_llmops.py; near-dups sit at sim >= 0.83, far above the
    # b=16/r=2 s-curve threshold) — a recall regression now surfaces as a
    # driver hash mismatch instead of hiding behind a rows-only check.
    oracle="""
    WITH ch AS (
      SELECT doc_id, string_split(text, '') AS c
      FROM documents WHERE length(text) >= 5
    ),
    -- zip-unnest to (doc, pos, char) rows + 4 window leads (r14): the
    -- previous per-position substring(text, i, 5) is an O(offset) scan
    -- in DuckDB (O(len²) per doc — minutes on one 50k-char doc), and a
    -- lateral carrying the char ARRAY copies it into every position row
    -- (same quadratic, in bytes). Streaming chars once and rebuilding
    -- each 5-gram from 4 leads is the linear shape; the sub-5-char
    -- branch reproduces the old whole-text gram exactly.
    cr AS (
      SELECT doc_id, unnest(c) AS c1, unnest(range(1, len(c) + 1)) AS i
      FROM ch
    ),
    sh AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               c1 || lead(c1, 1) OVER w || lead(c1, 2) OVER w
                  || lead(c1, 3) OVER w || lead(c1, 4) OVER w AS g
        FROM cr WINDOW w AS (PARTITION BY doc_id ORDER BY i)
        QUALIFY lead(c1, 4) OVER w IS NOT NULL)
      UNION
      SELECT DISTINCT doc_id, text AS g
      FROM documents WHERE length(text) < 5
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a_id, b_id,
           round(1.0 - i / CAST(sa.n + sb.n - i AS DOUBLE), 4) AS jaccard_dist
    FROM inter
    JOIN sz sa ON sa.doc_id = a_id
    JOIN sz sb ON sb.doc_id = b_id
    WHERE 1.0 - i / CAST(sa.n + sb.n - i AS DOUBLE) <= 0.6
    ORDER BY a_id, b_id
    """,
)
def dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate doc pairs via MinHash-LSH over 5-char shingles,
    natively on DataFrame ops (r02 shape): hash every shingle ONCE
    (xxhash64), derive 32 minhash functions as int64 permutations
    ``(a_i*h + b_i) mod p`` — 32 vectorized codegen columns, NOT 32 string
    re-hashes — partial-agg ``min`` them in one narrow shuffle, band as
    16 bands x r=2 (bucket key = two adjacent minhashes), equi-join on
    (band, k1, k2), exact Jaccard on candidates, keep dist <= 0.6.

    Why r=2 + a bucket cap (round-2 fix): with r=1 a shared-vocabulary
    corpus puts the globally-min shingle of each band in thousands of docs —
    measured 2,077 docs in one bucket and 12.2M candidate pairs at sf0.1
    (~39 s warm, and quadratic in corpus size). r=2 alone still left 7.6M
    (the corpus's background sim ~0.17 sits on the b=16/r=2 s-curve), so
    buckets larger than 50 docs are DROPPED before pairing — such buckets
    are keyed by corpus-common shingle minima and are non-discriminative,
    while true near-dups (measured sim ≥ 0.83 here) also collide in small
    rare-shingle buckets. Measured at sf0.1: 213k candidates, recall 1.0 of
    all 256 true pairs; recall stays unit-tested (tests/test_llmops.py).
    The cap is the standard frequency-capping for set-similarity joins and
    is what bounds the worst case at 100 TB: candidate work is
    O(Σ_bucket min(|bucket|, cap)²), never O(n²).

    Chosen over pyspark.ml's MinHashLSH.approxSimilarityJoin, whose join key
    is a VectorUDT that cannot hash-partition — it degenerates to a
    nested-loop join. This formulation is explode -> partial-agg ->
    equi-join: every stage hash-partitions, the 100 TB shape.

    Exact-dup collapse (engine.tables.clone_groups): taken when texts
    duplicate under unique ids; identical texts pair at distance 0.0
    when the text is not NULL.
    """
    from engine.tables import all_rows_distinct, expand_clone_pairs
    from engine.textops import text_clone_groups

    d = load(spark, sf_dir, "documents")
    path = f"{sf_dir}/documents.parquet"
    # Colliding ids keep the direct path: the oracle's shingle set is per
    # doc_id (the UNION of the id's texts), which the direct path's
    # groupBy(doc_id) min-agg reproduces and a per-text collapse does not.
    if all_rows_distinct(spark, path, d, "text") or not all_rows_distinct(
        spark, path, d, "doc_id"
    ):
        return minhash_near_pairs(d).orderBy("a_id", "b_id")

    grp = text_clone_groups(spark, d, "minhash_grp")
    rep_pairs = minhash_near_pairs(grp.select("doc_id", "text"))
    # the oracle's hash of a NULL text is NULL, so its gram join drops
    # NULL docs, while an empty or short text keeps its whole-text gram
    intra = F.when(F.col("text").isNotNull(), F.lit(0.0))
    return expand_clone_pairs(
        rep_pairs.select("a_id", "b_id", "jaccard_dist"),
        grp,
        "jaccard_dist",
        intra,
    ).orderBy("a_id", "b_id")


# MinHash-LSH kernel parameters, shared by the one-shot pair kernel below
# and the persisted band index (engine.pipeline6): 16 bands x r=2 over 32
# permutations mod p = 2^31-1 (so (a*h+b) % p never overflows int64), with
# band buckets larger than 50 docs dropped as non-discriminative. A stored
# index and a fresh signature pass MUST agree on all three or cross-side
# candidate joins silently miss pairs — hence module constants, not locals.
LSH_N_PERM = 32
LSH_P = 2147483647
LSH_BUCKET_CAP = 50
_LSH_PERMS = [
    (((i + 1) * 2654435761) % LSH_P, ((i + 1) * 2246822519) % LSH_P)
    for i in range(LSH_N_PERM)
]


def minhash_signatures(d: DataFrame) -> DataFrame:
    """One pass over a (doc_id, text, ...) relation producing everything
    LSH needs downstream: 32 minhash columns m0..m31 (band keys + Jaccard
    estimation) and the exact shingle hash-set ``hs`` (candidate
    verification). This is the only stage that touches ``text``; a caller
    holding this output (or its parquet persistence — the refresh index)
    never re-shingles."""
    from engine.textops import explode_nonempty, spread_cpu

    # Shingles are hashed INSIDE the transform (h0 = xxhash64 of the 5-gram)
    # so only int64s are deduped/exploded/shuffled — the strings never leave
    # the lambda; int64 set ops in the exact-Jaccard verify step are ~10x
    # cheaper than 5-char string arrays (measured 37 s -> ~5 s at sf0.1).
    # spread_cpu parallelizes past the 1-split scan; explode_nonempty keeps
    # the transform from being duplicated into a pushed-down size()>0 filter.
    # NULL text gets an EMPTY shingle set: Spark's xxhash64(NULL) returns
    # the seed constant (not NULL), so without the guard every NULL doc
    # shares one shingle and they all pair as near-dups — where the
    # oracles' hash-of-NULL is NULL and the gram equi-join drops them
    # (r12 NULL-text hardening).
    # chs (the per-char array) is BOUND in its own projection and shingles
    # are rebuilt from O(1) ELEMENT access (r13 long-doc fix):
    # substring(text, i, 5) scans from the string start every call (no
    # O(1) char offsets on UTF8String), and slice(chs, i, 5) inside the
    # lambda runs interpreted and copies the whole array per shingle —
    # both O(len²) per doc, which made ONE 1M-char doc hang the whole key.
    # concat of the 5 chars rebuilds the identical shingle string (same
    # xxhash64 input); a sub-5-char doc hashes the whole text, exactly the
    # old substring(text, 1, 5) behavior, and keeps the indices in bounds
    # for ANSI GetArrayItem.
    sh0 = (
        spread_cpu(d)
        .select("doc_id", "text", F.split("text", "").alias("chs"))
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN text IS NULL THEN cast(array() as array<bigint>)"
                " WHEN length(text) < 5 THEN array(xxhash64(text))"
                " ELSE array_distinct(transform(sequence(1, length(text) - 4),"
                " i -> xxhash64(concat(chs[i-1], chs[i], chs[i+1], chs[i+2], chs[i+3])))) END"
            ).alias("hs0"),
        )
    )
    # h: h0 folded into [0, p) so the permutations (a*h+b) % p never
    # overflow int64.
    ex = explode_nonempty(sh0, "hs0", "h0").withColumn(
        "h", F.pmod(F.col("h0"), F.lit(LSH_P))
    )
    # One shuffle produces BOTH the 32 minhashes and the doc's exact shingle
    # hash-set (for candidate verification) — no second pass over the text.
    return ex.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(LSH_P)).alias(f"m{i}")
            for i, (a, b) in enumerate(_LSH_PERMS)
        ],
        F.collect_set("h0").alias("hs"),
    )


def lsh_band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, band, k1, k2) band-key rows from a minhash_signatures
    output — band i's bucket key is the adjacent minhash pair
    (m_{2i}, m_{2i+1}); r=2 keys are what keep shared-vocabulary corpora
    from collapsing into mega-buckets (see dedup_near_minhash)."""
    bands = F.array(
        *[
            F.struct(
                F.col(f"m{2 * i}").alias("k1"), F.col(f"m{2 * i + 1}").alias("k2")
            )
            for i in range(LSH_N_PERM // 2)
        ]
    )
    return sig.select("doc_id", F.posexplode(bands).alias("band", "bk")).select(
        "doc_id", "band", F.col("bk.k1").alias("k1"), F.col("bk.k2").alias("k2")
    )


def capped_lsh_band_rows(sig: DataFrame) -> DataFrame:
    """lsh_band_rows with the kernel's non-discriminative-bucket guard
    applied: buckets larger than LSH_BUCKET_CAP are dropped entirely
    (their keys are corpus-common minima, not similarity signal — full
    rationale at dedup_near_minhash). Shared by the one-shot kernel and
    the persisted-index build/refresh paths so cap semantics can't
    drift between them."""
    return (
        lsh_band_rows(sig)
        .withColumn(
            "bsz", F.count("*").over(Window.partitionBy("band", "k1", "k2"))
        )
        .filter(F.col("bsz") <= LSH_BUCKET_CAP)
        .drop("bsz")
    )


def lsh_self_candidates(band_rows: DataFrame, *, pre_capped: bool = False) -> DataFrame:
    """Distinct within-corpus candidate pairs (a_id, b_id) from a
    (doc_id, band, k1, k2) band-row relation in ONE partitioned pass
    (r15, guide §2.3/§2.4): groupBy (band, k1, k2) collects each bucket's
    members, the bucket cap filters on the collected size (== the old
    window count), and in-bucket pairs come from an array-combinations
    expression — replacing the window-count cap + band self-join chain,
    whose plan paid an extra Sort+Window pass per join side plus a
    BroadcastExchange (a driver round-trip) to build the join's
    hash relation. A capped bucket holds ≤ LSH_BUCKET_CAP docs, so the
    combination expression emits ≤ C(cap,2)=1225 pairs per bucket — the
    same O(Σ min(|bucket|, cap)²) bound as the join form.

    Pair semantics are EXACTLY the old self-join's: rows with a NULL
    band key never pair (the equi-join dropped them; the isnotnull
    filter here mirrors the join's pushed predicate), and each unordered
    pair is emitted once, oriented by the SAME `<` comparison the join's
    `x.doc_id < y.doc_id` filter used (incomparable pairs — NULL
    comparison results — drop on both shapes). Cross-band duplicates are
    removed by the same final distinct. ``pre_capped=True`` skips the
    cap filter for inputs that are already capped band rows (the
    persisted refresh index path, where the stored relation has the cap
    applied at write time)."""
    rows = band_rows.filter(F.col("k1").isNotNull() & F.col("k2").isNotNull())
    buckets = rows.groupBy("band", "k1", "k2").agg(
        F.collect_list("doc_id").alias("ms")
    )
    if not pre_capped:
        buckets = buckets.filter(F.size("ms") <= LSH_BUCKET_CAP)
    pair = (
        "CASE WHEN u < v THEN struct(u AS a, v AS b)"
        " WHEN v < u THEN struct(v AS a, u AS b) END"
    )
    combos = (
        "flatten(transform(ms, (u, i) ->"
        f" filter(transform(slice(ms, i + 2, size(ms)), v -> {pair}),"
        " p -> p IS NOT NULL)))"
    )
    return (
        buckets.filter(F.size("ms") >= 2)
        .select(F.explode(F.expr(combos)).alias("p"))
        .select(F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id"))
        .distinct()
    )


def verify_near_pairs(
    cand: DataFrame, sig_a: DataFrame, sig_b: DataFrame, detail: bool = False
) -> DataFrame:
    """Two-stage exact verification of LSH candidate pairs (a_id, b_id),
    reading each side's minhash columns + shingle set from sig_a / sig_b
    (minhash_signatures outputs — possibly one live and one loaded from a
    stored index). Returns (a_id, b_id, jaccard_dist <= 0.6), dist
    rounded to 4.

    Two-stage rationale (r03: 212k candidates for 256 true pairs at sf0.1
    made the exact array_intersect over ~1000-element shingle sets the
    cost center — ~2e8 element ops + the arrays shipped through two
    joins). Stage 1 estimates Jaccard from the 32 minhash columns already
    computed (matching-minhash fraction; 32 small ints per side, not the
    sets) and keeps est >= 0.2 — 2.3σ below the 0.4 target threshold
    (binomial σ = √(.4·.6/32) ≈ 0.087), so a true threshold pair is
    dropped with p ≈ 0.4% and the corpus's actual near-dups (sim ≥ 0.83)
    never are. Stage 2 runs the exact set intersection on the few
    survivors only.

    Any extra columns on ``cand`` beyond (a_id, b_id) ride through to the
    output — pipeline6 tags candidates by gate and verifies both gates'
    candidates in ONE tree.

    ``detail=True`` additionally returns the exact per-pair evidence the
    verify stage computes anyway — (n_inter, n_a, n_b) shingle-set
    intersection and sizes — so audit consumers (dedup_pair_explain) can
    derive containment WITHOUT re-joining the heavy ``hs`` relation:
    those joins shuffle+sort every doc's hash set at honest size stats
    (measured +0.4 s at sf0.1, a heavy-side shuffle at scale), while
    these three ints are free here. Default False keeps the schema every
    existing consumer pins."""
    extra = [c for c in cand.columns if c not in ("a_id", "b_id")]
    est_cols = [f"m{i}" for i in range(LSH_N_PERM)]
    ma = sig_a.select(
        F.col("doc_id").alias("a_id"), *[F.col(m).alias(f"a_{m}") for m in est_cols]
    )
    mb = sig_b.select(
        F.col("doc_id").alias("b_id"), *[F.col(m).alias(f"b_{m}") for m in est_cols]
    )
    n_match = sum(
        F.when(F.col(f"a_{m}") == F.col(f"b_{m}"), 1).otherwise(0) for m in est_cols
    )
    pre = (
        cand.join(ma, "a_id")
        .join(mb, "b_id")
        .filter(n_match >= int(0.2 * LSH_N_PERM))
        .select("a_id", "b_id", *extra)
    )
    a = sig_a.select(F.col("doc_id").alias("a_id"), F.col("hs").alias("sa"))
    b = sig_b.select(F.col("doc_id").alias("b_id"), F.col("hs").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    dist = 1 - inter.cast("double") / (F.size("sa") + F.size("sb") - inter)
    detail_cols = (
        [
            inter.alias("n_inter"),
            F.size("sa").alias("n_a"),
            F.size("sb").alias("n_b"),
        ]
        if detail
        else []
    )
    return (
        pre.join(a, "a_id")
        .join(b, "b_id")
        .filter(dist <= 0.6)
        .select(
            "a_id",
            "b_id",
            F.round(dist, 4).alias("jaccard_dist"),
            *detail_cols,
            *extra,
        )
    )


def minhash_near_pairs(d: DataFrame, detail: bool = False) -> DataFrame:
    """The MinHash-LSH near-duplicate pair kernel behind dedup_near_minhash,
    factored over an arbitrary (doc_id, text, ...) relation so composed
    pipelines (pipeline_dedup_cascade) can run it on an intermediate stage's
    survivors instead of the raw documents table. Returns unordered
    (a_id, b_id, jaccard_dist<=0.6) with dist rounded to 4; ``detail=True``
    appends the verify stage's exact (n_inter, n_a, n_b) — see
    verify_near_pairs. Full design rationale + measured numbers:
    dedup_near_minhash's docstring above."""
    # Three consumers read the signature subtree (band self-join x/y + the
    # two verify-side joins); without a persist the shingle explode + 32-min
    # agg — the expensive part — executes once PER consumer. MEMORY_AND_DISK,
    # sized O(docs x (32 ints + shingle set)): ~80 MB at sf0.1, spills past
    # memory rather than failing at cluster scale. The cached copy is never
    # explicitly unpersisted — deliberate: the registry's plan memoization
    # builds this plan at most once per (session, sf_dir), so the session
    # holds ≤ one ~80 MB entry per sf_dir (bench + tests: 2), and repeat
    # invocations REUSE it (that is where the warm-run speedup comes from);
    # an unpersist-after-materialize would re-run the explode every call.
    from pyspark import StorageLevel

    mins = minhash_signatures(d).persist(StorageLevel.MEMORY_AND_DISK)
    # r15: candidate generation is one grouped pass over the raw band rows
    # (cap applied on the collected bucket size — identical semantics to
    # capped_lsh_band_rows + self-join; see lsh_self_candidates).
    cand = lsh_self_candidates(lsh_band_rows(mins))
    return verify_near_pairs(cand, mins, mins, detail=detail)


# ---------------------------------------------------------------------------
# embedding similarity
# ---------------------------------------------------------------------------


_MAX_BROADCAST_VECTORS = 1_000_000  # float32 broadcast budget (~0.25 GB at dim 64)

# Worker-process cache of deserialized broadcast sides, keyed by the
# (file_identity, nrows) key _broadcast_side stamps. PySpark's
# worker re-registers each broadcast per TASK (a fresh Broadcast(path=…)
# whose pickle is re-loaded on .value), so with python-worker reuse every
# task of every collect() re-paid the full matrix deserialization — the
# width-4 spread paid it 4× per run (VERDICT r10 item 3). A module-level
# dict lives in the reused worker process, so only the first task per
# worker per corpus loads the pickle; everything after is a dict hit.
# Bounded by BYTES, not entries (r11 review): a corpus near the 1M-vector
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


def _broadcast_side(spark, sf_dir: str, emb) -> tuple:
    """(ids, source-precision matrix, cache_key) for the broadcast side
    of blocked-matmul kernels.

    Source precision, not a fixed dtype (r11): an array<float> column is
    shipped as f32 — halving the pickle the workers deserialize, with
    the refine stages upcasting candidate rows losslessly (f32→f64 is
    exact) — while an array<double> source stays f64 (narrowing it would
    quantize values and break bit-identity with the oracle's f64 dots).
    Every kernel consuming this side is dtype-agnostic (numpy upcasts at
    the refine gather). Rows are sorted by vec_id, so in the triangle
    kernels (_triangle_pairs) position order matches a_id < b_id order
    and each tile only multiplies against columns from its own start
    onward. cache_key identifies the corpus bytes
    (file_identity, nrows) for the per-worker _SIDE_CACHE; None when the
    source isn't a stat-able path (toPandas fallback) — then every task
    loads bc.value as before.

    Direct pyarrow read of the shared-path parquet — the same bytes the
    executors scan — skips paying a Spark collect job; falls back to
    toPandas for sources pyarrow can't reach. LOUD size gate: past ~1M
    vectors a full-side broadcast is the scale-killer (SCALE.md invariant 1),
    so refuse with a pointer at the IVF/LSH bucketed path instead of silently
    OOMing the driver."""
    import numpy as np

    path = f"{sf_dir}/embeddings.parquet"
    try:
        import pyarrow.parquet as pq

        from engine.tables import file_identity, parquet_num_rows

        n = parquet_num_rows(path)  # footer-only
        if n is None:
            raise ValueError("not footer-readable")  # -> toPandas fallback
        if n > _MAX_BROADCAST_VECTORS:
            raise RuntimeError(
                f"embeddings has {n} vectors > broadcast budget "
                f"{_MAX_BROADCAST_VECTORS}; use the bucketed IVF/LSH path "
                "(engine.simsearch.sim_ann_ivf) for candidate generation"
            )
        t = pq.read_table(path, columns=["vec_id", "embedding"])
        # vector-family contract (engine.tables.vectors): NULL vectors are
        # dropped — flatten() silently skips null lists, so without this
        # the reshape misaligns ids against vectors (r12) — and WRONG-DIM
        # vectors (failed/partial inference) are excluded too (r13 ragged
        # sweep: np reshape "all input arrays must have the same shape"):
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
        # bit-identity contract with the oracle's f64 dots (r11 review).
        dt = np.float32 if flat.dtype == np.float32 else np.float64
        # reshape(0, -1) is a numpy error; an empty side is a valid (0, 0)
        # matrix — the probe side then has no batches and the kernel
        # yields no rows (r12 empty-corpus hardening).
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
        if n > _MAX_BROADCAST_VECTORS:
            raise RuntimeError(
                f"embeddings has {n} vectors > broadcast budget "
                f"{_MAX_BROADCAST_VECTORS}; use the bucketed IVF/LSH path "
                "(engine.simsearch.sim_ann_ivf) for candidate generation"
            )
        side = (
            emb.filter(F.col("embedding").isNotNull())
            .select("vec_id", "embedding")
            .toPandas()
        )
        if len(side):
            # ragged guard (r13): keep only the modal dim, ties smaller —
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


# Task sizing for the upper-triangle pair kernels (_triangle_pairs). A
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


def _triangle_pairs(spark, sf_dir: str, floor, keep, limit=None) -> DataFrame:
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
    """Worker side of _triangle_pairs: the tiles of each block id in
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


def _dot(a, b):  # JVM-side higher-order dot product, float→double first
    return F.aggregate(
        F.zip_with(
            F.transform(a, lambda x: x.cast("double")),
            F.transform(b, lambda x: x.cast("double")),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


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
    if len(vals) <= k:
        return np.ones(len(vals), bool), vals
    # keep every pair tied with the k-th sim
    return vals >= np.sort(vals)[len(vals) - k], vals


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
    (_triangle_pairs): one Python task at the bench corpus, each tile keeps
    its top-k (ties at the k-th rounded sim all kept), each block emits
    ≤ k rows, and a global top-k merges them. ~60× faster than evaluating
    the dot as a per-pair higher-order function.

    Rounded sim IS the sort key (with id tie-breaks) so the top-10 cut is
    identical across engines.

    Kernel shape (r02): SELECT in float32, REFINE in float64. The f32 matmul
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
    out = _triangle_pairs(
        spark, sf_dir, partial(_topk_floor, k), partial(_topk_keep, k), limit=k
    )
    return out.orderBy(F.col("sim").desc(), "a_id", "b_id").limit(k)


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
            F.round(_dot(F.col("embedding"), F.col("probe_emb")), 4).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def _tokens(d: DataFrame) -> DataFrame:
    """explode(split) tokenization — corpus is space-separated lowercase."""
    return d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))


@query(
    "text_token_counts",
    oracle="""
    SELECT token, count(*) AS cnt FROM (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ) t GROUP BY token
    ORDER BY cnt DESC, token ASC LIMIT 20
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 token frequencies (count aliased cnt, alphabetical
    tie-break)."""
    d = load(spark, sf_dir, "documents")
    return (
        _tokens(d)
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(20)
    )


@query(
    "text_tfidf",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         dfreq AS (SELECT token, count(DISTINCT doc_id) AS dfq FROM tok GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, token, round(tf * ln(n_docs::DOUBLE / dfq::DOUBLE), 6) AS tfidf
    FROM tf JOIN dfreq USING (token) CROSS JOIN n
    ORDER BY tfidf DESC, doc_id, token LIMIT 100
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf per (doc, term), top-100 — pure DataFrame (no ml.IDF) so it
    stays SQL-expressible. N arrives via a broadcast 1-row cross join, not a
    driver-side collect."""
    d = load(spark, sf_dir, "documents")
    tok = _tokens(d)
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("token").agg(F.count_distinct("doc_id").alias("dfq"))
    n = d.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(dfreq, "token")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * F.ln(F.col("n_docs").cast("double") / F.col("dfq").cast("double")),
                6,
            ).alias("tfidf"),
        )
        .orderBy(F.col("tfidf").desc(), "doc_id", "token")
        .limit(100)
    )


@query(
    "text_ngram_freq",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
    SELECT s[i] || ' ' || s[i + 1] AS bigram, count(*) AS cnt
    FROM t, unnest(range(1, len(s))) AS u(i)
    GROUP BY 1 ORDER BY cnt DESC, bigram ASC LIMIT 20
    """,
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram frequencies via JVM-side transform over the token array
    (no Python UDF, no ml.NGram — keeps it SQL-expressible for the oracle)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("s"))
    # CASE guard, not greatest(): sequence(1, 0) is [1, 0] (step -1), whose
    # out-of-range s[] accesses emit null bigrams the oracle's empty
    # range(1, 1) never produces (r12 short-text fix).
    bigrams = toks.select(
        F.explode(
            F.expr(
                "CASE WHEN size(s) < 2 THEN cast(array() as array<string>)"
                " ELSE transform(sequence(1, size(s) - 1), i -> s[i-1] || ' ' || s[i]) END"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram").asc())
        .limit(20)
    )


_POS_WORDS = ["fast", "key", "value"]
_NEG_WORDS = ["slow", "big", "scan"]


@query(
    "text_sentiment_lexicon",
    oracle=f"""
    WITH lex(token, polarity) AS (VALUES
      {", ".join(f"('{w}', 1)" for w in _POS_WORDS)},
      {", ".join(f"('{w}', -1)" for w in _NEG_WORDS)}),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    score AS (SELECT doc_id, sum(polarity) AS raw FROM tok JOIN lex USING (token) GROUP BY 1)
    SELECT d.doc_id,
           round(coalesce(raw, 0)::DOUBLE / len(string_split(text, ' '))::DOUBLE, 6)
             AS sentiment
    FROM documents d LEFT JOIN score ON d.doc_id = score.doc_id
    """,
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based polarity: (Σ polarity of matched tokens) / token count,
    via a broadcast join against the in-code lexicon (all words exist in the
    corpus vocabulary). Docs with no lexicon hits score 0."""
    d = load(spark, sf_dir, "documents")
    from engine.tables import lit_table

    lex = lit_table(
        spark,
        [(w, 1) for w in _POS_WORDS] + [(w, -1) for w in _NEG_WORDS],
        ["token", "polarity"],
    )
    score = (
        _tokens(d)
        .join(F.broadcast(lex), "token")
        .groupBy("doc_id")
        .agg(F.sum("polarity").alias("raw"))
    )
    return d.join(score, "doc_id", "left").select(
        "doc_id",
        F.round(
            F.coalesce(F.col("raw"), F.lit(0)).cast("double")
            / F.size(F.split("text", " ")).cast("double"),
            6,
        ).alias("sentiment"),
    )


@query(
    "multimodal_join",
    oracle="""
    SELECT label, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM documents JOIN embeddings ON doc_id = vec_id
    GROUP BY label
    """,
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text↔embedding modality join (doc_id = vec_id; inner join because the
    modalities scale differently at sf0.1 — FIXTURES), per-label doc stats."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )
