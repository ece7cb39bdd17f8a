"""Training-corpus curation operators (r03 batch): the data-engineering ops
an LLM training pipeline runs between raw corpus and tokenizer that were not
yet covered by engine.llmops/textops/trainext/pipeops — eval-set
decontamination, fixed-context sequence packing and domain-mix resampling.

All three are SURVEY §2.I/L-family extensions, SQL-expressible and
FULL-checked against a DuckDB oracle.

Scale notes (100 TB) are per-operator; the common theme is that every one is
a broadcast join or a per-group window — no global sort, no driver
materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from engine.registry import query
from engine.tables import load


@query(
    "text_decontaminate",
    oracle="""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    -- zip-unnest to (doc, pos, token) rows + 4 window leads (r14): the
    -- previous lateral over positions carried the WHOLE token list into
    -- every generated row — O(tokens²) bytes per doc (172 s on one
    -- 50k-token doc, and MATERIALIZED doesn't help because the copy IS
    -- the lateral's output) — where the unnest streams each token once
    -- and the leads rebuild the identical 5-token shingles
    tr AS (SELECT doc_id, unnest(t) AS w,
                  unnest(range(1, len(t) + 1)) AS i
           FROM tok),
    sh AS (SELECT doc_id,
                  w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win
                    || ' ' || lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win
                    AS sh
           FROM tr WINDOW win AS (PARTITION BY doc_id ORDER BY i)
           QUALIFY lead(w, 4) OVER win IS NOT NULL),
    ev AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 11 = 0)
    SELECT s.doc_id, count(DISTINCT s.sh) AS n_shared
    FROM sh s JOIN ev USING (sh)
    WHERE s.doc_id % 11 <> 0
    GROUP BY 1
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag training docs sharing any 5-token
    shingle with a held-out eval set (docs with doc_id % 11 == 0 stand in
    for the benchmark suite). Output = contaminated doc → count of distinct
    shared shingles; dropping those rows from the corpus is the standard
    n-gram-overlap decontamination pass (GPT-3/PaLM-style window, shortened
    to 5 tokens because the synthetic corpus' 31-token vocabulary makes
    longer exact runs vanishingly rare — mod 11 / k=5 is the smallest
    setting that yields real hits at every SF: 7 / 6 / 222 contaminated
    docs at sf0.001/0.01/0.1, i.e. non-vacuous on all driver checks).

    Shape: per-doc shingle transform (zero shuffle) → explode → broadcast
    semi-style join against the DISTINCT eval shingles → one hash agg.
    100 TB: the eval set is fixed-size (benchmarks, not corpus-scale), so
    its distinct-shingle set always broadcasts; corpus-side work is one
    explode + one shuffle on doc_id for the count-distinct — linear, and
    the shingle strings can be xxhash64'd to int64 before the shuffle when
    the corpus vocabulary is real text (kept as strings here for the
    cross-engine oracle)."""
    d = load(spark, sf_dir, "documents")
    # t is BOUND in its own projection (r13 long-doc fix): an inline
    # split(text) referenced inside the transform lambda re-tokenizes the
    # document per shingle — O(tokens²) per doc on a long document.
    t = F.col("t")
    # sequence(1, n) with n < 1 would generate a DESCENDING range in Spark
    # (step defaults to -1), so gate short docs to an empty shingle array.
    n_sh = F.size(t) - 4
    # shingle tokens via O(1) element_at, not slice() — slice inside a
    # lambda runs interpreted and copies the whole token array per
    # shingle; i..i+4 are in bounds (1-based) under the n_sh >= 1 gate
    shingles = F.when(
        n_sh >= 1,
        F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j) for j in range(5)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = d.select("doc_id", F.split("text", " ").alias("t")).select(
        "doc_id", F.explode(shingles).alias("sh")
    )
    ev = sh.filter(F.col("doc_id") % 11 == 0).select("sh").distinct()
    return (
        sh.filter(F.col("doc_id") % 11 != 0)
        .join(F.broadcast(ev), "sh")
        .groupBy("doc_id")
        .agg(F.countDistinct("sh").alias("n_shared"))
    )


@query(
    "text_pack_sequences",
    oracle="""
    WITH t AS (SELECT doc_id, source,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents),
    w AS (SELECT doc_id, source, n_tokens,
                 -- ORDER BY doc_id, n_tokens: the n_tokens term keeps the
                 -- layout order TOTAL when a doc_id collides with two
                 -- different payloads in one source (r14 dup-id axis)
                 CAST(coalesce(sum(n_tokens) OVER (
                        PARTITION BY source ORDER BY doc_id, n_tokens
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS cum_before
          FROM t)
    SELECT doc_id, source, n_tokens,
           CAST(cum_before // 512 AS BIGINT) AS seq_id,
           CAST(cum_before % 512 AS BIGINT) AS offset_in_seq
    FROM w
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-context sequence packing (concat-and-chunk): docs are laid out
    in deterministic order within each source shard, and each doc gets the
    512-token training sequence id + offset where its first token lands —
    the standard packing bookkeeping a tokenizer/dataloader needs (docs may
    straddle a boundary; offset_in_seq is where the doc STARTS).

    100 TB (r12 rewrite, r13 quantile bounds): source cardinality is
    ~20, so a plain partitionBy(source) running-sum window serializes
    the corpus into ~20 single-threaded sorts — the same parallelism
    ceiling the r11 agg_weighted_percentile rehearsal measured at
    exponent 0.98. The cumsum instead uses scaleops' two-level
    range-bucket pattern: 64 doc_id buckets per source; a bucket-level
    cumsum over the ~20×64 partial sums (trivial window) yields each
    bucket's starting offset; the per-row window partitions by
    (source, bkt) — ~1280-way parallel — and adds the offset. r13: the
    bucket bounds are QUANTILE split points (percentile_approx over
    doc_id), not fixed-width [mn,mx]/64 — the r13 skew rehearsal showed
    the fixed grid collapsing 90% of a source's rows into ONE bucket
    when its doc_ids cluster in a dense band under one outlier id
    (max-task 4 → 4500 of 5001 at sf0.1); quantile buckets hold ~equal
    row counts for ANY id distribution. Bucket assignment (count of
    splits ≤ doc_id) is a pure monotone function of doc_id, so
    bucket-major + within-bucket doc_id order IS the per-source order,
    and n_tokens is integral, so every partial sum is exact regardless
    of association — cum_before is bit-identical to the
    single-partition window's (the sketch need not be deterministic:
    any monotone bucketing gives the same result, only load balance
    varies). The (doc_id, source, n_tokens, bkt) projection feeds both
    the bucket-sum agg and the final join: persist it (~40 B/row vs the
    ~KB text column) so tokenization — the hottest stage — runs once,
    not twice. The stats scan reads only (doc_id, source): Catalyst
    prunes the split(text) out of the quantile agg.

    NULL source (r13, ADVICE): the oracle's PARTITION BY keeps NULL as
    its own group, and groupBy produces a NULL-source stats row — but a
    plain equi-join on source would silently drop those rows. Both
    joins in the bucket rewrite are therefore eqNullSafe on source, so
    the NULL-source shard packs exactly like any other source shard."""
    from engine.tables import swap_persist

    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    t = d.select("doc_id", "source", n_tok.alias("n_tokens"))
    stats = t.groupBy("source").agg(
        F.percentile_approx(
            "doc_id", [i / 64.0 for i in range(1, 64)], 10000
        ).alias("splits")
    )
    bkt = F.aggregate(
        F.col("splits"),
        F.lit(0),
        lambda acc, s: acc + F.when(F.col("doc_id") >= s, 1).otherwise(0),
    )
    rows = swap_persist(
        spark,
        t.join(F.broadcast(stats), t["source"].eqNullSafe(stats["source"]))
        .drop(stats["source"])
        .select("doc_id", "source", "n_tokens", bkt.alias("bkt")),
        "pack_rows",
    )
    bo = Window.partitionBy("source").orderBy("bkt")
    boff = (
        rows.groupBy("source", "bkt")
        # coalesce: a bucket whose docs ALL have NULL token counts (NULL
        # texts) sums to NULL, which would poison every later bucket's
        # offset — the single-window oracle shape just skips NULLs (r12)
        .agg(F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("bw"))
        .select(
            "source",
            "bkt",
            (
                F.sum("bw").over(bo.rowsBetween(Window.unboundedPreceding, 0))
                - F.col("bw")
            ).alias("off"),
        )
    )
    # orderBy(doc_id, n_tokens): total even under colliding doc_ids with
    # different payloads (r14); bucket assignment is monotone in doc_id
    # alone, so a collided id's rows share a bucket and the within-bucket
    # tie-break fully determines the layout.
    w = (
        Window.partitionBy("source", "bkt")
        .orderBy("doc_id", "n_tokens")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        F.col("off") + F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).cast("long")
    return (
        rows.join(
            F.broadcast(boff),
            rows["source"].eqNullSafe(boff["source"])
            & (rows["bkt"] == boff["bkt"]),
        )
        .drop(boff["source"])
        .drop(boff["bkt"])
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.floor(cum / 512).cast("long").alias("seq_id"),
            (cum % 512).cast("long").alias("offset_in_seq"),
        )
    )


@query(
    "sample_source_mix",
    oracle="""
    WITH h AS (SELECT doc_id, source,
                      (doc_id * 2654435761) % 2147483647 AS hk
               FROM documents),
    r AS (SELECT doc_id, source, hk,
                 row_number() OVER (PARTITION BY source ORDER BY hk, doc_id)
                   AS rn,
                 count(*) OVER (PARTITION BY source) AS cnt
          FROM h)
    SELECT doc_id, source FROM r
    WHERE rn <= CAST(ceil(cnt * 0.4) AS BIGINT)
    """,
)
def sample_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix resampling: deterministically downsample every source to a
    40% rate by keeping the lowest multiplicative-hash ranks — the
    domain-weighting step of corpus mixing (each source's weight is a rate;
    hash-rank selection makes the subset stable across runs and engines,
    unlike rand()-based sampling). The hash is Knuth's 2654435761
    multiplicative scheme computed identically in both engines (xxhash64
    has no DuckDB twin).

    100 TB (r12 rewrite): source cardinality is ~20, so a plain
    partitionBy(source) row_number window serializes the corpus into ~20
    single-threaded sorts. The exact rank instead uses scaleops' two-level
    range-bucket pattern: per-source min/max hk splits the hash domain
    into 64 fixed-width buckets; a bucket-level cumulative COUNT over the
    ~20×64 partials yields each bucket's starting rank; the per-row
    row_number partitions by (source, bkt) — ~1280-way parallel — and
    adds the offset. Equal hk values share a bucket (bkt is a function of
    hk), so bucket-major + within-bucket (hk, doc_id) order IS the
    per-source order and rn is exactly the single-partition row_number.
    The per-source counts come from the same tiny broadcast agg as the
    bucket bounds — the count() window is gone too.

    NULL source (r13, ADVICE): both joins are eqNullSafe on source so a
    NULL-source group samples at the same 40% rate instead of being
    silently dropped (the oracle's PARTITION BY keeps it). rows feeds
    both the bucket-count agg and the final join — persist it like
    text_pack_sequences' twin so the documents scan runs once."""
    from engine.tables import swap_persist

    d = load(spark, sf_dir, "documents")
    hk = (F.col("doc_id") * F.lit(2654435761)) % F.lit(2147483647)
    t = d.select("doc_id", "source", hk.alias("hk"))
    stats = t.groupBy("source").agg(
        F.min("hk").alias("mn"),
        F.max("hk").alias("mx"),
        F.count("*").alias("cnt"),
    )
    step = (F.col("mx") - F.col("mn")) / F.lit(64.0)
    bkt = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(F.floor((F.col("hk") - F.col("mn")) / step), F.lit(63))
    )
    rows = swap_persist(
        spark,
        t.join(F.broadcast(stats), t["source"].eqNullSafe(stats["source"]))
        .drop(stats["source"])
        .select("doc_id", "source", "hk", "cnt", bkt.alias("bkt")),
        "mix_rows",
    )
    bo = Window.partitionBy("source").orderBy("bkt")
    boff = (
        rows.groupBy("source", "bkt")
        .agg(F.count("*").alias("bn"))
        .select(
            "source",
            "bkt",
            (
                F.sum("bn").over(bo.rowsBetween(Window.unboundedPreceding, 0))
                - F.col("bn")
            ).alias("off"),
        )
    )
    w = Window.partitionBy("source", "bkt").orderBy("hk", "doc_id")
    return (
        rows.join(
            F.broadcast(boff),
            rows["source"].eqNullSafe(boff["source"])
            & (rows["bkt"] == boff["bkt"]),
        )
        .drop(boff["source"])
        .drop(boff["bkt"])
        .withColumn("rn", F.col("off") + F.row_number().over(w))
        .filter(F.col("rn") <= F.ceil(F.col("cnt") * 0.4).cast("long"))
        .select("doc_id", "source")
    )
