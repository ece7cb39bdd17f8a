"""Training-data pipeline operations, batch 2 (r02): reproducible dataset
splitting, directed containment near-dup, data-quality profiling, the text
line source, and the incremental-load watermark pattern.

These round out SURVEY §2.I/L/M from the curation side: everything a corpus
build needs between "raw documents landed" and "training shards written" that
wasn't already covered by the dedup/similarity/quality keys. All FULL-oracle.
Registered after the attestation window (engine.registry order) so the
driver's 50-key CORRECTNESS cap keeps sampling round 1's never-attested
families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load, sftag
from engine.textops import explode_nonempty, has_word_ngrams, text_clone_groups, word_ngram_ids
from engine.tmpdirs import scratch_dir


@query(
    "data_split_stratified",
    oracle="""
    SELECT lang, split, count(*) AS n_docs, round(avg(n_chars), 4) AS avg_chars
    FROM (
      SELECT lang, n_chars,
             CASE WHEN (doc_id * 1000003 + 17) % 100 < 80 THEN 'train'
                  WHEN (doc_id * 1000003 + 17) % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ) s
    GROUP BY lang, split
    ORDER BY lang, split
    """,
)
def data_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split with per-language audit
    counts. The split key is the same engine-agnostic multiplicative hash as
    sample_hash_repro (engine/analytics.py) — NOT df.randomSplit, which is
    seed- and partition-layout-dependent and therefore unreproducible across
    runs, engines, or cluster sizes. Any downstream system can re-derive the
    exact membership from doc_id alone.

    100 TB: the split column is a pure projection (zero shuffle); the audit
    agg groups on ~15 (lang, split) cells, fully map-side collapsed. The
    same expression tags shard writes via partitionBy('split')."""
    d = load(spark, sf_dir, "documents")
    b = (F.col("doc_id") * 1000003 + 17) % 100
    return (
        d.select(
            "lang",
            "n_chars",
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test").alias("split"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("lang", "split")
    )


@query(
    "text_containment",
    oracle="""
    WITH tok AS MATERIALIZED (
      -- MATERIALIZED: bind the split array ONCE per row (r14, mirroring
      -- the engine's r13 bound-array fix) — string_split referenced
      -- inside the list_transform lambda re-splits the whole text per
      -- element, O(tokens²) per doc, which is what kept the long-doc
      -- parity fixture capped at 5k tokens
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id, list_distinct(list_transform(
               range(1, greatest(len(w) - 2, 0) + 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM tok),
    inv AS (SELECT doc_id, unnest(s) AS g FROM sh),
    co AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS c
           FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id <> b.doc_id
           GROUP BY a.doc_id, b.doc_id)
    SELECT a_id, b_id, round(c::DOUBLE / len(x.s), 4) AS containment
    FROM co JOIN sh x ON x.doc_id = a_id
    WHERE c::DOUBLE / len(x.s) >= 0.5
    """,
)
def text_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 3-gram containment C(A→B) = |A∩B| / |A| ≥ 0.5: the near-dup
    measure for SUBSET duplication (a doc quoted inside a larger one), which
    symmetric Jaccard misses — |A∩B|/|A∪B| shrinks as B grows while |A∩B|/|A|
    stays at 1. Directed, so (a,b) and (b,a) carry different scores.

    Same count-aggregated inverted-index join as dedup_ngram_jaccard: the
    gram equi-join emits (pair, shared-gram) rows, one groupBy counts them
    into |A∩B| (grams per-doc distinct), one size join divides by |A|.

    100 TB: shuffle volume is O(candidate pairs) after map-side partial agg;
    hot grams get the df-cap treatment (dedup_near_minhash) when thresholds
    allow — a gram in f docs contributes f² pair rows, so capping f bounds
    the worst case without touching recall above the cap's support.

    r02 plan fixes (20 s → ~2 s warm at sf0.1): int64 gram ids, parallelized
    shingling, no duplicated transform in a pushed-down explode filter —
    see engine.textops.word_ngram_ids / explode_nonempty.

    Exact-dup collapse (engine.tables.clone_groups, directed expansion):
    taken when texts duplicate under unique ids; identical texts contain
    each other at 1.0 both ways when they have grams."""
    d = load(spark, sf_dir, "documents")
    # persisted: sh feeds three join inputs, and the joins push inferred
    # isnotnull filters into the gram projection, re-inlining split(text)
    # per lambda element — O(tokens²) on a long doc (r13; see
    # _ngram_jaccard_kernel's docstring for the full mechanism). Routed
    # through swap_persist (r14 ADVICE) so each re-invocation evicts the
    # previous cached relation instead of accumulating across a sweep.
    from engine.tables import all_rows_distinct, expand_clone_pairs, swap_persist
    from engine.textops import exact_gram_pair_counts

    def directed(docs, who):
        sh = swap_persist(spark, word_ngram_ids(docs, 3), "containment_sh")
        # shared-gram counts via the hot-gram-defended exact counter
        # (r14): unordered (u, v, c) expanded to both directions —
        # containment is directed but |A∩B| is symmetric. tiny_k = 1/t =
        # 2 at t = 0.5: a pair sharing no light gram needs
        # c = ch <= min(Ha, Hb), and c/na >= 0.5 forces na <= 2·Ha — the
        # source side is tiny, which the counter's one-sided tiny branch
        # covers.
        co = exact_gram_pair_counts(sh, tiny_k=2, who=who)
        both = co.unionByName(
            co.select(
                F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"), "c"
            )
        )
        sizes = sh.select(
            F.col("doc_id").alias("a_id"), F.size("s").alias("na")
        )
        cont = F.col("c").cast("double") / F.col("na")
        return (
            both.join(sizes, "a_id")
            .filter(cont >= 0.5)
            .select("a_id", "b_id", F.round(cont, 4).alias("containment"))
        )

    path = f"{sf_dir}/documents.parquet"
    # Colliding ids keep the direct path: this key's oracle is per row,
    # and the dup-id sweep pins the direct shape there.
    if all_rows_distinct(spark, path, d, "text") or not all_rows_distinct(
        spark, path, d, "doc_id"
    ):
        return directed(d, "text_containment")

    grp = text_clone_groups(spark, d, "containment_grp")
    rep_cont = directed(grp.select("doc_id", "text"), "text_containment[collapse]")
    intra = F.when(has_word_ngrams("text", 3), F.lit(1.0))
    return expand_clone_pairs(rep_cont, grp, "containment", intra, directed=True)


@query(
    "etl_dq_profile",
    oracle="""
    SELECT 'o_orderkey' AS col, count(*) - count(o_orderkey) AS n_null,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS vmin,
           CAST(max(o_orderkey) AS VARCHAR) AS vmax FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*) - count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(CAST(round(min(o_totalprice), 2) AS DECIMAL(18,2)) AS VARCHAR),
           CAST(CAST(round(max(o_totalprice), 2) AS DECIMAL(18,2)) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderdate', count(*) - count(o_orderdate),
           count(DISTINCT o_orderdate),
           CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority), min(o_orderpriority),
           max(o_orderpriority)
    FROM orders
    """,
)
def etl_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the orders table: per-column null count, exact
    distinct count, and stringified min/max — the pre-ingest audit every
    pipeline runs before trusting a new drop. Numeric extremes go through
    DECIMAL so the string form is engine-stable ('123.45', never '1.2345E2').

    One aggregate branch per column, unioned (mirrors the oracle's UNION
    ALL). r03 plan change: the previous single-agg-with-stack() form packed
    six exact count-distincts into one aggregate, which Catalyst plans as an
    Expand — a ×6 row multiply of the FULL table before the shuffle
    (measured 3.7 s at sf0.1). The union form gives each column its own
    two-stage distinct aggregate over just that column's values, branches
    run in parallel within one job, and parquet column pruning means the six
    single-column scans read the same total bytes as one six-column scan —
    this IS the 100 TB shape for exact NDV. (Cheaper still at scale:
    approx_count_distinct in one Expand-free pass; kept exact here because
    the oracle must match bit-for-bit.)"""
    o = load(spark, sf_dir, "orders")
    dec = lambda c: F.round(c, 2).cast("decimal(18,2)").cast("string")  # noqa: E731
    raw = lambda c: c  # noqa: E731
    s = lambda c: c.cast("string")  # noqa: E731
    specs = [
        ("o_orderkey", s),
        ("o_custkey", s),
        ("o_orderstatus", raw),
        ("o_totalprice", dec),
        ("o_orderdate", s),
        ("o_orderpriority", raw),
    ]
    from functools import reduce

    branches = [
        o.agg(
            (F.count("*") - F.count(name)).alias("n_null"),
            F.countDistinct(name).alias("n_distinct"),
            fmt(F.min(name)).alias("vmin"),
            fmt(F.max(name)).alias("vmax"),
        ).select(F.lit(name).alias("col"), "n_null", "n_distinct", "vmin", "vmax")
        for name, fmt in specs
    ]
    return reduce(DataFrame.unionAll, branches)


@query(
    "scan_text_lines",
    oracle="SELECT doc_id, text FROM documents",
)
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented text source: documents written as one `doc_id\\ttext`
    line each (spark.write.text), read back with spark.read.text and
    re-parsed — the raw-corpus ingestion format (a .txt/.jsonl sibling of the
    csv/json/orc/parquet sources already covered). Corpus text is
    space-separated words, so the tab delimiter is collision-free.

    100 TB: text is splittable by line, so a directory of .txt shards fans
    out like any other source; parsing is per-row projection (zero shuffle).
    The tab-split uses instr+substring, not split(), to keep any tabs INSIDE
    the payload intact."""
    path = scratch_dir(prefix=f"sg-text-lines-{sftag(sf_dir)}-")
    d = load(spark, sf_dir, "documents")
    d.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), F.col("text"))
    ).coalesce(1).write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    tab = F.instr(F.col("value"), "\t")
    # A NULL text writes as a tab-less line (concat_ws skips nulls), so a
    # missing tab parses back to (doc_id, NULL) — NULL survives the text
    # round-trip, and '' (which writes "id\t") stays distinct (r12).
    return lines.select(
        F.when(tab == 0, F.col("value"))
        .otherwise(F.substring(F.col("value"), F.lit(1), tab - 1))
        .cast("long")
        .alias("doc_id"),
        F.when(tab == 0, F.lit(None).cast("string"))
        .otherwise(F.col("value").substr(tab + 1, F.length("value")))
        .alias("text"),
    )


@query(
    "etl_incremental_watermark",
    oracle="""
    SELECT event_type, count(*) AS n_new, min(ts) AS first_ts, max(ts) AS last_ts
    FROM events
    WHERE ts > (SELECT max(ts) FROM events WHERE event_id % 10 < 8)
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def etl_incremental_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch incremental load: the high-watermark pattern. The "already
    loaded" snapshot (here: the deterministic 80% slice event_id % 10 < 8 —
    a stand-in for the previous run's bookmark table) yields max(ts); only
    rows strictly past it are ingested, summarized per type for the load
    audit.

    100 TB: the watermark is a one-row agg broadcast into the filter —
    `ts > wm` then prunes parquet row groups via min/max statistics, so an
    incremental run reads only the tail files of a time-partitioned layout,
    not the table. This is the batch twin of streaming's watermark keys
    (engine/streaming.py)."""
    ev = load(spark, sf_dir, "events")
    wm = ev.filter(F.col("event_id") % 10 < 8).agg(F.max("ts").alias("wm"))
    return (
        ev.join(F.broadcast(wm))
        .filter(F.col("ts") > F.col("wm"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_new"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("event_type")
    )


@query(
    "text_repetition_ratio",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                 FROM documents),
         tf  AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2)
    SELECT doc_id, sum(c)::BIGINT AS n_tokens, max(c)::BIGINT AS top_freq,
           round(max(c)::DOUBLE / sum(c), 6) AS rep_ratio
    FROM tf GROUP BY doc_id
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition score: frequency of the single most repeated token
    over total tokens — the cheap tier of the Gopher/C4 repetition filters
    (docs dominated by one token are boilerplate/spam). Two hash aggs, both
    keyed by doc_id, so the second is shuffle-FREE: partial counts collapse
    map-side and the (doc_id, token) grouping already co-locates every row
    of a doc.

    100 TB: linear; no joins; state per task is O(distinct tokens per
    partition). The same tf relation feeds text_vocab_coverage — at pipeline
    scale you'd materialize it once."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    tf = tok.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    return tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_freq"),
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias("rep_ratio"),
    )


@query(
    "doc_length_histogram",
    oracle="""
    SELECT floor(log2(n_chars))::BIGINT AS len_bucket,
           count(*) AS n_docs,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents WHERE n_chars > 0
    GROUP BY 1 ORDER BY 1
    """,
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length profile: log2-bucketed doc-length histogram — the
    standard first look at a crawl dump (truncation spikes, boilerplate
    shelves, length-filter thresholds all show up as bucket anomalies).

    100 TB: reads ONE int column (ReadSchema prunes text itself), collapses
    to ~20 buckets map-side; this is the cheapest possible full-corpus scan
    and the template for any metadata-only profiling pass."""
    d = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return (
        d.groupBy(F.floor(F.log2("n_chars")).alias("len_bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("len_bucket")
    )


@query(
    "sample_balanced_lang",
    oracle="""
    WITH m AS (SELECT min(n) AS m
               FROM (SELECT count(*) AS n FROM documents GROUP BY lang)),
         r AS (SELECT doc_id, lang,
                      row_number() OVER (
                        PARTITION BY lang
                        ORDER BY (doc_id * 2654435761) % 2147483647, doc_id
                      ) AS rn
               FROM documents)
    SELECT doc_id, lang FROM r, m WHERE rn <= m.m
    """,
)
def sample_balanced_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced downsample: every language contributes exactly
    min-language-count docs, chosen by deterministic hash order (a seeded
    shuffle both engines replay bit-for-bit — the polynomial (doc_id * K)
    mod 2^31-1 stands in for rand(seed), which never cross-matches).
    This is the rebalancing step before mixing a multilingual training set.

    100 TB: the min count is a 2-level agg collapsed to one broadcast row;
    per-lang ordering is a row_number window — one shuffle on lang. With few
    huge language partitions this skews; the production variant exchanges
    exactness for a per-partition quota (sample by hash < m/n_lang threshold,
    the data_split_stratified trick) to avoid the per-lang sort entirely."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    m = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .agg(F.min("n").alias("m"))
    )
    w = Window.partitionBy("lang").orderBy(
        (F.col("doc_id") * F.lit(2654435761)) % F.lit(2147483647), "doc_id"
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .join(F.broadcast(m))
        .filter(F.col("rn") <= F.col("m"))
        .select("doc_id", "lang")
    )


@query(
    "emb_centroid_by_label",
    oracle="""
    SELECT label, pos::BIGINT AS pos, round(avg(v), 6) AS centroid
    FROM (SELECT label, unnest(embedding::DOUBLE[]) AS v,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
    GROUP BY label, pos ORDER BY label, pos
    """,
)
def emb_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long form (label, dimension, mean) —
    the building block for IVF coarse quantizers, label-cluster quality
    checks, and class-prototype classifiers. Long form keeps the oracle
    compare scalar (no array-column hashing) and the agg a plain
    (label, pos) hash aggregate.

    100 TB: posexplode multiplies rows by dim BEFORE partial agg, but the
    partial collapses to labels x dim cells per task, so shuffle volume is
    O(tasks x labels x dim) — independent of row count. For wide dims
    prefer the vectorized per-partition numpy sum (sim_ann_ivf's trainer
    does exactly that); this key is the pure-SQL formulation."""
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select(
            "label", F.posexplode(F.col("embedding").cast("array<double>"))
        )
        .select("label", (F.col("pos") + 1).cast("bigint").alias("pos"), F.col("col").alias("v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("centroid"))
        .orderBy("label", "pos")
    )


@query(
    "text_vocab_coverage",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
                 FROM documents),
         vocab AS (SELECT t FROM (SELECT t, count(*) AS c FROM tok
                                  GROUP BY t ORDER BY c DESC, t LIMIT 20)),
         hit AS (SELECT doc_id,
                        count(*) AS n_tokens,
                        sum(CASE WHEN t IN (SELECT t FROM vocab)
                                 THEN 1 ELSE 0 END)::BIGINT AS in_vocab
                 FROM tok GROUP BY doc_id)
    SELECT doc_id, n_tokens, in_vocab,
           round(in_vocab::DOUBLE / n_tokens, 6) AS coverage
    FROM hit
    """,
)
def text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc coverage by the corpus's top-20 vocabulary: the fraction of a
    doc's tokens that are corpus-frequent — low coverage flags outlier docs
    (wrong language, encoding garbage, code-in-text) for the cleaning queue.

    Two-phase: (1) global term counts -> top-20 (a map-side-collapsed agg +
    tiny sort), (2) re-tokenize with a broadcast membership check — a
    broadcast LEFT join, counted per doc. The token stream is never
    shuffled twice: phase 2's agg keys on doc_id only.

    100 TB: vocab is O(20) rows broadcast; both apexes are linear passes.
    The deliberate double tokenization trades recompute for never
    materializing the token stream — the standard choice when tokens
    outweigh the text 5:1."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    vocab = (
        tok.groupBy("t")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "t")
        .limit(20)
        .select("t", F.lit(1).alias("hit"))
    )
    cov = F.col("in_vocab").cast("double") / F.col("n_tokens")
    return (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.coalesce(F.sum("hit"), F.lit(0)).cast("bigint").alias("in_vocab"),
        )
        .select("doc_id", "n_tokens", "in_vocab", F.round(cov, 6).alias("coverage"))
    )
