"""Operator batch 4 (r02): exact two-pass heavy hitters, snapshot diffing,
nearest-as-of join, per-doc keyword extraction, and the binary-file
ingestion source.

Rounds out §2 families from the operational side: the sketch→exact-recount
pattern every telemetry pipeline uses (heavy hitters), snapshot reconciliation
(the "what changed since yesterday's drop" question), the third as-of variant
(nearest, after backward/forward), keyword tagging on top of the tf-idf
relation, and binaryFile (how image/audio bytes enter a multimodal
pipeline). Registered after the 50-key attestation window.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load


def _mg_partition(k: int, batches):
    """Vectorized batch-merge Misra-Gries summary over a partition's "t"
    batches (r14, guide §4.2: hand whole batches to pandas' C paths
    instead of the previous per-token Python dict loop — that
    row-at-a-time pass WAS agg_heavy_hitters' cost center, ~1.3M
    interpreted iterations at sf0.1). Per Arrow batch: value_counts (C),
    merge into the running summary, and when the summary exceeds k apply
    the standard MG merge-decrement — subtract the (k+1)-th largest count
    from everything, keep the positives. The no-false-negative bound is
    the classic one, unchanged: each decrement of ``thresh`` hits ≥ k+1
    counters at once, so Σ thresh ≤ n_partition/(k+1) and any token with
    partition count > n_partition/(k+1) survives; the recount pass keeps
    the OUTPUT exact for any candidate superset
    (test_heavy_hitters_mg_vectorized_no_false_negatives)."""
    import pandas as pd

    counters = pd.Series(dtype="int64")
    for pdf in batches:
        counters = counters.add(pdf["t"].value_counts(), fill_value=0)
        if len(counters) > k:
            thresh = counters.nlargest(k + 1).iloc[-1]
            counters = counters - thresh
            counters = counters[counters > 0]
    yield pd.DataFrame({"t": counters.index.astype(str)})


@query(
    "agg_heavy_hitters",
    oracle="""
    WITH tok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
         n AS (SELECT count(*) AS n FROM tok)
    SELECT t, count(*) AS cnt
    FROM tok, n GROUP BY t, n.n
    HAVING count(*) * 50 > n
    ORDER BY cnt DESC, t
    """,
)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (support > 1/50 of the token stream) via the
    two-pass Misra-Gries shape: pass 1 runs the MG summary per partition
    (each partition keeps ≤ k counters — a candidate set with the classic
    no-false-negative guarantee), pass 2 exactly recounts ONLY the merged
    candidates. Output is exact (identical to a full groupBy + HAVING,
    which is what the oracle runs) but the full-cardinality shuffle is
    replaced by: (a) a ≤ k·partitions candidate union, (b) a broadcast
    semi-filtered recount.

    100 TB: the point of the sketch pass — shuffle (a) is O(k · tasks)
    regardless of token cardinality, and recount (b)'s map side discards
    every non-candidate token before the exchange. For a billion-type token
    stream the plain groupBy shuffles billions of rows; this shuffles
    thousands. k = 4× the support bound keeps merge soundness with room."""
    from engine.textops import spread_cpu

    support, k = 50, 200
    d = load(spark, sf_dir, "documents")
    tok = spread_cpu(d).select(F.explode(F.split("text", " ")).alias("t"))

    candidates = tok.mapInPandas(partial(_mg_partition, k), "t string").distinct()
    n = tok.agg(F.count("*").alias("n"))
    return (
        tok.join(F.broadcast(candidates), "t", "left_semi")
        .groupBy("t")
        .agg(F.count("*").alias("cnt"))
        .join(F.broadcast(n))
        .filter(F.col("cnt") * support > F.col("n"))
        .select("t", "cnt")
        .orderBy(F.col("cnt").desc(), "t")
    )


@query(
    "etl_snapshot_diff",
    oracle="""
    WITH old AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
                 WHERE o_orderkey % 97 <> 0 AND o_orderkey % 5 <> 0),
         new AS (SELECT o_orderkey, o_orderstatus,
                        CASE WHEN o_orderkey % 11 = 0
                             THEN round(o_totalprice * 1.1, 2)
                             ELSE o_totalprice END AS o_totalprice
                 FROM orders WHERE o_orderkey % 97 <> 1)
    SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change
    FROM old FULL JOIN new ON old.o_orderkey = new.o_orderkey
    WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
       OR old.o_orderstatus <> new.o_orderstatus
       OR old.o_totalprice <> new.o_totalprice
    """,
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: added / removed / changed keys between two
    derived snapshots of orders (deterministic modulus carve-outs stand in
    for yesterday's and today's drops; the %11 rows get a price bump so the
    'changed' branch is non-vacuous — all three change classes emit rows).

    100 TB: one full-outer join on the snapshot key (both sides shuffle
    once, AQE handles skew), change classification is a post-join
    projection. Unchanged rows — the overwhelming majority — are dropped
    BEFORE any further processing, so downstream CDC work is O(changes).
    For day-over-day production diffs, partition both snapshots by
    ingest_date and diff only the overlapping key ranges."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = o.filter(
        (F.col("o_orderkey") % 97 != 0) & (F.col("o_orderkey") % 5 != 0)
    )
    new = o.filter(F.col("o_orderkey") % 97 != 1).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 11 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
        ).otherwise(F.col("o_totalprice")),
    )
    j = old.alias("old").join(
        new.alias("new"),
        F.col("old.o_orderkey") == F.col("new.o_orderkey"),
        "full_outer",
    )
    change = (
        F.when(F.col("old.o_orderkey").isNull(), "added")
        .when(F.col("new.o_orderkey").isNull(), "removed")
        .otherwise("changed")
    )
    return j.filter(
        F.col("old.o_orderkey").isNull()
        | F.col("new.o_orderkey").isNull()
        | (F.col("old.o_orderstatus") != F.col("new.o_orderstatus"))
        | (F.col("old.o_totalprice") != F.col("new.o_totalprice"))
    ).select(
        F.coalesce(F.col("old.o_orderkey"), F.col("new.o_orderkey")).alias(
            "o_orderkey"
        ),
        change.alias("change"),
    )


@query(
    "join_asof_nearest",
    oracle="""
    SELECT event_id, user_id, near_orderkey FROM (
      SELECT e.event_id, e.user_id, o.o_orderkey AS near_orderkey,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY abs(epoch(o.o_orderdate)
                            - epoch(e.ts - INTERVAL 28 YEAR)), o.o_orderkey
             ) AS rn
      FROM events e JOIN orders o ON e.user_id = o.o_custkey
      WHERE e.user_id < 30
    ) WHERE rn = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-as-of join (direction='nearest', completing the
    backward/forward pair): each probe event matched to the user's order
    with the smallest |order_date - probe_ts| — absolute distance argmin
    with an orderkey tie-break. The probe is shifted into the orders date
    domain (the r01 join_asof_forward vacuous-pass lesson: verify the probe
    actually lands among matches).

    100 TB: same contract as join_asof — the equi-key (user) bounds the
    pair space; the argmin is a per-probe WindowGroupLimit (rn=1 state, not
    a full sort). For time-bucketable workloads, restrict candidates to the
    probe's ±1 covering buckets first (join_interval's decomposition) and
    the per-probe candidate count drops from |user's orders| to O(bucket)."""
    from pyspark.sql.window import Window

    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select(
            "event_id",
            "user_id",
            F.expr("ts - INTERVAL 28 YEAR").alias("probe_ts"),
        )
    )
    o = load(spark, sf_dir, "orders")
    dist = F.abs(
        F.col("o_orderdate").cast("timestamp").cast("long")
        - F.col("probe_ts").cast("timestamp").cast("long")
    )
    # rn=1 over (dist ASC, o_orderkey ASC) == argmin of that struct: min_by
    # partial-aggregates the per-probe fan-out map-side instead of window-
    # sorting the full join output (r14, guide §2.3; same rewrite + tie
    # argument as join_asof).
    return (
        e.join(o, e.user_id == o.o_custkey)
        .groupBy("event_id")
        .agg(
            F.min_by(
                F.struct("user_id", "o_orderkey"),
                F.struct(dist.alias("d"), F.col("o_orderkey")),
            ).alias("k")
        )
        .select(
            "event_id",
            "k.user_id",
            F.col("k.o_orderkey").alias("near_orderkey"),
        )
    )


@query(
    "text_keyword_topterm",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         dfreq AS (SELECT token, count(DISTINCT doc_id) AS dfq FROM tok GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT doc_id, token,
                  round(tf * ln(n_docs::DOUBLE / dfq::DOUBLE), 6) AS tfidf
           FROM tf JOIN dfreq USING (token) CROSS JOIN n)
    SELECT doc_id, token AS keyword, tfidf FROM (
      SELECT doc_id, token, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, token) AS rn
      FROM scored) WHERE rn = 1
    """,
)
def text_keyword_topterm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each document's single highest-tf-idf term (the
    minimal useful auto-tagger, and the composition test that the tf-idf
    relation supports downstream per-doc argmax). Deterministic token
    tie-break.

    100 TB: tf and df are the same two aggregations text_tfidf runs (at
    pipeline scale, materialize the scored relation once and feed both);
    the argmax is WindowGroupLimit-able per doc — rn=1 state, no full
    per-doc sort materialization."""
    from pyspark.sql.window import Window

    from engine.llmops import _tokens

    d = load(spark, sf_dir, "documents")
    tok = _tokens(d)
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("token").agg(F.count_distinct("doc_id").alias("dfq"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("dfq")), 6
            ).alias("tfidf"),
        )
    )
    # rn=1 over (tfidf DESC, token ASC) == argmin of (-tfidf, token):
    # min_by partial-aggregates map-side, replacing the window's shuffle +
    # per-doc sort of the full scored relation (r14, guide §2.3; same
    # rewrite as join_asof). A (tfidf, token) tie emits identical columns
    # either way.
    return (
        scored.groupBy("doc_id")
        .agg(
            F.min_by(
                F.struct("token", "tfidf"),
                F.struct((-F.col("tfidf")).alias("nt"), "token"),
            ).alias("k")
        )
        .select("doc_id", F.col("k.token").alias("keyword"), F.col("k.tfidf").alias("tfidf"))
    )


@query(
    "scan_binary_files",
    # FULL oracle (r06 graduation from ROWS-only): DuckDB's read_blob()
    # reads the same files byte-for-byte — name, size, and the first 4
    # payload bytes (hex) are all independently recomputable. The path is
    # sf0.01-bound because oracle strings are static and the driver runs
    # them at sf=0.01 only (driver contract; driver_sim at another SF
    # would need the matching dir).
    oracle="""
    SELECT parse_filename(filename) AS name,
           CAST(size AS BIGINT) AS length,
           substring(hex(content), 1, 8) AS head_hex
    FROM read_blob('/root/testdata/sf0.01/*.parquet')
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-file ingestion (spark.read.format('binaryFile')): how opaque
    image/audio/video payloads enter a multimodal pipeline — one row per
    file with (path, length, content bytes), here over the corpus's own
    parquet files as stand-in blobs. Emits (name, length, head_hex: first
    4 bytes) — parquet's magic 'PAR1' — proving content bytes actually
    arrive, not just metadata.

    100 TB: binaryFile loads each file WHOLE into one row — right for
    images/audio clips (KB–MB), wrong for large archives; cap input file
    size and set maxPartitionBytes ≥ largest file. Downstream decode is
    multimodal_decode_pipeline's mapInPandas stage; pathGlobFilter +
    recursiveFileLookup do the directory fan-in."""
    b = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        # r06 directory-layout audit: a Spark-written corpus stores each
        # table as a DIRECTORY of part files; without recursive lookup the
        # flat glob finds zero blobs there. The driver corpus is flat, so
        # this is a no-op for the oracle (same 10 files either way).
        .option("recursiveFileLookup", "true")
        .load(sf_dir)
    )
    return (
        b.select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("name"),
            F.col("length"),
            F.hex(F.substring(F.col("content"), 1, 4)).alias("head_hex"),
        )
        .orderBy("name")
    )
