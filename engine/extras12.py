"""Extras batch 12 module (r05 continuation): robust statistics (MAD),
vocabulary richness, covariance matrices, exact DECIMAL aggregation, and
CSV dialect round-trips.

SURVEY §2 families extended: §2.D (median absolute deviation, pairwise
covariance/correlation in long form, DECIMAL-exact sums), §2.I (hapax
ratio — vocabulary-richness profiling), §2.A (CSV dialect matrix:
custom separator/quote/escape/nullValue).

Determinism discipline (SURVEY §5.3): MAD is interpolated-percentile over
exact absolute deviations (same interpolation rule both engines, as
agg_percentile proved); covariances are single-pass moments rounded on both
sides; DECIMAL sums are EXACT by construction (the key's whole point — no
rounding needed, the driver hash compares identical digit strings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load, sftag
from engine.tmpdirs import scratch_dir


@query(
    "agg_mad_robust",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS m
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT li.l_returnflag,
           count(*) AS n,
           round(any_value(med.m), 4) AS median_price,
           round(quantile_cont(abs(li.l_extendedprice - med.m), 0.5), 4)
             AS mad_price
    FROM lineitem li JOIN med ON li.l_returnflag = med.l_returnflag
    GROUP BY li.l_returnflag
    """,
)
def agg_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion measure
    that ignores the outliers stddev chases: median of |x − group median|.
    Two exact interpolated percentiles chained (the same interpolation
    rule agg_percentile pinned cross-engine).

    Plan: pass 1 aggregates the group medians (3 rows → broadcast); pass 2
    joins them back and aggregates the absolute deviations — two scans,
    two shuffles on the same low-cardinality key. That two-pass shape is
    inherent to nested order statistics; at 100 TB the first pass can
    switch to approx_percentile when a 1e-4-relative median suffices."""
    li = load(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("m")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.round(F.any_value("m"), 4).alias("median_price"),
            F.round(
                F.percentile(F.abs(F.col("l_extendedprice") - F.col("m")), 0.5),
                4,
            ).alias("mad_price"),
        )
    )


@query(
    "text_hapax_ratio",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    counts AS (
      SELECT source, t, count(*) AS c FROM tok GROUP BY source, t
    )
    SELECT source,
           count(*) AS vocab,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS hapax_ratio
    FROM counts GROUP BY source
    """,
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena ratio per source: the share of each source's
    vocabulary that occurs exactly once — the vocabulary-richness /
    OCR-noise diagnostic (noisy sources show inflated hapax mass; the
    companion tail view of text_zipf_fit's head).

    Plan: one (source, token) count with map-side partial aggregation,
    then a per-source rollup of those counts — the second aggregate's
    input is vocabulary-sized, not corpus-sized. Integer arithmetic until
    one rounded division."""
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select("source", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("c"))
    )
    return counts.groupBy("source").agg(
        F.count("*").alias("vocab"),
        F.sum((F.col("c") == 1).cast("bigint")).alias("hapax"),
        F.round(
            F.sum((F.col("c") == 1).cast("double")) / F.count("*"), 6
        ).alias("hapax_ratio"),
    )


@query(
    "agg_covariance_matrix",
    oracle="""
    WITH s AS (
      SELECT round(covar_pop(l_quantity, l_extendedprice), 4) AS c12,
             round(covar_pop(l_quantity, l_discount), 6) AS c13,
             round(covar_pop(l_quantity, l_tax), 6) AS c14,
             round(covar_pop(l_extendedprice, l_discount), 4) AS c23,
             round(covar_pop(l_extendedprice, l_tax), 4) AS c24,
             round(covar_pop(l_discount, l_tax), 8) AS c34,
             round(corr(l_quantity, l_extendedprice), 6) AS r12,
             round(corr(l_quantity, l_discount), 6) AS r13,
             round(corr(l_quantity, l_tax), 6) AS r14,
             round(corr(l_extendedprice, l_discount), 6) AS r23,
             round(corr(l_extendedprice, l_tax), 6) AS r24,
             round(corr(l_discount, l_tax), 6) AS r34
      FROM lineitem
    )
    SELECT 'quantity' AS m1, 'extendedprice' AS m2, c12 AS cov, r12 AS corr
    FROM s
    UNION ALL SELECT 'quantity', 'discount', c13, r13 FROM s
    UNION ALL SELECT 'quantity', 'tax', c14, r14 FROM s
    UNION ALL SELECT 'extendedprice', 'discount', c23, r23 FROM s
    UNION ALL SELECT 'extendedprice', 'tax', c24, r24 FROM s
    UNION ALL SELECT 'discount', 'tax', c34, r34 FROM s
    """,
)
def agg_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise covariance/correlation matrix of the four lineitem
    measures, upper triangle in long form — the feature-correlation audit
    that precedes any modeling on tabular measures.

    Plan: all 12 moments are single-pass partial-aggregable and computed
    in ONE global aggregate (one scan, one 1-row reduce); the melt to
    long form is a stack() over that single row — no per-pair scans.
    Rounding scales match each pair's magnitude so float association
    noise stays below the last kept digit."""
    li = load(spark, sf_dir, "lineitem")
    s = li.agg(
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("c12"),
        F.round(F.covar_pop("l_quantity", "l_discount"), 6).alias("c13"),
        F.round(F.covar_pop("l_quantity", "l_tax"), 6).alias("c14"),
        F.round(F.covar_pop("l_extendedprice", "l_discount"), 4).alias("c23"),
        F.round(F.covar_pop("l_extendedprice", "l_tax"), 4).alias("c24"),
        F.round(F.covar_pop("l_discount", "l_tax"), 8).alias("c34"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("r12"),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias("r13"),
        F.round(F.corr("l_quantity", "l_tax"), 6).alias("r14"),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias("r23"),
        F.round(F.corr("l_extendedprice", "l_tax"), 6).alias("r24"),
        F.round(F.corr("l_discount", "l_tax"), 6).alias("r34"),
    )
    return s.selectExpr(
        "stack(6, "
        "'quantity', 'extendedprice', c12, r12, "
        "'quantity', 'discount', c13, r13, "
        "'quantity', 'tax', c14, r14, "
        "'extendedprice', 'discount', c23, r23, "
        "'extendedprice', 'tax', c24, r24, "
        "'discount', 'tax', c34, r34) AS (m1, m2, cov, corr)"
    )


@query(
    "agg_decimal_exact",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR)
             AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR)
             AS sum_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(12,2))
                       - CAST(l_discount AS DECIMAL(12,2)))) AS VARCHAR)
             AS sum_disc_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL aggregation — the type-system counterpart of the
    float Q1: measures cast to DECIMAL(12,2) so the sums are EXACT
    integers-in-disguise with no rounding discipline needed; both engines
    must produce digit-identical totals (emitted as strings because
    decimal scale, not value, is the only cross-engine wobble —
    Spark's (12,2)×(12,4) product rules and DuckDB's differ in declared
    scale while agreeing numerically; VARCHAR of the sum normalizes the
    comparison to the digits).

    Plan: identical to agg_group_hash — partial+final hash aggregate, one
    shuffle; DECIMAL partials are 128-bit integer adds, associative and
    order-free, which is exactly WHY exactness holds at any parallelism.
    At 100 TB decimal sums are the audit-grade path (finance-exact),
    bought at ~2× the CPU of double sums."""
    li = load(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(12,2)")
    p = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(12,2)")
    one = F.lit(1).cast("decimal(12,2)")
    return li.groupBy("l_returnflag").agg(
        F.sum(q).cast("string").alias("sum_qty"),
        F.sum(p).cast("string").alias("sum_price"),
        F.sum(p * (one - disc)).cast("string").alias("sum_disc_price"),
    )


@query(
    "scan_csv_dialect",
    oracle="""
    SELECT event_id, event_type, value, props
    FROM events WHERE event_id % 50 = 0
    """,
)
def scan_csv_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV dialect round-trip: pipe separator, single-quote quoting,
    backslash escape, custom NULL token, header — written and read back
    with the same dialect and a pinned schema; the oracle is the source
    slice itself, so any mis-parse (a quote swallowed, a delimiter split
    inside the JSON props) breaks the hash. Completes the CSV matrix
    beside roundtrip/malformed/multiline.

    Plan: the write partitions map-side (no shuffle); the read is a
    header-skipping parallel text scan with the pinned schema (no
    inference job). Dialect parsing is per-row, stays in the scan."""
    e = load(spark, sf_dir, "events").filter(F.col("event_id") % 50 == 0)
    src = e.select("event_id", "event_type", "value", "props")
    out = scratch_dir(prefix=f"sg-csv-dialect-{sftag(sf_dir)}-")
    opts = {
        "sep": "|",
        "quote": "'",
        "escape": "\\",
        "nullValue": "@NULL@",
        "header": "true",
    }
    src.write.mode("overwrite").options(**opts).csv(out)
    return (
        spark.read.options(**opts)
        .schema("event_id bigint, event_type string, value double, props string")
        .csv(out)
    )
