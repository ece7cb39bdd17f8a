"""XML extraction and higher statistical moments (SURVEY §2 extensions; the reference at
/root/reference is an empty directory — SURVEY §2 is the operative spec).

- ``fn_xml_extract``: the xpath_* expression family over synthesized XML —
  the third semi-structured format beside JSON (fn_json_extract) and
  VARIANT (fn_variant_shred).
- ``agg_skew_kurtosis``: 3rd/4th standardized moments per group. Spark's
  skewness/kurtosis are POPULATION g1 / excess g2 — DuckDB's built-ins are
  the sample-corrected forms, so the oracle computes the population
  moments explicitly from avg((x−μ)^k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load


@query(
    "fn_xml_extract",
    oracle="""
    SELECT n_nationkey,
           xml,
           regexp_extract(xml, '<name>([^<]*)</name>', 1) AS name_back,
           CAST(regexp_extract(xml, '<region id="(\\d+)"', 1) AS BIGINT) AS region_back,
           (regexp_extract(xml, '<name>([^<]*)</name>', 1) = n_name) AS roundtrip_ok
    FROM (
      SELECT n_nationkey, n_name,
             '<nation key="' || CAST(n_nationkey AS VARCHAR) || '"><name>' || n_name
               || '</name><region id="' || CAST(n_regionkey AS VARCHAR)
               || '"/></nation>' AS xml
      FROM nation
    ) ORDER BY n_nationkey
    """,
)
def fn_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML path extraction with the native xpath_* expression family over
    deterministically synthesized XML (corpus-derived — we never invent
    external inputs): xpath_string pulls a child element's text,
    xpath_long an attribute, and the round-trip flag proves
    serialize→extract is lossless for this shape. Completes the
    semi-structured trio: JSON (fn_json_extract), VARIANT
    (fn_variant_shred), XML here — the legacy-feed format every
    long-lived warehouse still ingests.

    100 TB: xpath_* are JVM expressions (VTD-style parse per row, no
    Python); for repeated multi-path extraction convert once to VARIANT
    or a struct instead of re-parsing per path — same ingest-once rule as
    fn_variant_shred."""
    n = load(spark, sf_dir, "nation")
    xml = F.concat(
        F.lit('<nation key="'),
        F.col("n_nationkey").cast("string"),
        F.lit('"><name>'),
        F.col("n_name"),
        F.lit('</name><region id="'),
        F.col("n_regionkey").cast("string"),
        F.lit('"/></nation>'),
    )
    d = n.select("n_nationkey", "n_name", xml.alias("xml"))
    return d.select(
        "n_nationkey",
        "xml",
        F.expr("xpath_string(xml, '/nation/name')").alias("name_back"),
        F.expr("xpath_long(xml, '/nation/region/@id')").alias("region_back"),
        (F.expr("xpath_string(xml, '/nation/name')") == F.col("n_name")).alias(
            "roundtrip_ok"
        ),
    ).orderBy("n_nationkey")


@query(
    "agg_skew_kurtosis",
    oracle="""
    WITH mu AS (
      SELECT l_returnflag, avg(l_extendedprice) AS m,
             count(*) AS n
      FROM lineitem GROUP BY 1
    ),
    mom AS (
      SELECT l.l_returnflag,
             avg((l_extendedprice - m) ^ 2) AS m2,
             avg((l_extendedprice - m) ^ 3) AS m3,
             avg((l_extendedprice - m) ^ 4) AS m4,
             max(n) AS n
      FROM lineitem l JOIN mu ON l.l_returnflag = mu.l_returnflag
      GROUP BY 1
    )
    SELECT l_returnflag, n,
           round(m3 / (m2 ^ 1.5), 4) AS skew,
           round(m4 / (m2 ^ 2) - 3, 4) AS kurt
    FROM mom ORDER BY l_returnflag
    """,
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher moments per group: skewness (g1) and excess kurtosis (g2) of
    the price distribution — the distribution-shape profile a data-quality
    monitor tracks beside mean/stddev (agg_global) and percentiles.
    Spark's built-ins are the POPULATION forms; DuckDB's are
    sample-corrected, so the oracle computes m3/m2^1.5 and m4/m2²−3
    explicitly from central moments — the engine-neutral definition.

    100 TB: Spark computes both in ONE streaming pass (central-moment
    update formulas, partial+final mergeable) — no μ-then-residuals double
    scan like the oracle's two-join shape; that asymmetry is exactly why
    the built-in exists."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.skewness("l_extendedprice"), 4).alias("skew"),
            F.round(F.kurtosis("l_extendedprice"), 4).alias("kurt"),
        )
        .orderBy("l_returnflag")
    )
