"""Round-4 batch 19b: XML extraction, higher statistical moments, and the
STREAMING Python DataSource (SURVEY §2 extensions; the reference at
/root/reference is an empty directory — SURVEY §2 is the operative spec).

- ``fn_xml_extract``: the xpath_* expression family over synthesized XML —
  the third semi-structured format beside JSON (fn_json_extract) and
  VARIANT (fn_variant_shred).
- ``agg_skew_kurtosis``: 3rd/4th standardized moments per group. Spark's
  skewness/kurtosis are POPULATION g1 / excess g2 — DuckDB's built-ins are
  the sample-corrected forms, so the oracle computes the population
  moments explicitly from avg((x−μ)^k).
- ``scan_python_stream_source``: the streaming half of the Spark 4 Python
  DataSource API (SimpleDataSourceStreamReader) — offset-managed ingest
  from a bespoke API; the batch half is scan_python_datasource.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.streaming import run_stream
from engine.tables import load, sftag


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


def _register_seq_stream_source(spark: SparkSession) -> None:
    """Register the demo streaming Python DataSource once per session."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class SeqStreamReader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            self.n = int(options.get("n", 1000))

        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            i = start["i"]
            if i >= self.n:
                return iter([]), start
            # One read() call returns the whole sequence: Python stream
            # sources don't support Trigger.AvailableNow (Spark falls back
            # to single-batch execution), so the batch must be the full
            # deterministic payload for the FULL oracle to hold.
            return iter([(x, x * x, f"ev-{x}") for x in range(i, self.n)]), {
                "i": self.n
            }

        def readBetweenOffsets(self, start, end):
            return iter(
                [(x, x * x, f"ev-{x}") for x in range(start["i"], end["i"])]
            )

    class SeqStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "sg_seq_stream"

        def schema(self):
            return "i bigint, sq bigint, tag string"

        def simpleStreamReader(self, schema):
            return SeqStreamReader(self.options)

    try:
        spark.dataSource.register(SeqStreamSource)
    except Exception:
        pass  # already registered in this session


@query(
    "scan_python_stream_source",
    oracle="""
    SELECT i, i * i AS sq, 'ev-' || CAST(i AS VARCHAR) AS tag
    FROM generate_series(0, 999) AS g(i)
    ORDER BY i
    """,
)
def scan_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING half of the Spark 4 Python DataSource API: a custom
    source implementing SimpleDataSourceStreamReader (initialOffset / read
    / readBetweenOffsets) feeding a real Structured Streaming query into a
    memory sink. Offset management — the contract that gives a bespoke API
    exactly-once replay — is the point: readBetweenOffsets re-serves a
    committed range after failure. Python stream sources don't support
    Trigger.AvailableNow (single-batch fallback, warned at runtime), so
    the demo source emits its full deterministic sequence in one batch,
    making the memory-sink contents FULL-oracle-checkable.

    100 TB/day: this is the entry point for queue-like internal APIs with
    no native connector; the simple reader funnels through the driver
    (prefetch + serialize), so high-throughput sources should implement
    the partition-planning DataSourceStreamReader variant instead — same
    trade as the batch reader's Arrow path (scan_python_datasource)."""
    from engine.session import tune

    tune(spark)
    _register_seq_stream_source(spark)
    df = spark.readStream.format("sg_seq_stream").option("n", "1000").load()
    return run_stream(df, f"sg_pysds_{sftag(sf_dir)}", sf_dir).orderBy("i")
