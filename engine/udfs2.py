"""UDF surface batch 2 (r05 continuation): Spark-4 UDTF TABLE arguments,
the mapInPandas iterator contract, and the native XML source round-trip.

SURVEY §2.K/§2.A extensions: `udtf_table_argument` exercises the polymorphic
table-function path (SELECT * FROM f(TABLE(...) PARTITION BY k)) — the SQL
macro mechanism for per-group Python logic; `udf_mapinpandas_stream` pins
the iterator-of-batches contract (batch boundaries must not change results);
`scan_xml_roundtrip` covers Spark 4's built-in XML reader/writer.

Determinism discipline (SURVEY §5.3): the UDTF aggregates integers and
rounds its one float sum per partition; mapInPandas computes row-local
integers; XML round-trips scalar columns with no floats-in-text ambiguity
(doubles are written by Spark and re-parsed by Spark — same formatter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load, sftag
from engine.tmpdirs import scratch_dir


@query(
    "udtf_table_argument",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events WHERE user_id < 40
    GROUP BY user_id
    """,
)
def udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF consuming a TABLE argument with PARTITION BY — the
    Spark 4 polymorphic-table-function surface: each user's rows stream
    into one UDTF instance (eval per row, terminate per partition), so
    arbitrary per-group Python logic runs without applyInPandas. Here the
    per-partition logic is a count+sum so the oracle is a plain grouped
    aggregate — the value is exercising the calling convention, not the
    arithmetic.

    Plan: PARTITION BY shuffles once on user_id, then the UDTF runs
    inside the Python worker per partition-group with O(1) state (two
    accumulators). The float sum accumulates in partition-stream order —
    a FIXED order per group (Spark sorts table-arg partitions) — and is
    rounded to 4 anyway. At 100 TB this is the escape hatch for logic
    SQL can't express, at Python-worker throughput (use it for control
    flow, not bulk math)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="user_id bigint, n_events bigint, total_value double")
    class PerUserSummary:
        def __init__(self):
            self._key = None
            self._n = 0
            self._sum = 0.0

        def eval(self, row):
            self._key = row["user_id"]
            self._n += 1
            self._sum += row["value"]

        def terminate(self):
            if self._key is not None:
                yield self._key, self._n, round(self._sum, 4)

    load(spark, sf_dir, "events").filter(
        F.col("user_id") < 40
    ).createOrReplaceTempView("events_udtf_src")
    spark.udtf.register("sg_per_user_summary", PerUserSummary)
    return spark.sql(
        """
        SELECT * FROM sg_per_user_summary(
          TABLE(SELECT user_id, value FROM events_udtf_src)
          PARTITION BY user_id
        )
        """
    )


@query(
    "udf_mapinpandas_stream",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           CAST(length(text) AS BIGINT) AS n_chars_measured
    FROM documents
    """,
)
def udf_mapinpandas_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas iterator contract: the transform receives an ITERATOR
    of Arrow batches and yields an iterator back — results must be
    invariant to batch boundaries (asserted in tests by forcing 1-row
    batches). The per-row work here (token/char counts) is deliberately
    SQL-expressible so the oracle pins exactness; real uses are the
    decode/tokenize hooks where Python is unavoidable.

    Plan: zero shuffle — a map-partitions over the scan with Arrow
    transfer both ways; memory is bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch regardless of partition
    size (the reason the iterator form exists)."""
    import pandas as pd

    d = load(spark, sf_dir, "documents").select("doc_id", "text")

    def counts(batches):
        for pdf in batches:
            # .str accessors NULL-propagate (NaN), matching the oracle's
            # len(string_split(NULL)) = NULL; nullable Int64 keeps the
            # Arrow bigint schema (r12 NULL-text hardening)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tok": pdf["text"].str.split(" ").str.len().astype("Int64"),
                    "n_chars_measured": pdf["text"].str.len().astype("Int64"),
                }
            )

    return d.mapInPandas(
        counts, schema="doc_id bigint, n_tok bigint, n_chars_measured bigint"
    )


@query(
    "scan_xml_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 40 = 0
    """,
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML round-trip (Spark 4 built-in XML source): an orders
    slice written with rowTag granularity and read back with a pinned
    schema — the oracle is the source slice, so element naming, escaping,
    and numeric re-parse must all survive. Completes the format matrix
    beside parquet/ORC/CSV×4/JSON-lines/text/binary.

    Plan: both sides are parallel map-side scans (XML parse is per-row
    within rowTag splits); the pinned schema avoids the inference job.
    XML is the interchange format here, not the analytics format — at
    100 TB you land XML once and convert to parquet (this key IS that
    landing step)."""
    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 40 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    )
    out = scratch_dir(prefix=f"sg-xml-rt-{sftag(sf_dir)}-")
    src.write.mode("overwrite").option("rowTag", "order").format("xml").save(out)
    return (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(
            "o_orderkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderpriority string"
        )
        .load(out)
    )
