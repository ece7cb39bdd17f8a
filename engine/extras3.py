"""VARIANT semi-structured shredding (SURVEY §2.H extension).

- ``fn_variant_shred``: the modern semi-structured path. ``parse_json`` →
  VARIANT binary encoding → typed ``variant_get`` extraction. Unlike
  get_json_object (string re-parse per path — §2.H fn_json_extract), a
  VARIANT column parses ONCE at ingest and every downstream path extraction
  is a binary traversal; at 100 TB that is the difference between N regex
  scans of the raw text and one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load


@query(
    "fn_variant_shred",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           (json_extract(props, '$.missing') IS NOT NULL) AS has_missing,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod
    FROM events
    """,
)
def fn_variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured shredding via VARIANT: parse the props JSON once into
    Spark's binary VARIANT encoding, then extract typed paths — present key
    as BIGINT, absent key as a null probe, and arithmetic directly on the
    extracted value. The VARIANT column itself never reaches the output
    (binary, engine-specific); only the shredded scalars do.

    100 TB: ingest-once-parse-once. A VARIANT column in parquet stores the
    binary encoding + shredded subcolumns; path extraction is a pointer
    walk and never re-tokenizes text, while get_json_object re-parses the
    whole string per path per row."""
    e = load(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k"),
        F.expr("variant_get(parse_json(props), '$.missing', 'string') IS NOT NULL").alias(
            "has_missing"
        ),
        (F.expr("variant_get(parse_json(props), '$.k', 'bigint')") % 10).alias("k_mod"),
    )
