"""Extras batch 31 module (r05 continuation): user-journey path mining.

SURVEY §2 families extended: §2.E+§2.D (top journey paths — each user's
first-k ordered event types folded into a path string, then ranked: the
product-analytics "common flows" report).

Determinism discipline (SURVEY §5.3): paths take the first 5 events in
(ts, event_id) order; the path top-k is tie-broken by path string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from engine.registry import query
from engine.tables import load


@query(
    "agg_top_paths",
    oracle="""
    WITH firstk AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM firstk WHERE rn <= 5
      GROUP BY user_id
    ),
    counted AS (
      SELECT path, count(*) AS n_users FROM paths GROUP BY path
    )
    SELECT path, n_users, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (ORDER BY n_users DESC, path) AS rnk
          FROM counted)
    WHERE rnk <= 10
    """,
)
def agg_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey-path mining: each user's first five events (total
    (ts, event_id) order) fold into a '>'-joined path string, and the
    ten most common paths are ranked — the 'how do users actually start'
    report behind onboarding analysis. Prefix length 5 keeps the path
    domain bounded (|types|^5 worst case, far fewer in practice).

    Plan: one user-keyed window prunes to the first 5 rows per user
    (WindowGroupLimit applies), the fold is an ordered in-group
    aggregation, and the path count + top-10 run over the path-domain
    relation. 100 TB: bounded-prefix paths are the standard trick that
    keeps journey mining from becoming arbitrary-length sequence
    explosion; longer horizons go to win_pattern_match's regex-style
    matcher instead."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firstk = e.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    paths = (
        firstk.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))
    wr = Window.orderBy(F.col("n_users").desc(), "path")
    return (
        counted.withColumn("rnk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rnk") <= 10)
    )


