"""Extras batch 30 module (r05 continuation): nested-struct predicate
pushdown and incremental aggregate-table maintenance.

SURVEY §2 families extended: §2.A+§4 (filters and schema pruning that
reach INTO struct columns — the nested-data scan contract), §2.M (batch
incremental view maintenance: an aggregate table advanced by delta
batches provably equals the full recompute — the cheap-refresh pattern
behind every reporting mart).

Determinism discipline (SURVEY §5.3): the struct is synthesized from flat
columns so the oracle recomputes from the flat relation; the incremental
merge is associative integer/sum arithmetic with the batch order fixed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.streaming import merge_table
from engine.tables import load, sftag
from engine.tmpdirs import scratch_dir


@query(
    "scan_parquet_nested_pushdown",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
    FROM events
    WHERE user_id BETWEEN 10 AND 40
    GROUP BY event_type
    """,
)
def scan_parquet_nested_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct scan contract: events re-written with their
    dimensions folded into a `meta STRUCT<user_id, event_type>` column,
    then queried with a RANGE FILTER ON THE NESTED FIELD
    (meta.user_id BETWEEN ...). The plan must show both halves of the
    contract (pinned in tests): the predicate pushed into the parquet
    scan as a nested-column filter, and schema pruning reading only the
    struct fields the query touches — nested data is not an excuse for
    full-struct IO.

    100 TB: event payloads ARE nested in practice; without nested
    pushdown + pruning every query pays the whole struct's IO and
    post-scan filtering. The capability is conf-on-by-default
    (spark.sql.optimizer.nestedSchemaPruning.enabled); this key keeps it
    regression-pinned."""
    base = scratch_dir(prefix=f"sg-nested-{sftag(sf_dir)}-")
    load(spark, sf_dir, "events").select(
        "event_id",
        F.struct("user_id", "event_type").alias("meta"),
        "value",
    ).write.mode("overwrite").parquet(base)
    back = spark.read.parquet(base)
    return (
        back.filter(F.col("meta.user_id").between(10, 40))
        .groupBy(F.col("meta.event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
    )


@query(
    "etl_incremental_agg_merge",
    oracle="""
    SELECT event_type,
           count(*) AS cnt,
           round(sum(value), 2) AS total,
           TRUE AS equals_full_recompute
    FROM events
    GROUP BY event_type
    """,
)
def etl_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-table maintenance, batch flavor: the
    per-type aggregate table is advanced by three delta batches
    (event_id % 3 slices) — each refresh aggregates ONLY its delta and
    merges (insert-new / sum-existing) into the stored table — and the
    final table is compared IN-QUERY against a full recompute; the
    emitted flag certifies they match to the cent.

    This is the mart-refresh contract: nightly deltas cost
    O(delta + table), never O(history). It works exactly when the
    aggregate is algebraic (count/sum here; min/max too — but NOT raw
    median/distinct, which need sketch state: agg_hll_sketch_merge shows
    the mergeable-sketch version of the same idea). 100 TB: the delta
    aggregate is one partial-agg pass over the new partition; the merge
    shuffles table-cardinality rows only."""
    path = f"{scratch_dir(prefix=f'sg-incagg-{sftag(sf_dir)}-')}/table"
    e = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    for i in range(3):
        delta = (
            e.filter(F.col("event_id") % 3 == i)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"))
        )
        # The merged table is |event_type| rows (5 here): one file.
        merge_table(path, delta, ["event_type"], 1)
    table = spark.read.parquet(path)
    full = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("f_cnt"), F.round(F.sum("value"), 2).alias("f_total")
    )
    return (
        table.select(
            "event_type", "cnt", F.round(F.col("sv"), 2).alias("total")
        )
        .join(full, "event_type", "full")
        .select(
            "event_type",
            "cnt",
            "total",
            (
                (F.col("cnt") == F.col("f_cnt"))
                & (F.col("total") == F.col("f_total"))
            ).alias("equals_full_recompute"),
        )
    )
