"""Extras batch 33 module (r05 continuation): rounding-mode semantics and
sweep-line concurrency.

SURVEY §2 families extended: §2.H (round vs bround: HALF_UP vs HALF_EVEN
on exact .5 ties — the financial-rounding contract, aligned
engine-by-engine), §2.E (the sweep-line: interval starts/ends as ±1
events, running sum = concurrent sessions, per-day peak —
max-concurrency without interval self-joins).

Determinism discipline (SURVEY §5.3): tie values are exact dyadic
numbers (k + 0.5 is representable); sweep events order by
(ts, delta, event_id) so starts/ends at the same instant resolve
identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from engine.registry import query
from engine.tables import load


@query(
    "fn_round_half_even",
    oracle="""
    WITH ties AS (
      SELECT o_orderkey, (o_orderkey % 10) + 0.5 AS v
      FROM orders WHERE o_orderkey <= 200
    )
    SELECT o_orderkey, v,
           CAST(round(v, 0) AS DOUBLE) AS half_up,
           CAST(round_even(v, 0) AS DOUBLE) AS half_even,
           (CAST(round(v, 0) AS DOUBLE) != CAST(round_even(v, 0) AS DOUBLE))
             AS modes_differ
    FROM ties
    """,
)
def fn_round_half_even(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rounding-mode semantics on EXACT ties: values k + 0.5 (dyadic —
    representable, so the tie is real, not float noise) rounded under
    both contracts side by side: round() = HALF_UP (away from zero:
    2.5→3) vs bround() = HALF_EVEN (banker's: 2.5→2, 3.5→4). The
    modes_differ flag marks exactly the rows where the ambient mode
    changes the answer — even k, where HALF_EVEN rounds down.

    Engine alignment (the point of the key): Spark round ↔ DuckDB round
    (both away-from-zero on .5), Spark bround ↔ DuckDB round_even.
    Financial aggregation at 100 TB standardizes on HALF_EVEN precisely
    because HALF_UP biases sums upward by ~0.5 per tie — across billions
    of rows that bias is material (§5.3 rule 6's formal sibling)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    v = (F.col("o_orderkey") % 10) + 0.5
    return o.select(
        "o_orderkey",
        v.alias("v"),
        F.round(v, 0).cast("double").alias("half_up"),
        F.bround(v, 0).cast("double").alias("half_even"),
        (F.round(v, 0).cast("double") != F.bround(v, 0).cast("double")).alias(
            "modes_differ"
        ),
    )


@query(
    "win_concurrency_sweep",
    oracle="""
    WITH ev AS (
      SELECT ts, 1 AS delta, event_id FROM events
      UNION ALL
      SELECT ts + INTERVAL 30 MINUTE, -1, event_id FROM events
    ),
    run AS (
      SELECT date_trunc('day', ts) AS day,
             sum(delta) OVER (ORDER BY ts, delta, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS concurrent
      FROM ev
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(max(concurrent) AS BIGINT) AS peak_concurrent
    FROM run GROUP BY day
    """,
)
def win_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line concurrency: each event opens a 30-minute session;
    starts become +1 events, ends −1, and the running sum over the
    merged timeline IS the number of concurrent sessions at every
    instant — reported as the per-day peak. The classic 'max concurrent
    users' question WITHOUT an interval self-join (which is O(n²) in the
    overlap density; the sweep is O(n log n) in the one sort).

    Tie policy is explicit: at the same instant, ends (−1) sort before
    starts (+1) via the delta sort key, so a back-to-back session chain
    never double-counts. Plan: one union, one global ordered running
    sum — at 100 TB partition the sweep by day (sessions can't span the
    boundary here) and it parallelizes per day."""
    e = load(spark, sf_dir, "events")
    starts = e.select(F.col("ts"), F.lit(1).alias("delta"), "event_id")
    ends = e.select(
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("ts"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    ev = starts.union(ends)
    w = Window.orderBy("ts", "delta", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    run = ev.select(
        F.date_trunc("day", "ts").alias("day"),
        F.sum("delta").over(w).alias("concurrent"),
    )
    return run.groupBy("day").agg(
        F.max("concurrent").cast("long").alias("peak_concurrent")
    )
