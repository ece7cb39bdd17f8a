"""Named tests for engine/pipeline.py (pipeline_stream_serving):
batch equivalence, quality-gate accounting, and multi-batch merge
evidence."""

from __future__ import annotations

from tests.conftest import SF_DIR


def _q(name):
    from engine.registry import collect

    queries, _ = collect()
    return queries[name]


def test_serving_equals_batch_and_gates(spark):
    from engine.tables import load
    from pyspark.sql import functions as F

    rows = {
        (r["window_start"], r["event_type"]): (r["cnt"], r["total_value"])
        for r in _q("pipeline_stream_serving")(spark, SF_DIR).collect()
    }
    assert rows
    batch = {
        (r["window_start"], r["event_type"]): (r["cnt"], r["total_value"])
        for r in load(spark, SF_DIR, "events")
        .filter((F.col("event_type") != "error") & (F.col("value") >= 0))
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .collect()
    }
    assert rows == batch
    # quality gate really dropped the error events
    assert all(t != "error" for _, t in rows)
    n_err = (
        load(spark, SF_DIR, "events").filter(F.col("event_type") == "error").count()
    )
    assert n_err > 0
    assert sum(c for c, _ in rows.values()) == (
        load(spark, SF_DIR, "events")
        .filter((F.col("event_type") != "error") & (F.col("value") >= 0))
        .count()
    )
    # the 3-way event_id split guarantees every batch contributed: any
    # window with cnt >= 3 must exceed what a single batch could hold
    # only if merging summed across batches — check a sample window's
    # count equals the sum of its three per-batch slices
    w, t = max(rows, key=lambda k: rows[k][0])
    per_batch = [
        load(spark, SF_DIR, "events")
        .filter(
            (F.col("event_type") == t)
            & (F.col("value") >= 0)
            & (F.col("event_id") % 3 == i)
            & (F.date_trunc("hour", "ts") == w)
        )
        .count()
        for i in range(3)
    ]
    assert sum(per_batch) == rows[(w, t)][0]
    assert sum(1 for c in per_batch if c > 0) >= 2  # genuinely multi-batch
