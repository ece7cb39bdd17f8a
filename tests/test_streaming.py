"""Structured Streaming tests (SURVEY §5.4): AvailableNow replay of the events
corpus compared to batch equivalents, plus synthetic late/duplicate injection
for the watermark operators — the semantics the DuckDB oracle can't check."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR


def _write_batches(spark, rows_per_file):
    """Write each row-list as one parquet file in a fresh dir, with strictly
    increasing mtimes so the file source replays them in order."""
    src = tempfile.mkdtemp(prefix="sg-late-src-")
    for i, rows in enumerate(rows_per_file):
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
        sub = tempfile.mkdtemp(prefix=f"sg-late-part{i}-")
        df.coalesce(1).write.mode("overwrite").parquet(sub)
        part = next(f for f in os.listdir(sub) if f.endswith(".parquet"))
        dest = f"{src}/batch{i}.parquet"
        os.rename(f"{sub}/{part}", dest)
        os.utime(dest, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
    return src


def _run_stream(df, name, mode="append", max_files=None):
    ckpt = tempfile.mkdtemp(prefix=f"sg-ckpt-{name}-")
    w = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    q = w.start()
    q.awaitTermination()
    return df.sparkSession.table(name)


def test_stream_tumbling_equals_batch(spark):
    """readStream replay of events + complete-mode window agg == batch agg."""
    from engine.registry import collect
    from engine.streaming import read_events_stream

    s = read_events_stream(spark, SF_DIR).withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "event_type", "cnt", "sum_value")
    )
    streamed = _run_stream(agg, "sg_t_tumbling", mode="complete").toPandas()
    queries, _ = collect()
    batch = queries["stream_tumbling_1h"](spark, SF_DIR).toPandas()
    key = ["window_start", "event_type"]
    a = streamed.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a[key + ["cnt", "sum_value"]].values == b[key + ["cnt", "sum_value"]].values).all()


def test_stateful_counter_matches_batch(spark):
    """applyInPandasWithState final counters == batch groupBy().count()."""
    from engine.registry import collect
    from engine.tables import load

    queries, _ = collect()
    streamed = queries["stream_stateful_counter"](spark, SF_DIR).toPandas()
    # update-mode may emit a row per trigger; the last (max) value is final
    final = streamed.groupby("user_id")["n_events"].max()
    batch = (
        load(spark, SF_DIR, "events").groupBy("user_id").count().toPandas()
        .set_index("user_id")["count"]
    )
    assert final.sort_index().equals(batch.sort_index().astype(final.dtype))


def test_watermark_dedup_distinct_ids(spark):
    """Dedup over the corpus keeps exactly the distinct event_ids."""
    from engine.registry import collect
    from engine.tables import load

    queries, _ = collect()
    n_stream = queries["stream_watermark_dedup"](spark, SF_DIR).count()
    n_distinct = load(spark, SF_DIR, "events").select("event_id").distinct().count()
    assert n_stream == n_distinct


def test_late_data_dropped(spark):
    """A row older than the watermark arriving in a later batch is excluded
    from its (already-finalized) window."""
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)
    # Watermark advances one batch behind the data that establishes it
    # (computed at batch commit, applied from the next batch), so the late
    # row arrives two files after the 11:59 event that sets wm = 11:29.
    src = _write_batches(
        spark,
        [
            [(1, t(10, 0), 1), (2, t(10, 30), 1), (3, t(11, 59), 1)],
            [(5, t(12, 30), 1)],
            # late: 10:15 is far behind the now-active watermark
            [(4, t(10, 15), 1), (6, t(13, 0), 1)],
        ],
    )
    s = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        s.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").alias("ws"), "cnt")
    )
    out = _run_stream(agg, "sg_t_late").toPandas()
    w10 = out[out.ws == t(10, 0)]
    assert len(w10) == 1, f"window 10:00 should be finalized once, got {out}"
    assert int(w10.cnt.iloc[0]) == 2, "late event_id=4 must NOT be counted"


def test_stream_late_data_key_drops_jan1(spark):
    """The stream_late_data queries() key: Jan-1 events are re-delivered a
    file AFTER the watermark passed them — no Jan-1 window may be emitted,
    and every emitted window must match the batch count over Jan-2+ events."""
    import pandas as pd

    from engine.registry import collect
    from engine.tables import load

    queries, _ = collect()
    out = queries["stream_late_data"](spark, SF_DIR).toPandas()
    assert len(out) > 0
    cutoff = pd.Timestamp("2024-01-02")
    assert (out.window_start >= cutoff).all(), "late Jan-1 window leaked through"
    batch = (
        load(spark, SF_DIR, "events")
        .filter(F.col("ts") >= "2024-01-02 00:00:00")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"))
        .count()
        .toPandas()
        .set_index("window_start")["count"]
    )
    for ws, cnt in zip(out.window_start, out.cnt):
        assert int(batch.loc[ws]) == int(cnt), (ws, cnt, batch.loc[ws])


def test_stream_source_reads_directory_layout(spark, tmp_path):
    """r06 regression: a Spark-WRITTEN events corpus is a directory of part
    files, and the old symlink-a-file source silently streamed ZERO rows
    from it (the 5x rehearsal's negative exponents were this bug). The
    stream over a directory layout must equal the stream over the driver's
    single-file layout."""
    import shutil

    from engine.registry import collect
    from tests.conftest import SF_DIR

    queries, _ = collect()
    dir_sf = str(tmp_path / "dircorpus")
    import os

    os.makedirs(dir_sf)
    # events as a Spark-written directory; the key only reads events
    spark.read.parquet(f"{SF_DIR}/events.parquet").repartition(3).write.parquet(
        f"{dir_sf}/events.parquet"
    )
    fn = queries["stream_tumbling_1h"].__wrapped__
    got = sorted(map(tuple, fn(spark, dir_sf).collect()))
    want = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert got == want and len(got) > 0
    shutil.rmtree(dir_sf, ignore_errors=True)


def test_derived_stream_parts_scales_with_source(spark):
    """r15: the state-store instance default derives from the bounded
    source's row count (clamp(rows/25k, 2, 2*cores)) instead of the r14
    constant 4 — same value at the sf0.1 calibration point (the measured
    knee), floor of 2 below it, growing with the corpus above it, and
    ceiling-clamped by the session's parallelism so the derivation never
    out-scales the cluster. SPARK_GRAFT_STREAM_PARTS (applied in
    _run_stream, not here) still wins over every derived value."""
    from engine.streaming import (
        _STREAM_ROWS_PER_INSTANCE,
        _derived_stream_parts,
    )

    assert _derived_stream_parts(spark, "/root/testdata/sf0.1") == 4
    # small corpora clamp to the parallel-headroom floor
    assert _derived_stream_parts(spark, "/root/testdata/sf0.001") == 2
    # a corpus 100x the calibration point derives wider, but never past
    # 2x the session's cores
    import engine.tables as tables

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(tables, "_MEMO", {})
        mp.setattr(tables, "parquet_num_rows", lambda p: 100 * 100_000)
        got = _derived_stream_parts(spark, "fake://huge")
        assert 100 * 100_000 // _STREAM_ROWS_PER_INSTANCE == 400
        assert got == min(400, 2 * spark.sparkContext.defaultParallelism)
    # an unreadable source falls back to the r14 constant
    assert _derived_stream_parts(spark, "/nonexistent") == 4
