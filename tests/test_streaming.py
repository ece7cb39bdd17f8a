"""Structured Streaming tests (SURVEY §5.4): AvailableNow replay of the events
corpus compared to batch equivalents, plus synthetic late/duplicate injection
for the watermark operators — the semantics the DuckDB oracle can't check —
and the runner's own contract: micro-batch splits and checkpoint lifetime."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pyspark.sql.functions as F
import pytest
from pyspark.sql.streaming import StreamingQueryListener

from tests.conftest import SF_DIR, assert_frames_match


def _write_batches(spark, rows_per_file, root):
    """Write each row-list as one parquet file in a fresh dir under root,
    with strictly increasing mtimes so the file source replays them in
    order."""
    src = f"{root}/src"
    os.makedirs(src)
    for i, rows in enumerate(rows_per_file):
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long")
        sub = f"{root}/part{i}"
        df.coalesce(1).write.mode("overwrite").parquet(sub)
        part = next(f for f in os.listdir(sub) if f.endswith(".parquet"))
        dest = f"{src}/batch{i}.parquet"
        os.rename(f"{sub}/{part}", dest)
        os.utime(dest, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
    return src


def test_stream_tumbling_equals_batch(spark):
    """readStream replay of events + complete-mode window agg == batch agg."""
    from engine.registry import collect
    from engine.streaming import read_events_stream, run_stream

    s = read_events_stream(spark, SF_DIR).withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        s.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "event_type", "cnt", "sum_value")
    )
    streamed = run_stream(agg, "sg_t_tumbling", SF_DIR, "complete").toPandas()
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


def test_late_data_dropped(spark, tmp_path):
    """A row older than the watermark arriving in a later batch is excluded
    from its (already-finalized) window."""
    from engine.streaming import run_stream

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
        tmp_path,
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
    out = run_stream(agg, "sg_t_late", SF_DIR).toPandas()
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
    """The state-store instance default derives from the bounded
    source's row count (clamp(rows/25k, 2, 2*cores)) instead of the r14
    constant 4 — same value at the sf0.1 calibration point (the measured
    knee), floor of 2 below it, growing with the corpus above it, and
    ceiling-clamped by the session's parallelism so the derivation never
    out-scales the cluster. A caller's ``parts`` (applied in run_stream,
    not here) still wins over every derived value."""
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


_SPLIT = dt.datetime(2024, 1, 30)


def _q(name):
    from engine.registry import collect

    queries, _ = collect()
    return queries[name]


def test_event_time_timeout_waves(spark):
    """Both timeout waves present, the data-path suppression (file-2 users
    survive wave 1), and the end-of-stream non-emission of still-active
    sessions."""
    from engine.tables import load

    rows = {
        r["user_id"]: (r["n_events"], r["last_ts"])
        for r in _q("stream_event_time_timeout")(spark, SF_DIR).collect()
    }
    assert rows
    ev = load(spark, SF_DIR, "events").select("user_id", "ts").collect()
    f1: dict[int, list] = {}
    allv: dict[int, list] = {}
    for e in ev:
        allv.setdefault(e["user_id"], []).append(e["ts"])
        if e["ts"] < _SPLIT:
            f1.setdefault(e["user_id"], []).append(e["ts"])
    wm1 = max(t for ts in f1.values() for t in ts) - dt.timedelta(hours=1)
    wm2 = max(t for ts in allv.values() for t in ts) - dt.timedelta(hours=1)
    idle = dt.timedelta(hours=2)
    f2_users = {u for u, ts in allv.items() if any(t >= _SPLIT for t in ts)}
    e1 = {
        u: (len(ts), max(ts))
        for u, ts in f1.items()
        if max(ts) + idle < wm1 and u not in f2_users
    }
    e2 = {
        u: (len(ts), max(ts))
        for u, ts in allv.items()
        if u not in e1 and max(ts) + idle < wm2
    }
    expect = {**e1, **e2}
    assert rows == expect
    # wave 2 exists (the closing no-data batch) and wave-1-suppressed
    # file-2 users appear only with their FULL counts
    assert e2
    for u in e2:
        if u in f2_users:
            assert rows[u][0] == len(allv[u]) > len(f1.get(u, []))
    # still-active sessions (last event within 2h of wm2) are NOT emitted
    active = [u for u, ts in allv.items() if max(ts) + idle >= wm2]
    assert active and all(u not in rows for u in active)


def test_foreachbatch_upsert_equals_batch(spark):
    """Three replayed micro-batches merged through foreachBatch must equal
    the one-shot batch aggregate."""
    from engine.streaming import stream_foreachbatch_upsert
    from engine.tables import load

    got = {
        (r["user_id"], r["cnt"])
        for r in stream_foreachbatch_upsert(spark, SF_DIR).collect()
    }
    want = {
        (r["user_id"], r["cnt"])
        for r in load(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert got == want and len(want) > 0


class _InputBatches(StreamingQueryListener):
    """Counts progress events of micro-batches that read input rows."""

    def __init__(self):
        self.rows: list[int] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        if event.progress.numInputRows > 0:
            self.rows.append(event.progress.numInputRows)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


@pytest.mark.parametrize(
    "key", ["stream_foreachbatch_upsert", "pipeline_stream_serving"]
)
def test_foreachbatch_keys_merge_three_micro_batches(spark, duck, key):
    """maxFilesPerTrigger is a SOURCE option: on the reader, the three
    replay files arrive as three micro-batches, so the merge into an
    existing table runs twice. Set on the writer, the file source never
    sees it and the whole replay is one batch — one merge, same answer,
    so only the batch count shows the difference."""
    from engine.registry import collect

    queries, oracles = collect()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    listener = _InputBatches()
    bus.waitUntilEmpty()
    spark.streams.addListener(listener)
    try:
        got = queries[key].__wrapped__(spark, SF_DIR).toPandas()
        bus.waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert len(listener.rows) == 3, listener.rows
    assert_frames_match(got, duck.sql(oracles[key]).df(), key)


@pytest.mark.parametrize(
    "key",
    ["stream_watermark_dedup", "stream_static_enrich", "stream_foreachbatch_upsert"],
)
def test_stream_run_removes_its_checkpoint(spark, key):
    """A run's own checkpoint is removed once the query terminates, and
    the plan the key returned still collects: no returned plan reads it."""
    from engine import tmpdirs
    from engine.registry import collect

    def checkpoints() -> set[str]:
        root = tempfile.gettempdir()
        dirs = {os.path.join(root, d) for d in os.listdir(root)}
        return {d for d in dirs | set(tmpdirs._SCRATCH) if os.path.isdir(f"{d}/offsets")}

    queries, _ = collect()
    before = checkpoints()
    df = queries[key].__wrapped__(spark, SF_DIR)
    assert checkpoints() - before == set()
    assert df.collect()
