"""The streaming family (SURVEY.md §2.J): every ``stream_*`` key, the one
runner every bounded stream in the engine goes through (``run_stream``),
and the one merge-into-a-parquet-table helper (``merge_table``).

The driver's oracle is DuckDB over static tables, so the window semantics
(tumbling / sliding / session / rollup cascade) ship as batch DataFrame
queries over ``events``. The genuinely streaming keys (watermark dedup,
late data, arbitrary state, event-time timeouts, stream joins, static
enrichment, foreachBatch upserts, checkpoint replay) run a real Structured
Streaming query through ``run_stream``. Every key carries a FULL oracle:
each replay is deterministic, so the completed sink equals a SQL
expression over the corpus. ``tests/test_streaming.py`` covers
batch-vs-stream equivalence, the multi-batch replays and late-data drops.

Scale notes (100 TB):
- Tumbling/sliding windows are plain hash aggregations keyed on
  (window, event_type) — map-side partial agg applies; a sliding window
  multiplies rows by (size/slide) BEFORE the partial agg, so slide ratios are
  kept small (4× here).
- Session windows shuffle once on user_id; Spark's SessionWindow merge is a
  sort-within-partition, no driver state.
- Streaming state (dedup set, per-key counters) is keyed + watermark-bounded:
  state size is O(keys in the watermark horizon), not O(stream length).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine.registry import query
from engine.tables import corpus_memo, fixture_dir, load, replay_fixture, sftag
from engine.tmpdirs import drop_scratch, scratch_dir


# ---------------------------------------------------------------------------
# batch-equivalent window semantics (FULL oracle)
# ---------------------------------------------------------------------------


@query(
    "stream_tumbling_1h",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS cnt,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per 1-hour tumbling window × event_type.

    For fixed epoch-aligned tumbling windows the window start IS
    ``date_trunc('hour', ts)`` — a plain scalar expression, ~2.4× faster than
    the ``F.window`` struct machinery (measured 124 ms vs 299 ms at sf0.1)
    and identical values. The streaming variant (readStream + F.window) is
    equivalence-tested in tests/test_streaming.py. Pure hash aggregate:
    partial combine map-side, one shuffle on (window_start, event_type)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@query(
    "stream_sliding_1h_15m",
    oracle="""
    WITH b AS (SELECT time_bucket(INTERVAL '15 minutes', ts) AS b15, value FROM events),
         w AS (SELECT b15 - k * INTERVAL '15 minutes' AS window_start, value
               FROM b, unnest([0, 1, 2, 3]) AS u(k))
    SELECT window_start, count(*) AS cnt, round(sum(value), 2) AS sum_value
    FROM w GROUP BY 1
    """,
)
def stream_sliding_1h_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes.

    Spark assigns each event to size/slide = 4 windows (same expansion the
    oracle builds via unnest of 4 offsets). The 4× row blow-up happens
    map-side and is immediately collapsed by partial aggregation."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "cnt", "sum_value")
    )


@query(
    "stream_session_30m",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events),
    s AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM g)
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
           round(epoch(max(ts) - min(ts)), 1) AS duration_s
    FROM s GROUP BY user_id, sid
    """,
)
def stream_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions with a 30-minute inactivity gap.

    Spark ``session_window`` merges events whose [ts, ts+gap) ranges overlap:
    a gap of EXACTLY 30 minutes starts a new session, hence the oracle's
    ``>=`` in the gap-and-islands rewrite (boundary semantics verified at
    sf0.001 — SURVEY §7.3 risk #2). Duration is last−first event (window.end
    includes the +gap padding, so compute from min/max ts instead)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.count("*").alias("n_events"),
            F.round(
                (
                    F.unix_micros(F.max("ts").cast("timestamp"))
                    - F.unix_micros(F.min("ts").cast("timestamp"))
                )
                / 1e6,
                1,
            ).alias("duration_s"),
        )
        .select("user_id", "session_start", "n_events", "duration_s")
    )


@query(
    "stream_rollup_cascade",
    oracle="""
    WITH hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type,
             count(*) AS cnt, sum(value) AS sv
      FROM events GROUP BY 1, 2)
    SELECT time_bucket(INTERVAL '1 day', h) AS day_start, event_type,
           sum(cnt)::BIGINT AS cnt, round(sum(sv), 2) AS sum_value
    FROM hourly GROUP BY 1, 2
    """,
)
def stream_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical time rollup (hypertable continuous-aggregate shape):
    daily aggregates computed FROM the hourly aggregates, not the raw rows —
    at 100 TB the cascade means each coarser grain reads the (tiny) finer
    aggregate, and count/sum re-aggregate losslessly."""
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").alias("cnt"), F.sum("value").alias("sv"))
    return (
        hourly.select(F.col("w.start").alias("h"), "event_type", "cnt", "sv")
        .groupBy(F.window("h", "1 day").alias("d"), "event_type")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.round(F.sum("sv"), 2).alias("sum_value"),
        )
        .select(F.col("d.start").alias("day_start"), "event_type", "cnt", "sum_value")
    )


# ---------------------------------------------------------------------------
# sources, the runner and the merge-table helper
# ---------------------------------------------------------------------------


def _events_raw_schema(spark: SparkSession, sf_dir: str) -> tuple[T.StructType, bool]:
    """Raw file-source schema for events + whether ts needs the nanos→ntz
    conversion. The corpus's ts physical type has varied across generations
    (int64 nanos vs native timestamp[us]); probe the batch reader's
    footer-derived dtype once per corpus file identity so the streaming
    source matches either."""
    path = f"{sf_dir}/events.parquet"

    def probe() -> tuple[T.StructType, bool]:
        ts_dtype = dict(spark.read.parquet(path).dtypes).get("ts")
        # Match KNOWN corpus variants only: a third variant (e.g. UTC-adjusted
        # timestamp[us], batch dtype 'timestamp') must fail loudly here rather
        # than let a pinned NTZ readStream schema silently shift event time.
        if ts_dtype not in ("bigint", "timestamp_ntz"):
            raise ValueError(
                f"events.ts has unexpected dtype {ts_dtype!r}; extend "
                "_events_raw_schema deliberately for this corpus variant"
            )
        ts_is_long = ts_dtype == "bigint"
        ts_type = T.LongType() if ts_is_long else T.TimestampNTZType()
        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", ts_type),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
        return schema, ts_is_long

    return corpus_memo(path, "events-schema", probe)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet with the ts column normalized
    to timestamp_ntz (file source needs an explicit schema).

    The streaming file source wants a DIRECTORY to monitor. The driver
    corpus stores events as a single FILE, exposed through a temp dir of
    symlinks (read-only — nothing under the corpus dir is touched); a
    Spark-WRITTEN corpus (scale rehearsals, any real pipeline output) is
    already a directory of part files and is monitored directly. A
    symlink to a directory inside the monitored dir is not a data file to
    the source's file index, and nothing errors: the directory case once
    streamed ZERO rows silently
    (``test_stream_source_reads_directory_layout``)."""
    from engine.session import tune

    tune(spark)
    schema, ts_is_long = _events_raw_schema(spark, sf_dir)
    src = os.path.abspath(f"{sf_dir}/events.parquet")
    if os.path.isdir(src):
        d = src  # Spark-written dataset: monitor the part-file dir itself
    else:
        d = fixture_dir(
            src,
            "events-src",
            lambda t: os.symlink(src, f"{t}/events.parquet"),
            lambda t: os.path.exists(f"{t}/events.parquet"),
        )
    raw = spark.readStream.schema(schema).format("parquet").load(d)
    if ts_is_long:
        return raw.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return raw.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


# Target source rows per state-store instance, calibrated at the measured
# knee of the per-instance fixed cost (stream_late_data replay 3.5/2.8/1.7 s
# and stream_watermark_dedup 4.2-7.0/2.0-2.5/2.0-2.2 s at 8/4/2 instances
# over the 100k-row sf0.1 source ⇒ knee at 4 instances ≈ 25k rows each).
# The scale argument does NOT depend on sf0.1: every micro-batch commits
# every state-store instance (a fixed per-instance, per-batch cost), so the
# instance count should grow with the state the stream actually carries —
# keys-in-watermark-horizon, estimated here by the bounded source's row
# count — rather than sit at a constant tuned for one cluster size.
_STREAM_ROWS_PER_INSTANCE = 25_000


def _derived_stream_parts(spark: SparkSession, sf_dir: str) -> int:
    """State-store instance count derived from the source:
    clamp(ceil(source_rows / _STREAM_ROWS_PER_INSTANCE), 2, 2×cores).
    The row count is a footer-only read (O(KB)); the floor keeps minimal
    parallel headroom, the ceiling tracks the session's actual core count
    so a big corpus on a big cluster widens and the same corpus on a
    laptop doesn't. An unreadable source gives 4, the sf0.1 knee."""
    path = f"{sf_dir}/events.parquet"

    def derive() -> int:
        from engine.tables import parquet_num_rows

        n = parquet_num_rows(path)
        return 4 if n is None else max(2, -(-int(n) // _STREAM_ROWS_PER_INSTANCE))

    got = corpus_memo(path, "stream-parts", derive)
    try:
        ceiling = 2 * spark.sparkContext.defaultParallelism
    except Exception:
        ceiling = 64
    return min(got, max(2, ceiling))


def run_stream(
    stream_df: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    sf_dir: str,
    mode: str = "append",
    parts: int | None = None,
    checkpoint: str | None = None,
) -> DataFrame | None:
    """Run a bounded stream to completion with Trigger.AvailableNow — the
    one place in the engine that starts a streaming query.

    ``sink`` picks the writer. A memory-sink query name returns the
    completed table. A foreachBatch function returns None: the function
    keeps its own output (``merge_table``). An absolute directory is a
    parquet file sink and returns a read of it. How the input splits into
    micro-batches is the source's decision (``maxFilesPerTrigger`` on the
    ``readStream``), not the runner's.

    Width: the state-store instance count is spark.sql.shuffle.partitions
    at the query's first batch (then pinned in the checkpoint), and every
    micro-batch commits every instance, so an over-wide setting multiplies
    per-batch fixed cost. The width derives from the source
    (``_derived_stream_parts``: clamp(ceil(rows / 25k), 2, 2×cores), 4 at
    sf0.1). ``parts`` overrides it for a query whose per-batch cost is not
    state-store-bound, or on a cluster, sized to the keys-in-watermark-
    horizon scale. The conf is restored after the blocking wait, so batch plans in the
    session never see it.

    Checkpoint: a run gets a fresh one (a reused checkpoint would replay
    nothing) and removes it once the query has terminated. No returned
    plan reads it: a memory sink holds its rows in the driver, a
    foreachBatch function writes its own table, and a file sink keeps its
    log in the output directory. A caller-passed ``checkpoint`` is used
    as-is and left in place, for a restart against the same one. A failed
    query raises from ``awaitTermination``."""
    spark = stream_df.sparkSession
    w = stream_df.writeStream.outputMode(mode).trigger(availableNow=True)
    if callable(sink):
        w = w.foreachBatch(sink)
    elif os.path.isabs(sink):
        w = w.format("parquet").option("path", sink)
    else:
        w = w.format("memory").queryName(sink)
    width = str(parts or _derived_stream_parts(spark, sf_dir))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    ckpt = checkpoint or scratch_dir(prefix="sg-ckpt-")
    spark.conf.set("spark.sql.shuffle.partitions", width)
    try:
        w.option("checkpointLocation", ckpt).start().awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        if checkpoint is None:
            drop_scratch(ckpt)
    if callable(sink):
        return None
    if os.path.isabs(sink):
        return spark.read.parquet(sink)
    return spark.table(sink)


def merge_table(table: str, delta: DataFrame, keys: list[str], files: int) -> None:
    """Merge ``delta`` into the parquet table at ``table``: new keys are
    inserted, and every non-key column of an existing key is summed.

    The merged table is written beside the live one and renamed into its
    place (write-then-swap, the parquet stand-in for a MERGE transaction),
    so a failed write leaves the old table whole. ``files`` bounds the part
    files each merge writes: the merged relation sits just past the groupBy
    shuffle, so a narrow coalesce only merges reduce outputs, where
    otherwise every merge would write shuffle-width tiny files for the next
    merge and the final read to re-open. A real deployment points this at
    a table format with its own compaction instead."""
    merged = delta
    if os.path.exists(table):
        sums = [F.sum(c).alias(c) for c in delta.columns if c not in keys]
        # The table's schema is delta's, so reading with it skips the
        # footer-inference job a plain read runs on every merge.
        merged = (
            delta.sparkSession.read.schema(delta.schema)
            .parquet(table)
            .unionByName(delta)
            .groupBy(*keys)
            .agg(*sums)
        )
    merged.coalesce(files).write.mode("overwrite").parquet(f"{table}.next")
    shutil.rmtree(table, ignore_errors=True)
    os.rename(f"{table}.next", table)


# Event times are clamped into [_TS_FLOOR, _TS_HORIZON] before any watermark
# arithmetic. The horizon: grouped rows cross the applyInPandasWithState
# boundary as pandas datetime64[ns], which cannot hold a beyond-2262 stamp
# (the Arrow conversion kills the task), and a year-9999 "never expires"
# sentinel would otherwise set the watermark itself. The floor: Structured
# Streaming's initial watermark is epoch zero and its late-record filter is
# strict, so a pre-1970 (or exactly-epoch) stamp is silently DROPPED from
# the first batch. Clock-bug stamps are clamped up to epoch+1µs instead:
# the event is kept and the count matches the oracle, which applies the
# identical clamp.
_TS_HORIZON = "2262-04-10 00:00:00"
_TS_FLOOR = "1970-01-01 00:00:00.000001"


def _clamp_ts(col: str) -> F.Column:
    """``col`` as a timestamp clamped into [_TS_FLOOR, _TS_HORIZON]."""
    return F.greatest(
        F.least(F.col(col).cast("timestamp"), F.lit(_TS_HORIZON).cast("timestamp")),
        F.lit(_TS_FLOOR).cast("timestamp"),
    )


# ---------------------------------------------------------------------------
# true Structured Streaming
# ---------------------------------------------------------------------------


@query(
    "stream_watermark_dedup",
    # FULL oracle: the corpus is one parquet file ⇒ one AvailableNow
    # micro-batch ⇒ no cross-batch watermark eviction, and event_id is
    # unique in the corpus ⇒ streaming dedup must emit every event exactly
    # once — which IS SQL-expressible. The multi-batch late-duplicate path
    # (where watermark timing matters) stays covered by
    # tests/test_streaming.py's injected-duplicates case.
    oracle="""
    SELECT event_id, user_id, event_type FROM events ORDER BY event_id
    """,
)
def stream_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup of event_id under a 1-hour watermark.

    ``dropDuplicatesWithinWatermark`` keeps the dedup state bounded: an id is
    remembered only until the watermark passes its timestamp + 1h, so state is
    O(events per hour), not O(stream) — the property that makes streaming
    dedup feasible at 100 TB/day. Late-duplicate injection is unit-tested in
    tests/test_streaming.py."""
    s = read_events_stream(spark, sf_dir)
    # Watermark requires TimestampType (not NTZ) in streaming state ops.
    # The clamp (_TS_FLOOR/_TS_HORIZON) only feeds watermark arithmetic:
    # without it a pre-1970 stamp drops its event from the dedup output and
    # a year-9999 sentinel evicts all dedup state on a multi-batch replay.
    # Output columns carry no timestamp.
    s = s.withColumn("ts", _clamp_ts("ts"))
    dd = s.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    out = run_stream(
        dd.select("event_id", "user_id", "event_type"),
        f"sg_wm_dedup_{sftag(sf_dir)}",
        sf_dir,
    )
    return out.orderBy("event_id")


@query(
    "stream_late_data",
    # FULL oracle: the three-file replay is deterministic, so the
    # emitted window set is too — append mode finalizes exactly the hourly
    # windows whose end precedes the active watermark (global max ts − 1h,
    # established by batch 2 and applied in batch 3), and the late Jan-1
    # re-delivery contributes nothing. Both the Jan-2 cutoff and the
    # tail-window cutoff are SQL-expressible; boundary semantics
    # (window_end <= watermark) verified at sf0.001 and sf0.01.
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, count(*) AS cnt
    FROM events WHERE ts >= TIMESTAMP '2024-01-02'
    GROUP BY 1
    HAVING window_start + INTERVAL '1 hour'
           <= (SELECT max(ts) - INTERVAL '1 hour' FROM events)
    ORDER BY window_start
    """,
)
def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-file replay proving watermark late-data drops.

    File 1 = corpus events Jan 2–29 — its commit establishes the watermark.
    File 2 = Jan-30 events (on-time; a watermark update is APPLIED one batch
    after the data that computes it, so this gap batch makes file 1's
    watermark active — same three-file shape as tests/test_streaming.py's
    late-drop case). File 3 = the Jan-1 events, now arriving weeks late:
    every one of their 1-hour windows closed long before the active
    watermark, so they are dropped on ingest and append-mode emits NO Jan-1
    window even though file 3 re-delivered those rows. Output = finalized
    per-hour counts from Jan 2+ only — deterministic; the test asserts the
    Jan-1 absence against the batch aggregate.

    100 TB/day: this is the state-eviction contract — without the watermark
    bound, window state grows O(stream); with it, state is O(windows per
    horizon) and late arrivals cost nothing."""
    from engine.session import tune

    tune(spark)
    cutoff = "2024-01-02 00:00:00"
    gap = "2024-01-30 00:00:00"
    src = replay_fixture(
        f"{sf_dir}/events.parquet",
        "late-src",
        lambda: load(spark, sf_dir, "events").select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id"
        ),
        [
            (F.col("ts") >= cutoff) & (F.col("ts") < gap),
            F.col("ts") >= gap,
            F.col("ts") < cutoff,
        ],
    )
    s = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    agg = (
        s.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("window_start"), "cnt")
    )
    out = run_stream(agg, f"sg_late_data_{sftag(sf_dir)}", sf_dir)
    return out.orderBy("window_start")


_COUNTER_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)
_COUNTER_STATE = T.StructType([T.StructField("n", T.LongType())])


def _count_events(key, pdf_iter, state):
    """applyInPandasWithState update fn: running per-user event counter."""
    n = state.get[0] if state.exists else 0
    for pdf in pdf_iter:
        n += len(pdf)
    state.update((n,))
    import pandas as pd

    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})


@query(
    "stream_stateful_counter",
    # FULL oracle: arbitrary state itself is not SQL-expressible, but
    # with the one-file corpus the AvailableNow run is a single micro-batch,
    # so update mode emits exactly one row per user carrying the final
    # count — which is the plain batch groupBy. The multi-batch incremental
    # path stays covered by tests/test_streaming.py's batch cross-check.
    oracle="""
    SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key streaming state: running per-user event counter via
    ``applyInPandasWithState`` (GroupState keyed by user_id, Arrow-batched).

    State is one int per user — keyed, so it shards with the shuffle; emits on
    every trigger with the updated count. Batch cross-check (groupBy.count)
    in tests/test_streaming.py."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    s = read_events_stream(spark, sf_dir)
    # Project to the columns the state fn actually reads BEFORE the
    # pandas boundary: grouped rows ship to the Python worker as pandas
    # frames, and a beyond-2262 `ts` kills the Arrow->datetime64[ns]
    # conversion inside the worker even though _count_events never
    # touches ts. The projection is also the right scale shape — only the
    # grouping key crosses the boundary. The general rule: timestamps
    # cross a pandas-state boundary as int64 µs or not at all.
    counted = (
        s.select("user_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _count_events,
            outputStructType=_COUNTER_OUT,
            stateStructType=_COUNTER_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    out = run_stream(counted, f"sg_state_counter_{sftag(sf_dir)}", sf_dir, "update")
    return out.orderBy("user_id")


@query(
    "stream_stream_join",
    oracle="""
    SELECT l.event_id AS view_id, r.event_id AS purchase_id, l.user_id,
           l.ts AS view_ts, r.ts AS purchase_ts
    FROM events l JOIN events r ON l.user_id = r.user_id
    WHERE l.event_type = 'view' AND r.event_type = 'purchase'
      AND r.ts >= l.ts AND r.ts < l.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each 'view' event matched to the same
    user's 'purchase' events within the following hour (the corpus's
    event_type domain is view/click/purchase/signup/error; 40 real matches
    at sf0.01). Both sides carry a 1-hour watermark and the join predicate
    is time-bounded — the two conditions Structured Streaming needs to know
    when buffered state can be evicted (state is O(1 hour of events per
    side), not O(stream)).

    Oracle-checkable as FULL because the corpus is one parquet file ⇒ one
    AvailableNow micro-batch ⇒ no cross-batch eviction can drop matches;
    the batch interval join is the exact same result set. (A multi-file
    replay exercises the late path in tests/test_streaming.py's watermark
    cases.) At 100 TB/day the eviction bound IS the design: widen the
    watermark and state grows linearly; narrow it and late matches drop."""
    left = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "view")
    right = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    left = (
        left.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("view_ts"),
        )
    )
    right = (
        right.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") < F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    return run_stream(
        joined.select(
            "view_id",
            "purchase_id",
            F.col("l_user").alias("user_id"),
            F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
            F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        ),
        f"sg_ss_join_{sftag(sf_dir)}",
        sf_dir,
        # A stream-stream join commits TWO state stores (left+right
        # buffers) per partition per batch, so its per-partition fixed
        # cost is ~2x the single-store keys' — halve the derived instance
        # count to keep total per-batch commit cost at the measured knee
        # (A/B at sf0.1, min-of-4 warm: parts 2/4/8 = 2.56/2.87/3.73 s;
        # the RocksDB provider measured WORSE at this KB-scale state —
        # 3.36 s at parts=4 — its per-instance native-db overhead only
        # amortizes on state far past memory, so the default HDFS-backed
        # store stays).
        parts=max(2, _derived_stream_parts(spark, sf_dir) // 2),
    )


@query(
    "stream_static_enrich",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joined to the static
    customer dimension (broadcast — no state, unlike stream-stream joins),
    then aggregated per segment. Dimension enrichment is the most common
    streaming join in practice and needs NO watermark, because the static
    side is re-read per micro-batch, not buffered.

    FULL-oracle for the same reason as the windowed streaming keys: the
    corpus is one file ⇒ one AvailableNow micro-batch ⇒ the completed
    memory-sink table equals the batch join+agg bit-for-bit.
    100 TB/day: the static side broadcasts per batch (refreshable dim); the
    aggregation state is O(segments). Complete output mode is fine because
    the result cardinality IS the segment count."""
    s = read_events_stream(spark, sf_dir)
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = s.join(F.broadcast(cust), s.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return run_stream(agg, f"sg_static_enrich_{sftag(sf_dir)}", sf_dir, "complete")


_SPLIT = "2024-01-30 00:00:00"
_IDLE_MS = 2 * 3600 * 1000  # 2h inactivity closes a session

# last_ts crosses the pandas-state boundary as int64 µs, not a timestamp:
# Arrow->pandas inside the worker is datetime64[ns], which cannot hold a
# beyond-2262 stamp — the conversion kills the task before the state fn
# even runs. The µs long is converted back to a timestamp JVM-side after
# the stateful op.
_TIMEOUT_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)
_TIMEOUT_STATE = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("last_us", T.LongType())]
)


def _close_on_timeout(key, pdf_iter, state):
    """Emit a user's session ONLY when its event-time timeout fires."""
    import pandas as pd

    if state.hasTimedOut:
        n, last_us = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "last_us": [last_us],
            }
        )
    else:
        n, last_us = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            last_us = max(last_us, int(pdf["ts"].max().value // 1000))
        state.update((n, last_us))
        state.setTimeoutTimestamp(last_us // 1000 + _IDLE_MS)


@query(
    "stream_event_time_timeout",
    # FULL oracle: the replay produces exactly TWO timeout waves, both pure
    # functions of the corpus. Wave 1 (file 2's batch, watermark =
    # max(file1) − 1h): users absent from file 2, idle >2h before that
    # watermark — a key receiving data in a batch is served its data, not
    # its timeout. Wave 2 (the closing no-data batch Structured Streaming
    # runs after the final watermark update, watermark = max(all) − 1h):
    # every remaining state idle >2h before it, with its FULL accumulated
    # count. All SQL.
    oracle=f"""
    WITH ec AS (
      -- mirror of the engine's sentinel guards (_TS_HORIZON/_TS_FLOOR):
      -- event times are clamped into the processable band before any
      -- watermark arithmetic
      SELECT user_id,
             greatest(least(ts, TIMESTAMP '{_TS_HORIZON}'),
                      TIMESTAMP '{_TS_FLOOR}') AS ts
      FROM events
    ),
    f1 AS (
      SELECT user_id, ts FROM ec WHERE ts < TIMESTAMP '{_SPLIT}'
    ),
    f2u AS (
      SELECT DISTINCT user_id FROM ec WHERE ts >= TIMESTAMP '{_SPLIT}'
    ),
    wm1 AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM f1),
    wm2 AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM ec),
    agg1 AS (
      SELECT user_id, count(*) AS n_events, max(ts) AS last_ts
      FROM f1 GROUP BY user_id
    ),
    aggall AS (
      SELECT user_id, count(*) AS n_events, max(ts) AS last_ts
      FROM ec GROUP BY user_id
    ),
    e1 AS (
      SELECT a.user_id, a.n_events, a.last_ts
      FROM agg1 a, wm1
      WHERE a.last_ts + INTERVAL 2 HOUR < wm1.w
        AND a.user_id NOT IN (SELECT user_id FROM f2u)
    ),
    e2 AS (
      SELECT a.user_id, a.n_events, a.last_ts
      FROM aggall a, wm2
      WHERE a.last_ts + INTERVAL 2 HOUR < wm2.w
        AND a.user_id NOT IN (SELECT user_id FROM e1)
    )
    SELECT * FROM e1 UNION ALL SELECT * FROM e2
    """,
)
def stream_event_time_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time state timeout: per-user sessions accumulate in
    GroupState and are emitted ONLY by the timeout path — when the
    event-time watermark passes last_event + 2h with no new data for the
    key. This is the state that emits on the ABSENCE of data, where
    stream_stateful_counter emits on data.

    Two-file replay makes it deterministic: file 1 (events before
    Jan 30) builds every user's state and, at its commit, the watermark
    max(file1.ts) − 1h; file 2's batch then runs with that watermark
    active, firing the timeout for every user idle >2h before it — except
    users with file-2 data, whose invocation is the DATA path (Spark
    serves a key its batch data instead of its expiration; the state
    rolls forward with a fresh deadline). After the last data batch,
    Structured Streaming runs ONE closing no-data batch with the final
    watermark (max(all) − 1h) — 11 of 12 emitted users at sf0.001 come
    from that closing wave — which flushes every remaining session idle
    >2h before it; states still inside the idle horizon at end-of-stream
    are never emitted (the stream, not the state, ended).

    100 TB: timeout emission is how sessionization ever flushes its LAST
    session per key — data-driven emission alone leaks final state
    forever. State is keyed and watermark-bounded (O(active keys), not
    O(stream)); expirations batch with the shuffle that routes data, so
    the timeout sweep costs no extra pass."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from engine.session import tune

    tune(spark)
    src = replay_fixture(
        f"{sf_dir}/events.parquet",
        "ett-src",
        lambda: load(spark, sf_dir, "events").select(
            "user_id", _clamp_ts("ts").alias("ts")
        ),
        [F.col("ts") < _SPLIT, F.col("ts") >= _SPLIT],
    )
    s = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    closed = (
        # ts is clamped at the fixture write, so both the watermark column
        # and the pandas payload stay inside datetime64[ns] range —
        # EventTimeTimeout requires the watermark column to survive to the
        # stateful op, so it cannot be projected away here.
        s.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _close_on_timeout,
            outputStructType=_TIMEOUT_OUT,
            stateStructType=_TIMEOUT_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    # parts=8: this key's per-batch cost is the pandas state fn over ~7k
    # user groups — Python-worker-parallelism-bound, not
    # state-store-bound; measured ~4 s at 8 instances vs ~7 s at the
    # JVM-stateful keys' 4.
    out = run_stream(closed, f"sg_ett_{sftag(sf_dir)}", sf_dir, parts=8)
    return out.select(
        "user_id",
        "n_events",
        F.timestamp_micros("last_us").cast("timestamp_ntz").alias("last_ts"),
    )


@query(
    "stream_foreachbatch_upsert",
    # FULL oracle: the three-batch replay is deterministic and the merge
    # is associative (per-user count sums), so the final state table
    # equals the plain batch aggregate — the same equivalence
    # tests/test_streaming.py asserts, now also hash-checked by the oracle.
    oracle="""
    SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    ORDER BY user_id
    """,
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming upsert via foreachBatch — the escape hatch for sinks with
    no native streaming writer (JDBC, key-value stores, MERGE targets):
    each micro-batch's per-user counts are merged into a keyed parquet
    state table (new keys inserted, existing keys summed). Three replayed
    files, one per micro-batch ⇒ three merges; the final table equals the
    batch groupBy — that equivalence is the test, and the run is
    deterministic.

    100 TB: foreachBatch gives exactly-once PER BATCH only if the merge
    itself is idempotent/transactional — here each merge rewrites the state
    atomically via write-then-swap (``merge_table``). State is keyed, so
    each merge shuffles O(batch keys) + reads O(state); a real deployment
    points this at a transactional table format instead of bare parquet."""
    table = f"{scratch_dir(prefix=f'sg-fb-upsert-{sftag(sf_dir)}-')}/table"
    # The three replay files are fixture prep, built once per corpus file
    # identity. Every timed run still executes a REAL streaming query:
    # fresh checkpoint, fresh state table, real merges.
    src = replay_fixture(
        f"{sf_dir}/events.parquet",
        "fb-src",
        lambda: load(spark, sf_dir, "events").select("event_id", "user_id"),
        [F.col("event_id") % 3 == i for i in range(3)],
    )
    s = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df.groupBy("user_id").agg(F.count("*").alias("cnt"))
        merge_table(table, delta, ["user_id"], 4)

    run_stream(s, merge, sf_dir)
    return spark.read.parquet(table).orderBy("user_id")


@query(
    "stream_checkpoint_exactly_once",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_after_replay,
           TRUE AS replay_added_nothing
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def stream_checkpoint_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checkpoint exactly-once contract, demonstrated: a filtered
    stream runs AvailableNow into a parquet sink with a checkpoint; then
    the SAME query is started AGAIN with the SAME checkpoint and source
    — and writes nothing, because the checkpoint's commit log already
    covers every input file. Output: sink row count after run 1, after
    run 2, and the no-new-rows verdict; the oracle pins both counts to
    the batch answer.

    100 TB: this is the recovery story — a crashed or re-submitted job
    resumes from the checkpoint's offsets instead of reprocessing (and
    double-writing) the whole source. It holds because the file sink's
    transaction log and the source's offset tracking are both inside the
    checkpoint; wipe either and replays duplicate. Pair with
    foreachBatch idempotent merges (stream_foreachbatch_upsert) for
    sinks without a transaction log."""
    src_dir = scratch_dir(prefix=f"sg-xo-src-{sftag(sf_dir)}-")
    load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("event_id", "user_id", "value").coalesce(2).write.mode(
        "overwrite"
    ).parquet(src_dir)
    out = scratch_dir(prefix=f"sg-xo-out-{sftag(sf_dir)}-")
    ckpt = scratch_dir(prefix=f"sg-xo-ckpt-{sftag(sf_dir)}-")
    s = spark.readStream.schema("event_id long, user_id long, value double").parquet(
        src_dir
    )
    n1 = run_stream(s, out, sf_dir, checkpoint=ckpt).count()
    # same checkpoint: must be a no-op
    n2 = run_stream(s, out, sf_dir, checkpoint=ckpt).count()
    return spark.createDataFrame(
        [(n1, n2, n1 == n2)],
        "n_rows long, n_after_replay long, replay_added_nothing boolean",
    )
