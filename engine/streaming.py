"""Streaming-shaped operators: SURVEY.md §2.J.

The driver's oracle is DuckDB over static tables, so the window semantics
(tumbling / sliding / session) ship as batch DataFrame queries over ``events``
— hash-checkable FULL — while the genuinely streaming pieces
(watermark dedup, arbitrary stateful processing) run a real Structured
Streaming query (``readStream`` → ``Trigger.AvailableNow`` → memory sink) and
get the driver's rows-only check. ``tests/test_streaming.py`` covers
batch-vs-stream equivalence and late-data drops.

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine.registry import query
from engine.tables import corpus_memo, fixture_dir, load, replay_fixture, sftag
from engine.tmpdirs import scratch_dir

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


# ---------------------------------------------------------------------------
# true Structured Streaming (ROWS — engine-internal semantics)
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
    symlinks (read-only — nothing under /root/testdata is touched); a
    Spark-WRITTEN corpus (scale rehearsals, any real pipeline output) is
    already a directory of part files and is monitored directly. The r06
    rehearsal caught the directory case silently streaming ZERO rows: a
    symlink to a directory inside the monitored dir is not a data file to
    the source's file index, and nothing errors — sub-linear-looking
    negative exponents in a rehearsal are a correctness smell, not a win."""
    import os

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
# knee of the per-instance fixed cost (r14: stream_late_data replay
# 3.5/2.8/1.7 s and stream_watermark_dedup 4.2-7.0/2.0-2.5/2.0-2.2 s at
# 8/4/2 instances over the 100k-row sf0.1 source ⇒ knee at 4 instances ≈
# 25k rows each). The scale argument does NOT depend on sf0.1: every
# micro-batch commits every state-store instance (a fixed per-instance,
# per-batch cost), so the instance count should grow with the state the
# stream actually carries — keys-in-watermark-horizon, estimated here by
# the bounded source's row count — rather than sit at a constant tuned
# for either local mode or one cluster size.
_STREAM_ROWS_PER_INSTANCE = 25_000


def _derived_stream_parts(spark: SparkSession, sf_dir: str) -> int:
    """State-store instance count derived from the source instead of a
    constant (r15, closing VERDICT r14 "What's wrong" 3): instances =
    clamp(ceil(source_rows / _STREAM_ROWS_PER_INSTANCE), 2, 2×cores).
    The row count is a footer-only read (O(KB)); the floor keeps minimal
    parallel headroom, the ceiling tracks the session's actual core count
    so a big corpus on a big cluster widens and the same corpus on a
    laptop doesn't. SPARK_GRAFT_STREAM_PARTS still wins over everything
    (the cluster-sizing contract) — a production operator who KNOWS the
    keys-in-horizon sets it directly."""
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


def _run_stream(
    stream_df: DataFrame,
    name: str,
    mode: str,
    parts: int | None = None,
    sf_dir: str | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame with Trigger.AvailableNow into an
    in-memory sink; return the completed result as a batch DataFrame.

    Streaming state-store instance count == spark.sql.shuffle.partitions at
    the query's FIRST batch (then pinned in the checkpoint); every micro-batch
    commits every instance, so an over-wide setting multiplies per-batch
    fixed cost. The batch-tuned 32 is over-wide for these bounded-key
    streams — 8 instances cut the multi-batch keys ~2-4x at sf0.1 (r05), and
    the r14 optimization pass re-measured the per-partition fixed cost as
    still dominant at 8: stream_late_data replay 3.5→2.8→1.7 s and
    stream_watermark_dedup 4.2-7.0→2.0-2.5→2.0-2.2 s at 8→4→2 instances
    (guide §2.2: fewer, larger partitions when per-partition overhead
    dominates). The default DERIVES from the source when the caller passes
    ``sf_dir`` (r15: clamp(source_rows / 25k, 2, 2×cores) — see
    _derived_stream_parts; == 4 at sf0.1, reproducing the r14 measured
    knee, and grows with corpus and cluster instead of encoding a local
    constant). Set SPARK_GRAFT_STREAM_PARTS to the keys-in-watermark-
    horizon scale for a real cluster run; the conf is restored immediately
    after the (blocking) awaitTermination, so concurrent batch plans in
    the session never see it.

    ``parts`` is a per-QUERY override for operators whose per-batch cost is
    Python-worker-bound rather than state-store-bound (r14:
    stream_event_time_timeout runs a pandas state fn over ~7k groups —
    measured ~4 s at 8 instances vs ~7 s at 4, the opposite slope of the
    JVM-stateful keys). The env var, when set, wins over any override —
    it is the cluster-sizing contract."""
    import os

    spark = stream_df.sparkSession
    # A fresh checkpoint per run: a reused checkpoint would replay nothing.
    ckpt = scratch_dir(prefix=f"{name}-")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    default = (
        _derived_stream_parts(spark, sf_dir) if sf_dir is not None else 4
    )
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        os.environ.get("SPARK_GRAFT_STREAM_PARTS") or str(parts or default),
    )
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(name)


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    parts: int | None = None,
    sf_dir: str | None = None,
) -> DataFrame:
    """Append-mode streaming execution into a memory sink (see _run_stream)."""
    return _run_stream(stream_df, name, "append", parts=parts, sf_dir=sf_dir)


@query(
    "stream_watermark_dedup",
    # FULL oracle (r04): the corpus is one parquet file ⇒ one AvailableNow
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
    # The event time is clamped into [epoch+1µs, 2262] (streaming2's
    # _TS_FLOOR/_TS_HORIZON guard, r14 adversarial-timestamp axis): the
    # initial watermark is epoch zero with a STRICT late filter, so a
    # pre-1970 or exactly-epoch stamp is silently dropped from the first
    # batch — losing the event from the dedup output entirely — and a
    # year-9999 sentinel would poison the watermark (evicting all dedup
    # state) on any multi-batch replay. The clamp only feeds watermark
    # arithmetic; output columns carry no timestamp.
    from engine.streaming2 import _TS_FLOOR, _TS_HORIZON

    s = s.withColumn(
        "ts",
        F.greatest(
            F.least(
                F.col("ts").cast("timestamp"),
                F.lit(_TS_HORIZON).cast("timestamp"),
            ),
            F.lit(_TS_FLOOR).cast("timestamp"),
        ),
    )
    dd = s.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    out = run_to_memory(
        dd.select("event_id", "user_id", "event_type"),
        f"sg_wm_dedup_{sftag(sf_dir)}",
        sf_dir=sf_dir,
    )
    return out.orderBy("event_id")


@query(
    "stream_late_data",
    # FULL oracle (r04): the three-file replay is deterministic, so the
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
    """Two-file replay proving watermark late-data drops (VERDICT r01 item 7
    promoted this from unit-test-only to a queries() ROWS key).

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
    out = run_to_memory(agg, f"sg_late_data_{sftag(sf_dir)}", sf_dir=sf_dir)
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
    # FULL oracle (r04): arbitrary state itself is not SQL-expressible, but
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
    # pandas boundary (r14 adversarial-timestamp axis): grouped rows ship
    # to the Python worker as pandas frames, and a beyond-2262 `ts` kills
    # the Arrow->datetime64[ns] conversion inside the worker even though
    # _count_events never touches ts. The projection is also the right
    # scale shape — only the grouping key crosses the boundary. The
    # general rule (docs/SCALE.md r14): timestamps cross a pandas-state
    # boundary as int64 µs or not at all.
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
    spark_df = run_to_memory_update(
        counted, f"sg_state_counter_{sftag(sf_dir)}", sf_dir=sf_dir
    )
    return spark_df.orderBy("user_id")


def run_to_memory_update(
    stream_df: DataFrame, name: str, sf_dir: str | None = None
) -> DataFrame:
    """Update-mode streaming execution (stateful emits; see _run_stream)."""
    return _run_stream(stream_df, name, "update", sf_dir=sf_dir)


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
    user's 'purchase' events within the following hour (the corpus's actual
    event_type domain is view/click/purchase/signup/error — the original
    scan/join pair matched NOTHING, an r02 vacuous-pass fix mirroring the
    r01 join_asof_forward verdict item; 40 real matches at sf0.01). Both
    sides carry a 1-hour watermark and the join predicate is time-bounded —
    the two conditions Structured Streaming needs to know when buffered
    state can be evicted (state is O(1 hour of events per side),
    not O(stream)).

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
    out = run_to_memory(
        joined.select(
            "view_id",
            "purchase_id",
            F.col("l_user").alias("user_id"),
            F.col("view_ts").cast("timestamp_ntz").alias("view_ts"),
            F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        ),
        f"sg_ss_join_{sftag(sf_dir)}",
        # A stream-stream join commits TWO state stores (left+right
        # buffers) per partition per batch, so its per-partition fixed
        # cost is ~2x the single-store keys' — halve the derived instance
        # count to keep total per-batch commit cost at the measured knee
        # (r15 A/B at sf0.1, min-of-4 warm: parts 2/4/8 = 2.56/2.87/3.73 s;
        # RocksDB provider measured WORSE at this KB-scale state —
        # 3.36 s at parts=4 — its per-instance native-db overhead only
        # amortizes on state far past memory, so the default HDFS-backed
        # store stays). SPARK_GRAFT_STREAM_PARTS still wins inside
        # _run_stream.
        parts=max(2, _derived_stream_parts(spark, sf_dir) // 2),
        sf_dir=sf_dir,
    )
    return out
