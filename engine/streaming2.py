"""Streaming batch 2 (r05 continuation): event-time state timeouts — the
one GroupState facility the §2.J surface had not yet exercised.

`stream_stateful_counter` shows keyed state that emits on DATA;
`stream_event_time_timeout` shows state that emits on the ABSENCE of data:
a per-user session is closed and flushed only when the event-time
watermark passes its inactivity deadline. That timeout path is what real
sessionization pipelines rely on to ever emit their last session.

Determinism: two-file replay (the stream_late_data pattern) — file 1
establishes the watermark, file 2's batch processes the expirations with
that watermark active. Every emitted row is a pure function of the corpus
(per-user file-1 aggregates + the watermark arithmetic), so the key
carries a FULL SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine.registry import query
from engine.tables import load, replay_fixture, sftag
from engine.streaming import run_to_memory

_SPLIT = "2024-01-30 00:00:00"
_IDLE_MS = 2 * 3600 * 1000  # 2h inactivity closes a session
# Far-future sentinel guard (r14 adversarial-timestamp axis): event times
# are clamped to this horizon at ingest, BEFORE watermarking. Two reasons:
# (1) grouped rows cross the applyInPandasWithState boundary as pandas
# datetime64[ns], which physically cannot hold a beyond-2262 stamp — the
# Arrow conversion kills the task; (2) a year-9999 "never expires"
# sentinel would otherwise set the watermark itself. A stamp 200+ years
# out is sentinel garbage, not an event time. The oracle applies the
# identical least() clamp, so the semantics are the contract, not a hack.
# The FLOOR guard is the same contract for the past: Structured
# Streaming's initial watermark is epoch zero and its late-record filter
# is strict, so a pre-1970 (or exactly-epoch) stamp is silently DROPPED
# from the very first batch — losing the row from every count. Clock-bug
# stamps are clamped up to epoch+1µs instead: the event is kept, its
# event-time is floor-pinned, and the count matches the oracle's.
_TS_HORIZON = "2262-04-10 00:00:00"
_TS_FLOOR = "1970-01-01 00:00:00.000001"

# last_ts crosses the pandas-state boundary as int64 µs, not a timestamp
# (r14 adversarial-timestamp axis): Arrow->pandas inside the worker is
# datetime64[ns], which cannot hold a beyond-2262 stamp — the conversion
# kills the task before the state fn even runs. The µs long is converted
# back to a timestamp JVM-side after the stateful op.
_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)
_STATE = T.StructType(
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
    key. Two-file replay makes it deterministic: file 1 (events before
    Jan 30) builds every user's state and, at its commit, the watermark
    max(file1.ts) − 1h; file 2's batch then runs with that watermark
    active, firing the timeout for every user idle >2h before it — except
    users with file-2 data, whose invocation is the DATA path (Spark
    serves a key its batch data instead of its expiration; the state
    rolls forward with a fresh deadline). After the last data batch,
    Structured Streaming runs ONE closing no-data batch with the final
    watermark (max(all) − 1h) — measured in this build: 11 of 12 emitted
    users at sf0.001 came from that closing wave — which flushes every
    remaining session idle >2h before it; states still inside the idle
    horizon at end-of-stream are never emitted (the stream, not the
    state, ended).

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
            "user_id",
            F.greatest(
                F.least(
                    F.col("ts").cast("timestamp"),
                    F.lit(_TS_HORIZON).cast("timestamp"),
                ),
                F.lit(_TS_FLOOR).cast("timestamp"),
            ).alias("ts"),
        ),
        [F.col("ts") < _SPLIT, F.col("ts") >= _SPLIT],
    )
    s = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    closed = (
        # ts is horizon-clamped at the fixture write (_TS_HORIZON), so
        # both the watermark column and the pandas payload stay inside
        # datetime64[ns] range — EventTimeTimeout requires the watermark
        # column to survive to the stateful op, so it cannot be projected
        # away here.
        s.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _close_on_timeout,
            outputStructType=_OUT,
            stateStructType=_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    # parts=8 (r14): this key's per-batch cost is the pandas state fn over
    # ~7k user groups — Python-worker-parallelism-bound, not
    # state-store-bound; measured ~4 s at 8 instances vs ~7 s at the
    # JVM-stateful keys' 4-instance default (see _run_stream docstring).
    out = run_to_memory(closed, f"sg_ett_{sftag(sf_dir)}", parts=8)
    return out.select(
        "user_id",
        "n_events",
        F.timestamp_micros("last_us").cast("timestamp_ntz").alias("last_ts"),
    )
