"""Capstone #6: the streaming serving pipeline — ingest → quality gate →
windowed aggregation → foreachBatch merge → serving table, end to end.

The batch capstones (#1 datasheet, #3 pretrain mix, #4 dedup cascade,
#5 ANN index) cover the offline side; this one is the ONLINE side every
product analytics stack runs: a stream of events lands in micro-batches,
bad rows are gated out, per-window aggregates are maintained
incrementally in a keyed serving table, and dashboards read that table —
never the raw stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.streaming import merge_table, run_stream
from engine.tables import load, replay_fixture, sftag
from engine.tmpdirs import scratch_dir


@query(
    "pipeline_stream_serving",
    # FULL oracle: the 3-batch replay's merges are associative per
    # (window, type) key and the batch order is fixed, so the final
    # serving table equals the one-shot filtered batch aggregate.
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS cnt,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE event_type != 'error' AND value >= 0
    GROUP BY 1, 2
    """,
)
def pipeline_stream_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming serving capstone: events replayed as three micro-batches
    (event_id % 3 split, so every hourly window receives contributions
    from EVERY batch and the merge genuinely sums); each batch is
    quality-gated (drop 'error' events and negative values — the
    row-local filter runs before any state), aggregated to
    (hour, event_type) deltas, and MERGED into a keyed parquet serving
    table via foreachBatch (``merge_table``: insert-new / sum-existing,
    write-then-swap). The returned relation is what a dashboard reads:
    the serving table after the final merge — provably equal to the
    one-shot batch aggregate (the oracle).

    100 TB/day: this is THE incremental-analytics contract —
    (a) gate rows BEFORE stateful work (rejected rows never shuffle),
    (b) aggregate the batch to delta grain before touching the state
    (merge IO is O(windows), not O(events)), (c) keep the merge
    associative + idempotent-per-batch so replays and retries converge,
    (d) serve reads from the compact keyed table, never the stream.
    foreachBatch's per-batch transactionality caveat (and the
    table-format upgrade path) is documented at
    stream_foreachbatch_upsert."""
    table = f"{scratch_dir(prefix=f'sg-serving-{sftag(sf_dir)}-')}/table"
    # The three batch files are fixture prep, built once per corpus file
    # identity. Every timed run still executes a real streaming query:
    # fresh checkpoint, fresh serving table, real merges.
    src = replay_fixture(
        f"{sf_dir}/events.parquet",
        "srv-src",
        lambda: load(spark, sf_dir, "events").select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_type",
            "value",
        ),
        [F.col("event_id") % 3 == i for i in range(3)],
    )

    s = (
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        delta = (
            batch_df.filter((F.col("event_type") != "error") & (F.col("value") >= 0))
            .groupBy(
                F.date_trunc("hour", "ts").alias("window_start"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"))
        )
        merge_table(table, delta, ["window_start", "event_type"], 4)

    run_stream(s, merge, sf_dir)
    return spark.read.parquet(table).select(
        "window_start",
        "event_type",
        "cnt",
        F.round(F.col("sv"), 2).alias("total_value"),
    )
