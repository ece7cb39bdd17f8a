"""SparkSession factory + runtime tuning.

Three entry points:

- ``get_spark()``: build a tuned local session (tests / bench own the session).
- ``tune(spark)``: idempotently apply the *runtime-settable* subset of our
  tuning to a session we did NOT build (the driver's harness owns its session
  and constructs it with unknown confs). Called from every table loader so
  driver-run queries still get nanosAsLong + sane shuffle parallelism.
- ``session_memo(spark, build, tag, *key)``: the one store for objects bound
  to a live SparkContext (built plans, table loads, persisted relations,
  broadcasts, tune state). A new context drops the whole store.

Scale notes (100 TB): these confs are the local-mode projection of a cluster
config. On a real cluster the same code runs with AQE coalescing/skew-join,
`spark.sql.shuffle.partitions` sized to ~2-3× total cores, and
`spark.sql.files.maxPartitionBytes` at its 128 MB default so a 100 TB scan
fans out to ~800k input splits; nothing in the engine assumes local mode.
"""

from __future__ import annotations

import os
import warnings
from typing import Callable

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))


# Confs that can be flipped on a live session (verified runtime-settable on
# Spark 4.1.2). Keys we must have for correctness come first:
#  - nanosAsLong: the events table is parquet timestamp[ns], which the
#    vectorized reader otherwise rejects (PARQUET_TYPE_ILLEGAL). We read the
#    raw int64 nanos and convert to timestamp_ntz in engine.tables.
#  - session timeZone UTC: all timestamps in the corpus are naive; UTC makes
#    TimestampType<->NTZ casts the identity.
_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def _aqe() -> str:
    # AQE's per-stage materialization + re-planning costs ~100-150 ms per
    # shuffle — pure overhead on sub-second local queries (measured: TPC-H
    # Q1-ish 233 ms with AQE vs 59 ms without at sf0.1). On a real cluster
    # AQE is mandatory (runtime broadcast, skew-join split, partition
    # coalescing at 100 TB) — flip SPARK_GRAFT_AQE=true there.
    return os.environ.get("SPARK_GRAFT_AQE", "false")


# ---------------------------------------------------------------------------
# session store: objects bound to one live SparkContext
# ---------------------------------------------------------------------------

# (session, tag, *key) -> (validity, value) for plans, table loads,
# persisted relations, broadcasts and tune state. The store belongs to the
# context in _STORE_SC. A different context means the held one was stopped
# and its objects are dead, so the whole store is dropped without release.
_STORE: dict[tuple, tuple] = {}
_STORE_SC = None


def session_memo(
    spark: SparkSession, build: Callable, tag: str, *key, valid=None, release=None
):
    """``build()``, once per (``spark``, ``tag``, ``*key``) while the entry's
    ``valid`` equals the caller's. A miss first passes the replaced value to
    ``release`` (an unpersist, say). Liveness is an identity check on the
    context object, so a hit makes no Py4J call."""
    global _STORE_SC
    if spark.sparkContext is not _STORE_SC:
        _STORE.clear()
        _STORE_SC = spark.sparkContext
    k = (spark, tag, *key)
    hit = _STORE.get(k)
    if hit is not None and hit[0] == valid:
        return hit[1]
    if hit is not None and release is not None:
        release(hit[1])
    value = build()
    _STORE[k] = (valid, value)
    return value


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to any session, once per session: each conf
    get/set is a Py4J round-trip, and tune() sits on the per-query hot path
    via the table loaders. A conf this build cannot set keeps its session
    default, with a warning that names it."""

    def apply() -> None:
        confs = dict(_RUNTIME_CONFS)
        confs["spark.sql.shuffle.partitions"] = _cpus()
        confs["spark.sql.adaptive.enabled"] = _aqe()
        for k, v in confs.items():
            try:
                if spark.conf.get(k, None) != v:
                    spark.conf.set(k, v)
            except Exception as e:
                warnings.warn(f"tune: cannot set {k}={v!r}: {e!r}")

    session_memo(spark, apply, "tuned")
    return spark


def get_spark(app: str = "spark-graft", cpus: str | None = None) -> SparkSession:
    cpus = cpus or _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return tune(builder.getOrCreate())
