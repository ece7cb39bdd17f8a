"""Fixed cost of one Python task (docs/SCALE.md rule 2), the figure that
sizes engine.simsearch._PAIRS_PER_TASK, for worker code shipped by reference
and for a closure shipped by value.

A pass-through mapInArrow over 1 and over 4 partitions of a 1,000-row
range on a local[4] session, in three variants:

- ``engine``: the pass-through imports ``engine`` in the worker. Every
  engine kernel is a module-level def pickled by reference, so the worker
  imports ``engine`` (and installs its zip guard) when it unpickles one.
  A def in this script is shipped by value, so it imports ``engine``
  itself to stand for that.
- ``closure``: a nested pass-through that never imports ``engine``, the
  way a nested def, lambda or decorated UDF reaches the worker. It pays
  PySpark's per-task zip re-read.
- ``tcp``: the ``engine`` pass-through on a plain ``SparkSession.builder``
  session (engine shipped by ``tune``), whose Python workers talk to the
  JVM over loopback TCP instead of ``get_spark``'s Unix domain sockets.
  Its extra wall time is the TCP stall ``get_spark`` avoids.

3 warm-up jobs, then 10 timed jobs per (variant, width), interleaved.
Reports the median wall time and process-tree CPU (driver, JVM and Python
workers, perfbench/procstat.py) per job. The per-task fixed cost is
(cpu(4) - cpu(1)) / 3. A reused worker keeps the guard once any task
imported ``engine``, so each variant runs in its own session: the closure
first, before any worker has imported ``engine``.

Usage: python scripts/_probe_python_task_cost.py
"""

from __future__ import annotations

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from procstat import tree_cpu_s  # noqa: E402

from pyspark.sql import SparkSession  # noqa: E402

from engine.session import get_spark, tune  # noqa: E402

WIDTHS = (1, 4)


def _pass(batches):
    import engine  # noqa: F401

    yield from batches


def _closure():
    def passthrough(batches):
        yield from batches

    return passthrough


def _tuned():
    return get_spark("python-task-cost", cpus="4")


def _plain_tcp():
    # A later session in the same JVM inherits the confs the JVM was
    # launched with (get_spark's, as system properties), so the socket
    # conf is set, not left to its default.
    builder = SparkSession.builder.master("local[4]").appName("python-task-cost-tcp")
    return tune(builder.config("spark.python.unix.domain.socket.enabled", "false").getOrCreate())


def _measure(fn, session) -> dict[int, tuple[float, float]]:
    """Median (wall, CPU) per job at each width, in a fresh session."""
    spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    frames = {
        w: spark.range(1000, numPartitions=w).mapInArrow(fn, "id long") for w in WIDTHS
    }
    for _ in range(3):
        for df in frames.values():
            df.collect()
    runs: dict[int, list[tuple[float, float]]] = {w: [] for w in WIDTHS}
    for _ in range(10):
        for w, df in frames.items():
            c0, t0 = tree_cpu_s(), time.perf_counter()
            df.collect()
            runs[w].append((time.perf_counter() - t0, tree_cpu_s() - c0))
    spark.stop()
    return {
        w: (
            statistics.median(r[0] for r in runs[w]),
            statistics.median(r[1] for r in runs[w]),
        )
        for w in WIDTHS
    }


def main() -> int:
    variants = (
        ("closure", _closure(), _tuned),
        ("engine", _pass, _tuned),
        ("tcp", _pass, _plain_tcp),
    )
    for name, fn, session in variants:
        res = _measure(fn, session)
        for w, (wall, cpu) in res.items():
            print(f"{name}: {w} task(s): wall {wall:.3f} s, process-tree CPU {cpu:.3f} s per job")
        print(f"{name}: per-task fixed cost {(res[4][1] - res[1][1]) / 3:.3f} CPU-s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
