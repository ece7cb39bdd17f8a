"""Fixed cost of one Python task (docs/SCALE.md rule 2), the figure that
sizes engine.llmops._PAIRS_PER_TASK.

A pass-through mapInArrow over 1 and over 4 partitions of a 1,000-row
range on a local[4] session: 3 warm-up jobs, then 10 timed jobs per
width, interleaved. The pass-through imports ``engine`` in the worker, as
every engine kernel does. Reports the median wall time and process-tree CPU
(driver, JVM and Python workers, perfbench/procstat.py) per job. The
per-task fixed cost is (cpu(4) - cpu(1)) / 3.

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

from engine.session import get_spark  # noqa: E402

WIDTHS = (1, 4)


def _pass(batches):
    # An engine kernel's worker imports engine, which installs the zip
    # guard; a closure that never does pays the stock per-task re-read.
    import engine  # noqa: F401

    yield from batches


def main() -> int:
    spark = get_spark("python-task-cost", cpus="4")
    spark.sparkContext.setLogLevel("ERROR")
    frames = {
        w: spark.range(1000, numPartitions=w).mapInArrow(_pass, "id long")
        for w in WIDTHS
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
    cpu = {}
    for w in WIDTHS:
        wall = statistics.median(r[0] for r in runs[w])
        cpu[w] = statistics.median(r[1] for r in runs[w])
        print(f"{w} task(s): wall {wall:.3f} s, process-tree CPU {cpu[w]:.3f} s per job")
    print(f"per-task fixed cost: {(cpu[4] - cpu[1]) / 3:.3f} CPU-s")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
