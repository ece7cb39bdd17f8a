"""spark-graft benchmark: one workload, one SparkSession, one closed-loop client.

Usage (from the repository root):

    python3 perfbench/run.py --workload olap_warm --seed 1 --seconds 20 --trace 0

A run

1. writes the deterministic corpus under ``.perfbench_work/`` if it is not
   there yet (a one-time cost per checkout, reported but not measured);
2. sets up: starts the tuned SparkSession (``engine.session.get_spark``),
   collects the registry and runs one cold round of the workload. Their sum
   is ``setup_s``;
3. checks every op kind once against its DuckDB oracle (row count, columns
   and an order-insensitive value hash) and records its row count;
4. runs warm-up rounds, then the measured window: a fixed number of rounds,
   derived from ``--seconds``, each op checked against its verified row
   count. One client sends the next op when the last has returned.
5. forces a JVM GC and reads the heap in use.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
loop with the harvester of ``perfbench/harvest.py`` reading Spark's metrics
after every op and prints the per-layer metrics. The harvest happens between
ops, outside each op's latency. The last stdout line is the result object;
the line before it holds annotations (host load, steal, settings, per-op
detail and any failure with its exception).
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# The host the benchmark was sized on has 4 vCPUs and 15 GiB; the engine's
# 16g default driver heap would exceed it.
DRIVER_MEM = "4g"

# Per workload: corpus scale factor, warm-up rounds, the seconds one warm
# round takes on the reference host (4 vCPUs), and the fewest rounds a
# window may have. The window runs max(ceil(seconds / round_s), min_rounds)
# whole rounds, so its op count is fixed by --seconds and does not depend on
# how fast this run happens to be. The floors: 100 ops put ten samples
# beyond olap_warm's p90. etl_fresh gets what fits the time the benchmark may
# take per run: the JIT still cuts its round times by 20-40% over the first
# rounds after the cold one, so two of them warm up and three are timed.
PLAN = {
    "olap_warm": {"sf": "0.1", "warmup_rounds": 4, "round_s": 0.7, "min_rounds": 17},
    "etl_fresh": {"sf": "0.1", "warmup_rounds": 2, "round_s": 5.0, "min_rounds": 3},
}


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(PLAN))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _window_rounds(workload: str, seconds: float) -> int:
    plan = PLAN[workload]
    return max(math.ceil(seconds / plan["round_s"]), plan["min_rounds"])


def _configure_env(run_dir: str) -> dict:
    """Session settings, through the env vars and confs the engine and
    PySpark already read. Returns them for the annotations."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    warehouse = os.path.join(run_dir, "warehouse")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": warehouse,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
        ) + " pyspark-shell",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {**env, **confs}


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway exits on EOF of its stdin
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _quantile(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Failures:
    """Failed ops, each logged with its exception class and message."""

    def __init__(self):
        self.listed: list[dict] = []
        self.count: dict[str, int] = {}

    def add(self, op: str, phase: str, ex: BaseException) -> None:
        self.count[phase] = self.count.get(phase, 0) + 1
        lines = str(ex).strip().splitlines()
        msg = f"{type(ex).__name__}: {lines[0][:300] if lines else ''}"
        if len(self.listed) < 50:
            self.listed.append({"op": op, "phase": phase, "error": msg})
        print(f"perfbench: {op} failed in {phase}: {msg}", file=sys.stderr)


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "engine")) or not os.path.isfile(
        os.path.join(ROOT, "scripts", "driver_sim.py")
    ):
        print(f"perfbench: no engine/ or scripts/driver_sim.py under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import corpus
    import procstat
    import workloads

    plan = PLAN[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    settings = _configure_env(run_dir)
    import bench  # host stamps; importing it runs no benchmark

    load_at_start = bench._load_note()
    jiffies_start = procstat.cpu_jiffies()
    t = time.perf_counter()
    sf_dir = corpus.ensure(WORK, plan["sf"])
    corpus_s = time.perf_counter() - t

    rng = random.Random(args.seed)

    def order(ops):  # the seed sets the order of the ops within each round
        return rng.sample(ops, len(ops))

    failures = Failures()
    spark = None
    try:
        # ---- set-up: session, registry, one cold round --------------------
        # The cold round collects every op's full result and checks it
        # against the op's DuckDB oracle; only the Spark side is timed.
        check = workloads.OracleCheck(ROOT, sf_dir, os.path.join(WORK, "oracle"))
        t0 = time.perf_counter()
        from engine.session import get_spark

        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        from engine.registry import collect

        queries, oracles = collect()
        t2 = time.perf_counter()
        ops = workloads.make_ops(args.workload, spark, sf_dir, queries, oracles)
        verified: dict[str, int] = {}
        cold_s = 0.0
        for op in order(ops):
            a = time.perf_counter()
            try:
                result = check.collect(op)
            except Exception as ex:
                failures.add(op.name, "setup", ex)
                continue
            finally:
                cold_s += time.perf_counter() - a
            try:
                verified[op.name] = check.compare(op, result)
            except Exception as ex:  # a wrong result or a crash: both fail
                failures.add(op.name, "oracle", ex)
        check.close()
        t3 = time.perf_counter()
        setup_s = t2 - t0 + cold_s
        session_start_s, collect_s = t1 - t0, t2 - t1

        # ---- warm-up, then the measured window ----------------------------
        for _ in range(plan["warmup_rounds"]):
            for op in order(ops):
                try:
                    op.act(op.build())
                except Exception:
                    pass  # the window below counts and reports failures
        t4 = time.perf_counter()
        harvester = None
        if args.trace:
            import harvest

            harvester = harvest.Harvester(spark)
        rounds = _window_rounds(args.workload, args.seconds)
        lat: list[float] = []
        by_op: dict[str, list[dict]] = {op.name: [] for op in ops}
        lat_by_op: dict[str, list[float]] = {op.name: [] for op in ops}
        harvest_s = 0.0
        per_round: list[tuple[int, float, float]] = []  # (ops, wall, cpu)
        jiffies0 = procstat.cpu_jiffies()
        for _ in range(rounds):
            done, r_harvest = 0, 0.0
            cpu0 = procstat.tree_cpu_s()
            w0 = time.perf_counter()
            for op in order(ops):
                if harvester:
                    h = time.perf_counter()
                    harvester.begin()
                    r_harvest += time.perf_counter() - h
                a = time.perf_counter()
                try:
                    df = op.build()
                    b = time.perf_counter()
                    rows = op.act(df)
                    c = time.perf_counter()
                    if op.name not in verified:
                        raise AssertionError("op kind failed its oracle check")
                    if rows != verified[op.name]:
                        raise AssertionError(
                            f"rows {rows} != verified {verified[op.name]}"
                        )
                except Exception as ex:
                    failures.add(op.name, "window", ex)
                    continue
                done += 1
                lat.append(c - a)
                lat_by_op[op.name].append(c - a)
                if harvester:
                    h = time.perf_counter()
                    layer = harvester.end(1e3 * (b - a))
                    layer["op_ms"] = 1e3 * (c - a)
                    by_op[op.name].append(layer)
                    r_harvest += time.perf_counter() - h
            wall = time.perf_counter() - w0 - r_harvest
            per_round.append((done, wall, procstat.tree_cpu_s() - cpu0))
            harvest_s += r_harvest
        window_s = sum(w for _, w, _ in per_round)
        window_steal = procstat.steal_pct(jiffies0, procstat.cpu_jiffies())
        if harvester:
            harvester.close()

        # Python must drop its proxies first, or the JVM objects they pin
        # (DataFrames of finished ops) would count as retained.
        gc.collect()
        jvm = spark.sparkContext._jvm
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        for _ in range(2):
            mem.gc()
        heap_mb = mem.getHeapMemoryUsage().getUsed() / 1024.0**2
    except Exception:
        traceback.print_exc()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    _stop_spark(spark)
    shutil.rmtree(run_dir, ignore_errors=True)

    attempted = rounds * len(ops)
    failed = failures.count.get("window", 0)
    if not lat:
        print("perfbench: every op of the window failed", file=sys.stderr)
        return 1
    # Rate and cost are medians over the window's rounds, so a burst of host
    # contention that slows one or two rounds does not move them.
    good = [(n, w, c) for n, w, c in per_round if n]
    e2e = {
        "throughput_ops_s": (statistics.median(n / w for n, w, _ in good), "1/s"),
        "latency_p50_ms": (1e3 * statistics.median(lat), "ms"),
        "latency_p90_ms": (1e3 * _quantile(lat, 90), "ms"),
        "cpu_s_per_op": (statistics.median(c / n for n, _, c in good), "s"),
        "heap_retained_mb": (heap_mb, "MiB"),
        "setup_s": (setup_s, "s"),
    }
    notes = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "sf": plan["sf"],
        "sf_dir": os.path.relpath(sf_dir, ROOT),
        "corpus_build_s": corpus_s,
        "session_start_s": session_start_s,
        "registry_collect_s": collect_s,
        "oracle_check_s": t3 - t0 - setup_s,
        "warmup_s": t4 - t3,
        "window_rounds": rounds,
        "window_ops": attempted,
        "window_s": window_s,
        "window_ops_s": len(lat) / window_s,
        "window_cpu_s_per_op": sum(c for _, _, c in per_round) / len(lat),
        "round_s": [w for _, w, _ in per_round],
        "op_p50_ms": {
            k: 1e3 * statistics.median(v) for k, v in lat_by_op.items() if v
        },
        "error_rate": failed / attempted,
        "failures_by_phase": failures.count,
        "failures": failures.listed,
        "steal_pct_run": procstat.steal_pct(jiffies_start, procstat.cpu_jiffies()),
        "steal_pct_window": window_steal,
        "load_at_start": load_at_start,
        "git_head": bench._git_head(),
        "nproc": len(os.sched_getaffinity(0)),
        "settings": settings,
    }
    if args.trace:
        import harvest

        metrics, notes["layers_by_op"] = _layer_report(
            by_op, lat, harvest_s, window_s, session_start_s, collect_s
        )
        metrics = {k: (v, harvest.unit(k)) for k, v in metrics.items()}
    else:
        metrics = e2e
    print(json.dumps(notes, default=str))
    # An op kind that failed its oracle check fails every one of its window
    # ops as well, so `failed` counts it without a separate term.
    result = {
        "correct": not failures.count,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _layer_report(by_op, lat, harvest_s, window_s, start_s, collect_s):
    """Workload-level per-layer metrics (means per op) and the same per op
    kind."""
    import harvest

    def mean_of(rows):
        out = {k: statistics.fmean(r[k] for r in rows) for k in harvest.OP_METRICS}
        files = sum(r["sinks.files_written"] for r in rows)
        out["sinks.bytes_per_file"] = (
            sum(r["sinks.bytes_written"] for r in rows) / files if files else 0.0
        )
        out["registry.build_share"] = sum(r["registry.build_ms"] for r in rows) / sum(
            r["op_ms"] for r in rows
        )
        return out

    every = [r for rows in by_op.values() for r in rows]
    metrics = mean_of(every)
    metrics["session.start_s"] = start_s
    metrics["registry.collect_s"] = collect_s
    metrics["trace.harvest_ms"] = 1e3 * harvest_s / max(1, len(every))
    metrics["trace.overhead_share"] = harvest_s / window_s
    metrics["trace.latency_p50_ms"] = 1e3 * statistics.median(lat)
    per_op = {name: mean_of(rows) for name, rows in by_op.items() if rows}
    return metrics, per_op


if __name__ == "__main__":
    sys.exit(main())
