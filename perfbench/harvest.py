"""Per-layer metrics for one op, harvested from Spark's own bookkeeping.

After each op of a traced run the harvester reads, for every SQL execution
the op started, the operator metrics that Spark's SQL status store keeps
(it is populated with ``spark.ui.enabled=false`` too), and the progress
events a ``StreamingQueryListener`` received. It maps them onto the engine's
layers:

=========  ==============================================  ====================
layer      engine modules                                  Spark source
=========  ==============================================  ====================
tables     tables.py                                       Scan parquet
compute    relational, aggs, windows, analytics            WholeStageCodegen,
                                                           *Aggregate, any
                                                           "peak memory" /
                                                           "spill size"
exchange   (shuffle and broadcast planning)                Exchange,
                                                           BroadcastExchange
kernels    llmops, vecops, simsearch, udfs                 nodes that run
                                                           Python workers
sinks      sinks2, etl                                     nodes that write
                                                           files
streaming  streaming, streaming2                           listener progress
registry   registry.py and the operator functions          jobs and tasks of
                                                           the op's executions
=========  ==============================================  ====================

Reconciliation rule: operator times are task time summed over the tasks of
an operator, and they overlap. ``compute.codegen_ms`` is the duration of a
whole-stage-codegen stage and includes the scan, filter and aggregate work
fused into it, so ``tables.scan_ms`` and ``compute.agg_build_ms`` are parts
of it, not additions to it. Summed task time on a multi-core host also
exceeds wall time. Compare layer times with ``cpu_s_per_op`` (cost), never
with latency (wall time), and never add layers that nest.

Node and metric names are those of Spark 4.1; the self-test pins them on a
query with known counts.
"""

from __future__ import annotations

import re
import threading

from pyspark.sql.streaming import StreamingQueryListener

# Layer metrics that are summed over the op's executions, keyed by
# (node-name test, Spark metric name). A node-name test of None matches any
# node that carries the metric.
_SUMS: list[tuple[str | None, str, str]] = [
    ("Scan parquet", "scan time", "tables.scan_ms"),
    ("Scan parquet", "number of output rows", "tables.rows_read"),
    ("Scan parquet", "size of files read", "tables.bytes_read"),
    ("Scan parquet", "number of files read", "tables.files_read"),
    ("Scan parquet", "metadata time", "tables.metadata_ms"),
    ("WholeStageCodegen", "duration", "compute.codegen_ms"),
    (None, "time in aggregation build", "compute.agg_build_ms"),
    (None, "spill size", "compute.spill_bytes"),
    ("Exchange", "shuffle bytes written", "exchange.shuffle_bytes"),
    ("Exchange", "shuffle records written", "exchange.shuffle_records"),
    ("Exchange", "shuffle write time", "exchange.shuffle_write_ms"),
    ("Exchange", "fetch wait time", "exchange.fetch_wait_ms"),
    ("BroadcastExchange", "time to collect", "exchange.broadcast_collect_ms"),
    ("BroadcastExchange", "time to build", "exchange.broadcast_build_ms"),
    ("BroadcastExchange", "data size", "exchange.broadcast_bytes"),
    (None, "time to run Python workers", "kernels.python_run_ms"),
    (None, "time to start Python workers", "kernels.python_start_ms"),
    (None, "data sent to Python workers", "kernels.bytes_to_python"),
    (None, "data returned from Python workers", "kernels.bytes_from_python"),
    (None, "number of written files", "sinks.files_written"),
    (None, "written output", "sinks.bytes_written"),
    (None, "task commit time", "sinks.task_commit_ms"),
    (None, "job commit time", "sinks.job_commit_ms"),
]

# Every layer metric one op yields, in report order.
OP_METRICS = [
    "registry.build_ms",
    "spark.jobs_per_op",
    "spark.tasks_per_op",
    *dict.fromkeys(m for _, _, m in _SUMS),
    "compute.peak_mem_mb",
    "exchange.count",
    "kernels.rows_from_python",
    "streaming.batches",
    "streaming.commit_ms",
    "streaming.state_rows",
    "streaming.state_mem_bytes",
]

_UNIT_SCALE = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3,
    "TiB": 1024.0**4, "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
# node labels and WholeStageCodegen cluster labels, Java-escaped
_LABEL = re.compile(r'label="((?:[^"\\]|\\.)*)"')
_TOTAL_HEAD = "total (min, med, max (stageId: taskId))"


def parse_value(text: str) -> float:
    """Spark's rendered metric value ("1,234", "12.5 MiB", "1.2 s") as a
    number in bytes, milliseconds or a plain count."""
    m = _VALUE.match(text.strip())
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    num = float(m.group(1).replace(",", ""))
    return num * _UNIT_SCALE.get(m.group(2), 1.0)


def parse_dot(dot: str) -> list[tuple[str, dict[str, float]]]:
    """(node name, {metric name: value}) for each node of a plan graph in
    the DOT form ``SparkPlanGraph.makeDotFile`` renders. A metric whose
    value spans two lines (task metrics: a "total (min, med, max ...)"
    header, then the values) is read from its second line, whose first
    number is the total over tasks."""
    nodes = []
    for label in _LABEL.findall(dot):
        # cluster labels keep their newlines (escaped); node labels use <br>
        label = label.replace("\\n", "<br>").replace('\\"', '"')
        parts = label.split("<br>")
        name = parts[0].removeprefix("<b>").removesuffix("</b>").strip()
        metrics: dict[str, float] = {}
        i = 1
        while i < len(parts):
            line = parts[i]
            if line.endswith(_TOTAL_HEAD) and i + 1 < len(parts):
                key = line[: -len(_TOTAL_HEAD)].strip().rstrip(":")
                metrics[key] = parse_value(parts[i + 1])
                i += 2
                continue
            if ": " in line and "(min, med, max" not in line:
                key, _, val = line.rpartition(": ")
                try:
                    metrics[key] = parse_value(val)
                except ValueError:
                    pass  # averages and other non-additive renderings
            i += 1
        nodes.append((name, metrics))
    return nodes


def layer_metrics(nodes: list[tuple[str, dict[str, float]]]) -> dict[str, float]:
    """Fold one execution's plan nodes into layer metrics."""
    out = dict.fromkeys(OP_METRICS, 0.0)
    for name, metrics in nodes:
        for node_test, spark_name, layer in _SUMS:
            if spark_name not in metrics:
                continue
            if node_test is None or name.startswith(node_test):
                out[layer] += metrics[spark_name]
        if name.startswith(("Exchange", "BroadcastExchange")):
            out["exchange.count"] += 1
        if "peak memory" in metrics:
            out["compute.peak_mem_mb"] = max(
                out["compute.peak_mem_mb"], metrics["peak memory"] / 1024.0**2
            )
        # A node that runs Python workers and keeps no streaming state is a
        # kernel (MapInArrow, ArrowEvalPython, FlatMapGroupsInPandas, ...);
        # its output rows are the rows the Python side returned.
        if (
            "time to run Python workers" in metrics
            and "number of total state rows" not in metrics
        ):
            out["kernels.rows_from_python"] += metrics.get("number of output rows", 0.0)
    return out


class _ProgressListener(StreamingQueryListener):
    """Buffers streaming progress; callbacks arrive on a Py4J thread."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: list = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        with self.lock:
            self.progress.append(event.progress)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def drain(self) -> list:
        with self.lock:
            out, self.progress = self.progress, []
        return out


def streaming_metrics(progress: list) -> dict[str, float]:
    """Batches, commit time (state-store commits plus the offset and commit
    log writes) and the state each query held after its last batch."""
    out = {
        "streaming.batches": 0.0,
        "streaming.commit_ms": 0.0,
        "streaming.state_rows": 0.0,
        "streaming.state_mem_bytes": 0.0,
    }
    last: dict[str, object] = {}
    for p in progress:
        out["streaming.batches"] += 1
        d = p.durationMs or {}
        out["streaming.commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        for s in p.stateOperators or ():
            out["streaming.commit_ms"] += s.commitTimeMs
        last[str(p.runId)] = p
    for p in last.values():
        for s in p.stateOperators or ():
            out["streaming.state_rows"] += s.numRowsTotal
            out["streaming.state_mem_bytes"] += s.memoryUsedBytes
    return out


class Harvester:
    """Collects the layer metrics of each op on one SparkSession.

    Call ``begin()`` before an op and ``end(build_ms)`` after it."""

    def __init__(self, spark):
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self._tracker = spark.sparkContext._jsc.sc().statusTracker()
        self._listener = _ProgressListener()
        spark.streams.addListener(self._listener)
        self._last_id = -1

    def _max_execution_id(self) -> int:
        n = self._store.executionsCount()
        if n == 0:
            return -1
        return self._store.executionsList(n - 1, 1).head().executionId()

    def begin(self) -> None:
        self._bus.waitUntilEmpty()
        self._last_id = self._max_execution_id()
        self._listener.drain()

    def end(self, build_ms: float) -> dict[str, float]:
        # the status store and the listener are fed from the listener bus
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(OP_METRICS, 0.0)
        out["registry.build_ms"] = build_ms
        for eid in range(self._last_id + 1, self._max_execution_id() + 1):
            opt = self._store.execution(eid)
            if opt.isEmpty():
                continue
            ex = opt.get()
            out["spark.jobs_per_op"] += ex.jobs().size()
            for sid in map(int, re.findall(r"\d+", ex.stages().toString())):
                info = self._tracker.getStageInfo(sid)
                if not info.isEmpty():
                    out["spark.tasks_per_op"] += info.get().numCompletedTasks()
            values = self._store.executionMetrics(eid)
            dot = self._store.planGraph(eid).makeDotFile(values)
            for k, v in layer_metrics(parse_dot(dot)).items():
                if k == "compute.peak_mem_mb":
                    out[k] = max(out[k], v)
                else:
                    out[k] += v
        out.update(streaming_metrics(self._listener.drain()))
        return out

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def unit(name: str) -> str:
    """The unit of a per-layer metric, from its name's suffix."""
    leaf = name.rsplit(".", 1)[-1]
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_mb"):
        return "MiB"
    if "bytes" in leaf:
        return "B"
    if leaf.endswith("_share"):
        return "1"
    return "count"
