"""Self-test of the benchmark at sf0.001.

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

It pins the harvester's parsing and its mapping of Spark metrics on queries
with known counts, and runs each workload end to end for a few ops.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH)

import corpus  # noqa: E402
import harvest  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SF = "0.001"


def test_parse_value_units():
    assert harvest.parse_value("1,234") == 1234
    assert harvest.parse_value("12.5 KiB") == 12.5 * 1024
    assert harvest.parse_value("1.5 s") == 1500
    assert harvest.parse_value("7 ms") == 7


def test_parse_dot_node_and_cluster_labels():
    dot = (
        'digraph G {\n'
        '  subgraph cluster1 {\n'
        '    isCluster="true";\n'
        '    label="WholeStageCodegen (1)\\n \\nduration: total (min, med, max '
        '(stageId: taskId))\\n206 ms (34 ms, 55 ms, 63 ms (stage 1.0: task 1))";\n'
        '  2 [id="node2" labelType="html" label="<b>Scan parquet </b><br> <br>'
        'number of files read: 1<br>size of files read: 114.5 KiB<br>'
        'number of output rows: 6,000" tooltip="x"];\n'
        '  }\n}\n'
    )
    nodes = dict(harvest.parse_dot(dot))
    assert nodes["WholeStageCodegen (1)"] == {"duration": 206}
    assert nodes["Scan parquet"]["number of output rows"] == 6000
    m = harvest.layer_metrics(harvest.parse_dot(dot))
    assert m["tables.rows_read"] == 6000
    assert m["tables.files_read"] == 1
    assert m["compute.codegen_ms"] == 206


def test_units_cover_every_metric():
    for name in harvest.OP_METRICS:
        assert harvest.unit(name) in {"ms", "s", "MiB", "B", "1", "count"}


@pytest.fixture(scope="module")
def spark():
    from engine.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", run.DRIVER_MEM)
    s = get_spark("perfbench-selftest", cpus="2")
    yield s


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    return corpus.ensure(str(tmp_path_factory.mktemp("corpus")), SF)


def test_corpus_is_deterministic_and_sized():
    a = corpus.build_tables(SF)
    b = corpus.build_tables(SF)
    for name in corpus.TABLES:
        assert a[name].equals(b[name]), name
    assert a["lineitem"].num_rows == corpus.SIZES[SF]["lineitem"]
    assert a["embeddings"].num_rows == corpus.SIZES[SF]["embeddings"]


def test_harvester_counts_scan_rows(spark, sf_dir):
    h = harvest.Harvester(spark)
    try:
        h.begin()
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).groupBy(
            "l_returnflag"
        ).count().collect()
        m = h.end(0.0)
    finally:
        h.close()
    assert m["tables.rows_read"] == corpus.SIZES[SF]["lineitem"]
    assert m["tables.files_read"] == 1
    assert m["exchange.count"] >= 1
    assert m["exchange.shuffle_records"] > 0
    assert m["spark.jobs_per_op"] >= 1
    assert m["spark.tasks_per_op"] >= 1
    assert m["sinks.files_written"] == 0


def test_harvester_sees_sink_and_stream(spark, sf_dir):
    from engine.registry import collect

    queries, _ = collect()
    h = harvest.Harvester(spark)
    try:
        h.begin()
        queries["sink_hive_partitioned"].__wrapped__(spark, sf_dir).count()
        sink = h.end(0.0)
        h.begin()
        queries["stream_watermark_dedup"].__wrapped__(spark, sf_dir).count()
        stream = h.end(0.0)
    finally:
        h.close()
    assert sink["sinks.files_written"] > 0
    assert sink["sinks.bytes_written"] > 0
    assert stream["streaming.batches"] >= 1
    assert stream["streaming.state_rows"] >= 0


def test_oracle_check_passes_and_catches_a_wrong_oracle(spark, sf_dir):
    from engine.registry import collect

    queries, oracles = collect()
    ops = workloads.make_ops("olap_warm", spark, sf_dir, queries, oracles)
    check = workloads.OracleCheck(ROOT, sf_dir, os.path.join(sf_dir, "oracle"))
    try:
        op = next(o for o in ops if o.name == "semi_anti")
        assert check.compare(op, check.collect(op)) == 1
        bad = workloads.Op(op.name, op.build, op.act, "SELECT 0 AS cnt")
        with pytest.raises(AssertionError):
            check.compare(bad, check.collect(bad))
    finally:
        check.close()


@pytest.mark.parametrize("workload,trace", [("olap_warm", 0), ("etl_fresh", 1)])
def test_workload_runs_end_to_end(workload, trace):
    """A few ops of each workload at sf0.001 through run.main, in a child
    process because a run stops its JVM when it ends."""
    code = (
        "import sys; sys.path.insert(0, 'perfbench'); import run\n"
        "for p in run.PLAN.values():\n"
        f"    p.update(sf={SF!r}, warmup_rounds=0, round_s=1e9, min_rounds=1)\n"
        "sys.exit(run.main(sys.argv[1:]))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    notes = json.loads(lines[-2])
    n_ops = len(workloads.WORKLOADS[workload]["ops"])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, notes["failures"]
    assert result["attempted"] == n_ops and result["failed"] == 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    assert {k: m["unit"] for k, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    if trace:
        assert set(notes["layers_by_op"]) == set(workloads.WORKLOADS[workload]["ops"])
        assert result["metrics"]["sinks.files_written"]["value"] > 0
        assert result["metrics"]["streaming.batches"]["value"] > 0
    else:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory with only the benchmark, it exits non-zero and prints
    no result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap_warm",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
