"""Worker bootstrap: tune() ships ``engine`` to the executors, and a Python
worker that imports it re-reads a zip archive's central directory only when
the archive changed (engine/__init__.py).

The guard tests drive ``zipimport`` directly on a temp zip, no Spark. The
Spark tests run in a child interpreter whose cwd holds no ``engine/``: a
worker started from the repo root would import the source tree from its
cwd and hide a missing ship."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

import engine
from tests.conftest import SF_DIR_MID

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, members: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pytest.fixture
def guarded(monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", engine._reread_if_changed
    )


def test_unchanged_archive_not_reread(tmp_path, guarded):
    z = tmp_path / "a.zip"
    _write_zip(z, {"sg_guard_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(str(z))
    imp.invalidate_caches()  # first call on an importer reads
    files = imp._files
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert imp._files is files
    engine._stock_invalidate(imp)  # the stock call replaces it
    assert imp._files is not files


def test_rewritten_archive_is_reread(tmp_path, guarded, monkeypatch):
    z = tmp_path / "b.zip"
    _write_zip(z, {"sg_guard_b1.py": "X = 1\n"})
    monkeypatch.syspath_prepend(str(z))
    try:
        assert importlib.import_module("sg_guard_b1").X == 1
        importlib.invalidate_caches()  # records the identity
        _write_zip(z, {"sg_guard_b1.py": "X = 1\n", "sg_guard_b2.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert importlib.import_module("sg_guard_b2").Y == 2
    finally:
        sys.modules.pop("sg_guard_b1", None)
        sys.modules.pop("sg_guard_b2", None)


def test_deleted_archive_falls_back_to_stock(tmp_path, guarded):
    z = tmp_path / "c.zip"
    _write_zip(z, {"sg_guard_c.py": "X = 1\n"})
    imp = zipimport.zipimporter(str(z))
    imp.invalidate_caches()
    assert imp._files
    z.unlink()
    imp.invalidate_caches()
    assert imp._files == {}
    assert str(z) not in zipimport._zip_directory_cache


# Runs in a child interpreter from a cwd without engine/. Three tasks on
# one reused worker (mapInArrow, like the engine's kernels): the first
# imports engine and installs the guard, the second is the guard's first
# call per importer, which records each archive's identity for the third.
_PROBE = textwrap.dedent(
    """
    import json, sys, zipimport
    sys.path.insert(0, sys.argv[1])
    import engine
    from engine.session import tune
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[1]").getOrCreate()
    before = list(sys.path)
    tune(spark)

    def probe(batches):
        import os
        import pyarrow as pa
        import engine
        for _ in batches:
            pass
        zips = [
            i for i in sys.path_importer_cache.values()
            if isinstance(i, zipimport.zipimporter)
        ]
        yield pa.RecordBatch.from_pylist([{"report": json.dumps({
            "pid": os.getpid(),
            "engine_file": engine.__file__,
            "guard": zipimport.zipimporter.invalidate_caches
            is engine._reread_if_changed,
            "zipimporters": len(zips),
            "recorded": sum(
                getattr(i, "_read_as", None) == engine.file_identity(i.archive)
                for i in zips
            ),
        })}])

    df = spark.range(1, numPartitions=1)
    tasks = [
        json.loads(df.mapInArrow(probe, "report string").collect()[0][0])
        for _ in range(3)
    ]
    print(json.dumps({
        "tasks": tasks,
        "driver_path_kept": sys.path == before,
        "driver_engine_file": engine.__file__,
        "driver_stock": zipimport.zipimporter.invalidate_caches
        is engine._stock_invalidate,
    }))
    """
)


def test_worker_imports_shipped_engine_and_installs_guard(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, REPO],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    report = json.loads(out.stdout.strip().splitlines()[-1])
    first, _, third = report["tasks"]
    assert first["pid"] == third["pid"]
    assert "engine.zip" in first["engine_file"]
    assert first["guard"] and third["guard"]
    assert third["zipimporters"] > 0
    assert third["recorded"] == third["zipimporters"]
    assert report["driver_path_kept"] and report["driver_stock"]
    assert report["driver_engine_file"] == os.path.join(REPO, "engine", "__init__.py")


# Every key that runs Python worker code, found by running each key at
# sf0.01 on a session with spark.python.worker.reuse=false and a copy of
# the engine that logs each worker-side `import engine`.
PYTHON_KEYS = [
    "agg_heavy_hitters",
    "dedup_embedding_cosine",
    "emb_pca_project",
    "multimodal_decode_pipeline",
    "pipeline_ann_index_build",
    "scan_python_datasource",
    "scan_python_stream_source",
    "sim_ann_ivf",
    "sim_ann_rp_lsh",
    "sim_topk_pairs",
    "sink_python_datasource",
    "stream_event_time_timeout",
    "stream_stateful_counter",
    "udaf_arrow_group",
    "udaf_pandas_group",
    "udf_mapinpandas_stream",
    "udf_pandas_vectorized",
    "udf_python_arrow_scalar",
    "udf_python_scalar",
    "udtf_arrow_expand",
    "udtf_python",
    "udtf_table_argument",
]


def test_python_keys_pass_from_foreign_cwd(tmp_path):
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "driver_sim.py"),
            SF_DIR_MID,
            *PYTHON_KEYS,
        ],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    want = f"t2: {len(PYTHON_KEYS)} PASS, 0 ROWS-ONLY, 0 FAIL"
    assert want in out.stdout, out.stdout[-3000:]


# A plain session whose first engine call is a key that reads no table:
# the key itself must ship the engine its worker classes are pickled
# against.
_FIRST_KEY = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    from pyspark.sql import SparkSession
    from engine.registry import collect

    spark = SparkSession.builder.master("local[2]").getOrCreate()
    build = collect()[0]["scan_python_datasource"].__wrapped__
    print(build(spark, sys.argv[2]).count())
    """
)


def test_unmemoized_datasource_key_ships_engine_first(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _FIRST_KEY, REPO, SF_DIR_MID],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "1000"


# get_spark's Python workers use Unix domain sockets in a short socket
# dir. Run in a child whose TMPDIR and java.io.tmpdir are ~100 characters:
# a socket named in either would overflow sun_path.
_UDS = textwrap.dedent(
    """
    import json, os, sys
    sys.path.insert(0, sys.argv[1])
    from engine.session import get_spark

    def passthrough(batches):
        yield from batches

    spark = get_spark("uds", cpus="1")
    sock_dir = spark.conf.get("spark.python.unix.domain.socket.dir")
    print(json.dumps({
        "uds": spark.conf.get("spark.python.unix.domain.socket.enabled"),
        "sock_dir": sock_dir,
        "rows": spark.range(5, numPartitions=1)
        .mapInArrow(passthrough, "id long").count(),
        "collected": len(spark.range(7).collect()),
        "sockets": [f for f in os.listdir(sock_dir) if f.endswith(".sock")],
    }))
    """
)


def test_get_spark_workers_on_unix_sockets_with_long_tmpdir(tmp_path):
    long_tmp = tmp_path / ("t" * max(1, 100 - len(str(tmp_path)) - 1))
    long_tmp.mkdir()
    assert len(str(long_tmp)) >= 99
    env = dict(
        os.environ,
        TMPDIR=str(long_tmp),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={long_tmp}",
    )
    out = subprocess.run(
        [sys.executable, "-c", _UDS, REPO],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    report = json.loads(out.stdout.strip().splitlines()[-1])
    assert report["uds"] == "true"
    assert report["rows"] == 5 and report["collected"] == 7
    assert report["sockets"]  # the accumulator and worker sockets live there
    assert len(report["sock_dir"]) + 43 <= 107
    assert not os.path.exists(report["sock_dir"])  # removed at exit


def test_socket_dir_in_temp_dir_when_short_enough(monkeypatch, tmp_path):
    """socket_dir is a scratch dir in the temp dir when every socket path
    in it fits sun_path, else one under /tmp."""
    import shutil
    import tempfile

    from engine import tmpdirs

    short = tempfile.mkdtemp(prefix="s", dir="/tmp")
    try:
        monkeypatch.setattr(tmpdirs.tempfile, "tempdir", short)
        d = tmpdirs.socket_dir()
        assert os.path.dirname(d) == short
        assert len(d) + 43 <= 107
        tmpdirs.drop_scratch(d)
    finally:
        shutil.rmtree(short)
    long_tmp = tmp_path / ("t" * 70)
    long_tmp.mkdir()
    monkeypatch.setattr(tmpdirs.tempfile, "tempdir", str(long_tmp))
    d = tmpdirs.socket_dir()
    try:
        assert os.path.dirname(d) == "/tmp"
    finally:
        tmpdirs.drop_scratch(d)
