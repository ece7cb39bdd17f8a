"""The corpus memo (engine.tables: corpus_memo / fixture_dir /
replay_fixture): work derived from a corpus file is redone when the file
changes or its fixture is damaged, and no module grows its own cache
beside it."""

from __future__ import annotations

import ast
import glob
import os
import shutil

import pytest

from tests.conftest import SF_DIR, assert_frames_match

ENGINE = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "engine")

# Module-level empty dicts and sets allowed in engine/: the two stores, the
# one cache with a worker-process lifetime, and the registry.
ALLOWED_MODULE_DICTS = {
    ("tables.py", "_MEMO"): "the corpus memo's store: facts that outlive a session",
    ("session.py", "_STORE"): "the session store: objects bound to a live SparkContext",
    ("llmops.py", "_SIDE_CACHE"): "worker-process broadcast sides, bounded by bytes",
    ("registry.py", "QUERIES"): "the key registry, filled by @query at import",
    ("registry.py", "ORACLES"): "the oracle registry, filled by @query at import",
}


def _module_dicts(path: str) -> list[str]:
    names = []
    for node in ast.parse(open(path).read()).body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign):
            targets, value = [node.target], node.value
        else:
            continue
        empty = (isinstance(value, ast.Dict) and not value.keys) or (
            isinstance(value, ast.Call)
            and isinstance(value.func, ast.Name)
            and value.func.id in ("dict", "set")
            and not value.args
            and not value.keywords
        )
        if empty:
            names += [ast.unparse(t) for t in targets]
    return names


def test_no_hand_rolled_module_dict_caches():
    """A new module-level dict or set in engine/ is almost always a
    hand-rolled cache with its own keying and lifetime. Corpus-derived
    values go through engine.tables.corpus_memo and corpus-derived
    directories through fixture_dir; objects bound to a SparkContext go
    through engine.session.session_memo; anything else must be listed
    above with its reason."""
    found = {
        (os.path.basename(f), name)
        for f in glob.glob(os.path.join(ENGINE, "*.py"))
        for name in _module_dicts(f)
    }
    assert found - set(ALLOWED_MODULE_DICTS) == set()
    assert set(ALLOWED_MODULE_DICTS) - found == set(), "stale allow-list entry"


def _rewrite(path, text: str) -> None:
    st = os.stat(path)
    with open(path, "w") as fh:
        fh.write(text)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


def test_corpus_memo_recomputes_on_rewrite_and_keeps_one_entry(tmp_path, monkeypatch):
    import engine.tables as tables

    monkeypatch.setattr(tables, "_MEMO", {})
    src = tmp_path / "t.parquet"
    src.write_text("a")
    calls = []

    def build():
        calls.append(src.read_text())
        return calls[-1]

    assert tables.corpus_memo(str(src), "t", build) == "a"
    assert tables.corpus_memo(str(src), "t", build) == "a"
    _rewrite(src, "bb")
    assert tables.corpus_memo(str(src), "t", build) == "bb"
    assert calls == ["a", "bb"]
    assert len(tables._MEMO) == 1
    # extra key parts get their own entry
    assert tables.corpus_memo(str(src), "t", lambda: "x", "col") == "x"
    assert len(tables._MEMO) == 2


def test_fixture_dir_lifecycle(tmp_path, monkeypatch):
    """Reuse while source and fixture hold; an invalid fixture is dropped
    but left on disk; one superseded fixture survives a source change and
    is deleted at the next; a failed build removes its own dir."""
    import engine.tables as tables

    monkeypatch.setattr(tables, "_MEMO", {})
    src = tmp_path / "t.parquet"
    src.write_text("a")

    def build(d):
        with open(f"{d}/copy", "w") as fh:
            fh.write(src.read_text())

    def valid(d):
        return os.path.exists(f"{d}/copy")

    def fx():
        return tables.fixture_dir(str(src), "t", build, valid)

    d1 = fx()
    try:
        assert fx() == d1
        os.remove(f"{d1}/copy")
        d2 = fx()
        assert d2 != d1 and os.path.isdir(d1)  # invalid: dropped, not deleted
        _rewrite(src, "bb")
        d3 = fx()
        assert open(f"{d3}/copy").read() == "bb"
        assert os.path.isdir(d2)  # superseded: kept for lazy plans
        _rewrite(src, "ccc")
        d4 = fx()
        assert not os.path.exists(d2) and os.path.isdir(d3)
        _rewrite(src, "dddd")
        created: list[str] = []

        def boom(d):
            created.append(d)
            raise RuntimeError("simulated build failure")

        with pytest.raises(RuntimeError, match="simulated build failure"):
            tables.fixture_dir(str(src), "t", boom, valid)
        assert created and not os.path.exists(created[0])
        assert tables._MEMO[("t", os.path.realpath(src))][1][0] == d4
    finally:
        for d in (d1, d2, d3, d4):
            shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize(
    "key", ["stream_foreachbatch_upsert", "pipeline_stream_serving"]
)
def test_partly_deleted_replay_fixture_rebuilds(spark, duck, key):
    """A tmp cleaner that removes one batch file but leaves the replay
    directory must not make the key replay fewer batches: the fixture is
    valid only while every batch{i}.parquet exists."""
    from engine import tmpdirs
    from engine.registry import collect

    queries, oracles = collect()
    fn = queries[key].__wrapped__
    fn(spark, SF_DIR).collect()
    damaged = [d for d in tmpdirs._SCRATCH if os.path.isfile(f"{d}/batch1.parquet")]
    assert damaged, "no replay fixture found"
    for d in damaged:
        os.remove(f"{d}/batch1.parquet")
    got = fn(spark, SF_DIR).toPandas()
    assert_frames_match(got, duck.sql(oracles[key]).df(), key)


def test_rewritten_events_refresh_stream_facts(spark, tmp_path):
    """The events schema probe and the derived state-store instance count
    follow a corpus rewritten in place within one process."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from engine.streaming import _derived_stream_parts, _events_raw_schema

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_DIR, sf)
    path = f"{sf}/events.parquet"
    assert _derived_stream_parts(spark, sf) == 2
    schema, ts_is_long = _events_raw_schema(spark, sf)
    assert not ts_is_long and schema["ts"].dataType == T.TimestampNTZType()

    n = 60_000  # ceil(60k / 25k rows per instance) = 3 instances
    t0 = int(dt.datetime(2024, 1, 2).timestamp()) * 10**9
    st = os.stat(path)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), pa.int64()),
                "ts": pa.array([t0 + i * 10**9 for i in range(n)], pa.int64()),
                "user_id": pa.array([i % 97 for i in range(n)], pa.int64()),
                "event_type": pa.array(["view"] * n),
                "value": pa.array([1.0] * n),
                "props": pa.array(["{}"] * n),
            }
        ),
        path,
    )
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert _derived_stream_parts(spark, sf) == min(
        3, max(2, 2 * spark.sparkContext.defaultParallelism)
    )
    schema, ts_is_long = _events_raw_schema(spark, sf)
    assert ts_is_long and schema["ts"].dataType == T.LongType()


def test_partition_prune_fixture_is_process_scratch(spark):
    """scan_partition_prune reads a fixture in this process's scratch
    space, not a fixed /tmp path another process could overwrite."""
    from engine import tmpdirs
    from engine.registry import collect

    queries, _ = collect()
    df = queries["scan_partition_prune"].__wrapped__(spark, SF_DIR)
    files = df.inputFiles()
    assert files
    roots = [os.path.realpath(d) for d in tmpdirs._SCRATCH]
    for f in files:
        p = os.path.realpath(f.removeprefix("file://"))
        assert any(p.startswith(r + os.sep) for r in roots), p
