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
    ("simsearch.py", "_SIDE_CACHE"): "worker-process broadcast sides, bounded by bytes",
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


def _temp_locations(path: str) -> list[str]:
    hits = []
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, (ast.Attribute, ast.Name)):
            name = node.attr if isinstance(node, ast.Attribute) else node.id
            if name == "gettempdir":
                hits.append(f"{node.lineno}: gettempdir")
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name in ("mkdtemp", "TemporaryDirectory") and not any(
                kw.arg == "dir" for kw in node.keywords
            ):
                hits.append(f"{node.lineno}: {name} without dir=")
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.startswith("/tmp"):
                hits.append(f"{node.lineno}: {node.value!r}")
    return hits


def test_scratch_location_decided_only_in_tmpdirs():
    """engine.tmpdirs is the one module that picks where scratch files
    live. A fixed path under the temp dir is shared by every call and
    every process, so a second call overwrites the files a first call's
    lazy plan still reads, and the files outlive the process."""
    found = {
        os.path.basename(f): hits
        for f in sorted(glob.glob(os.path.join(ENGINE, "*.py")))
        if os.path.basename(f) != "tmpdirs.py"
        for hits in [_temp_locations(f)]
        if hits
    }
    assert found == {}


def _owners(tree: ast.AST) -> dict[ast.AST, str]:
    """Each node mapped to the name of the innermost function around it."""
    owner: dict[ast.AST, str] = {}

    def visit(node: ast.AST, name: str) -> None:
        for child in ast.iter_child_nodes(node):
            owner[child] = name
            is_def = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if is_def else name)

    visit(tree, "<module>")
    return owner


def _stream_sites() -> tuple[set, set]:
    """(module, function) pairs that start a stream, and those that swap a
    directory into place: rmtree a path, then rename another onto it."""
    writers, swaps = set(), set()
    for f in sorted(glob.glob(os.path.join(ENGINE, "*.py"))):
        mod = os.path.basename(f)
        owner = _owners(ast.parse(open(f).read()))
        removed, renamed = set(), set()
        for node, fn in owner.items():
            if isinstance(node, ast.Attribute) and node.attr == "writeStream":
                writers.add((mod, fn))
            if not isinstance(node, ast.Call) or not node.args:
                continue
            call = ast.unparse(node.func)
            if call == "shutil.rmtree":
                removed.add((fn, ast.unparse(node.args[0])))
            elif call in ("os.rename", "os.replace") and len(node.args) == 2:
                renamed.add((fn, ast.unparse(node.args[1])))
        swaps |= {(mod, fn) for fn, _ in removed & renamed}
    return writers, swaps


# Directory swaps that are not the keyed merge: each replaces one
# directory of a layout the function owns.
OTHER_SWAPS = {
    ("extras27.py", "etl_targeted_erasure"): "rewrites one partition of a partitioned store",
}


def test_one_stream_runner_and_one_table_swap():
    """Every bounded stream runs through engine.streaming.run_stream, and
    every merge of a delta into a parquet table through merge_table. A
    second writeStream block decides checkpoint, trigger, width and
    cleanup its own way; a second write-then-swap copies the storage
    protocol."""
    writers, swaps = _stream_sites()
    assert writers == {("streaming.py", "run_stream")}
    assert swaps - set(OTHER_SWAPS) == {("streaming.py", "merge_table")}
    assert set(OTHER_SWAPS) <= swaps, "stale OTHER_SWAPS entry"


# Key prefix -> the one module its operator family lives in.
FAMILY_MODULES = {
    "stream_": "engine.streaming",
    "dedup_": "engine.dedup",
    "sim_": "engine.simsearch",
    **dict.fromkeys(
        ("udf_", "udaf_", "udtf_", "scan_python_", "sink_python_"), "engine.udfs"
    ),
}


def test_families_register_from_their_modules():
    """A family's keys are registered from its own module, so its shared
    kernels stay private to one file. A key of the family registered
    anywhere else fails here (functools.wraps copies the defining module
    onto the registered function)."""
    from engine.registry import collect

    queries, _ = collect()
    wrong = sorted(
        f"{key}: {fn.__module__}"
        for key, fn in queries.items()
        for prefix, mod in FAMILY_MODULES.items()
        if key.startswith(prefix) and fn.__module__ != mod
    )
    assert wrong == []


# Corpus payload columns (and the double cast of embedding): grouping on
# one of these while collecting member ids builds a clone group.
VALUE_COLS = {"text", "embedding", "x"}


def _clone_group_sites() -> set:
    """(module, function) pairs outside engine/tables.py that call
    .groupBy(<value column>).agg(...) with a collect_list/collect_set of an
    id column inside the agg."""
    sites = set()
    for f in sorted(glob.glob(os.path.join(ENGINE, "*.py"))):
        if os.path.basename(f) == "tables.py":
            continue
        owner = _owners(ast.parse(open(f).read()))
        for node, fn in owner.items():
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            grp = node.func.value
            if node.func.attr != "agg" or not (
                isinstance(grp, ast.Call)
                and isinstance(grp.func, ast.Attribute)
                and grp.func.attr == "groupBy"
            ):
                continue
            keys = {a.value for a in grp.args if isinstance(a, ast.Constant)}
            collected = {
                c.args[0].value
                for c in ast.walk(node)
                if isinstance(c, ast.Call)
                and ast.unparse(c.func) in ("F.collect_list", "F.collect_set")
                and c.args
                and isinstance(c.args[0], ast.Constant)
            }
            if keys & VALUE_COLS and any(str(c).endswith("_id") for c in collected):
                sites.add((os.path.basename(f), fn))
    return sites


def test_one_clone_collapse():
    """engine.tables.clone_groups is the one place that groups a corpus by
    value and collects the member ids. A second copy decides the member
    bound and the persist its own way, and would pair its groups outside
    expand_clone_pairs."""
    assert _clone_group_sites() == set()


# Calls whose first argument runs in a Python worker, and the decorators
# that would wrap worker code in place.
WORKER_ENTRIES = {
    "udf",
    "pandas_udf",
    "udtf",
    "mapInArrow",
    "mapInPandas",
    "applyInPandas",
    "applyInArrow",
    "applyInPandasWithState",
}
WORKER_DECORATORS = {"udf", "pandas_udf", "udtf"}


def _callee(node: ast.AST) -> str | None:
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _plain_defs(tree: ast.Module) -> set[str]:
    """The module's undecorated top-level defs and classes."""
    return {
        n.name
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.ClassDef)) and not n.decorator_list
    }


def _local_binds(fn: ast.AST) -> set[str]:
    """Names a top-level function binds other than by import: a worker
    def of the same name there would shadow the module-level one."""
    names = set()
    for n in ast.walk(fn):
        if n is not fn and isinstance(n, (ast.FunctionDef, ast.ClassDef)):
            names.add(n.name)
        elif isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
            names.add(n.id)
        elif isinstance(n, ast.arg):
            names.add(n.arg)
    return names


def _worker_code_sites() -> list[str]:
    """module:line of every worker-code argument in engine/ that is not a
    module-level plain def/class name or functools.partial of one, and of
    every worker decorator."""
    trees = {
        os.path.basename(f)[:-3]: ast.parse(open(f).read())
        for f in sorted(glob.glob(os.path.join(ENGINE, "*.py")))
    }
    plain = {mod: _plain_defs(t) for mod, t in trees.items()}
    bad = []
    for mod, tree in trees.items():
        ok = set(plain[mod])
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and (n.module or "").startswith("engine."):
                there = plain.get(n.module.split(".", 1)[1], set())
                ok |= {a.asname or a.name for a in n.names if a.name in there}

        def by_reference(arg: ast.AST, shadowed: set) -> bool:
            if isinstance(arg, ast.Call) and ast.unparse(arg.func) in (
                "partial",
                "functools.partial",
            ):
                arg = arg.args[0] if arg.args else None
            return isinstance(arg, ast.Name) and arg.id in ok - shadowed

        for top in tree.body:
            shadowed = _local_binds(top)
            decorators = set()
            for n in ast.walk(top):
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    decorators.update(map(id, n.decorator_list))
                    if any(_callee(d) in WORKER_DECORATORS for d in n.decorator_list):
                        bad.append(f"{mod}:{n.lineno} @{n.name}")
                if not isinstance(n, ast.Call) or id(n) in decorators:
                    continue
                f = n.func
                register = (
                    isinstance(f, ast.Attribute)
                    and f.attr == "register"
                    and _callee(f.value) == "dataSource"
                )
                if _callee(f) not in WORKER_ENTRIES and not register:
                    continue
                if not n.args or not by_reference(n.args[0], shadowed):
                    bad.append(f"{mod}:{n.lineno} {ast.unparse(n)[:80]}")
    return bad


def test_worker_code_pickles_by_reference():
    """Everything engine/ hands to a Python worker is a plain module-level
    def or class, passed as is or through functools.partial. cloudpickle
    ships such code as a module reference, so the worker imports engine
    (and its zip guard) from the shipped archive. A nested def, lambda,
    factory closure or decorated definition is shipped by value and never
    imports engine: its tasks keep paying PySpark's per-task zip re-read
    (docs/SCALE.md rule 2)."""
    assert _worker_code_sites() == []


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
