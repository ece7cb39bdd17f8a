"""Unit tests for the r04 catalog keys (engine/catalogops.py)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def test_cache_table_scans_in_memory(spark):
    """The cached-view query must read an InMemoryTableScan, not parquet."""
    from engine.registry import collect

    queries, _ = collect()
    plan = (
        queries["sql_cache_table"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert ("InMemoryTableScan" in plan or "In-memory table" in plan), plan


def test_ddl_table_idempotent_recreate(spark):
    """Re-running the DDL key must converge on identical state (no
    double-append from the INSERT). Uses __wrapped__ so the second call
    genuinely re-executes the DDL instead of returning the registry
    wrapper's memoized plan."""
    from engine.catalogops import sql_ddl_insert_view

    fn = getattr(sql_ddl_insert_view, "__wrapped__", sql_ddl_insert_view)
    a = [tuple(r) for r in fn(spark, SF_DIR).collect()]
    b = [tuple(r) for r in fn(spark, SF_DIR).collect()]
    assert a == b and len(a) == 2


def test_parameterized_exec_matches_inlined_literals(spark):
    """Named-marker binding must be semantically invisible: identical rows
    to the same query with literals inlined."""
    from engine.registry import collect
    from engine.tables import load

    queries, _ = collect()
    got = sorted(
        tuple(r) for r in queries["sql_parameterized_exec"](spark, SF_DIR).collect()
    )
    load(spark, SF_DIR, "lineitem").createOrReplaceTempView("sg_li_lit_test")
    exp = sorted(
        tuple(r)
        for r in spark.sql(
            """SELECT l_returnflag, count(*) AS n,
                      round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
               FROM sg_li_lit_test
               WHERE l_quantity >= 25 AND l_discount BETWEEN 0.02 AND 0.08
               GROUP BY l_returnflag ORDER BY l_returnflag"""
        ).collect()
    )
    assert got == exp and len(got) > 0


def _micro_corpus_lateral(spark, tmp_path):
    """Micro orders/lineitem fixture targeting the LATERAL edge cases:
    an order with ties at the k-th slot, one with fewer rows than k, one
    with NO lineitems at all, and one below the driving filter."""
    from engine.tables import SCHEMAS

    orders = [
        # (o_orderkey, o_totalprice): 1..3 qualify, 4 is filtered out
        (1, 500000.0),
        (2, 500000.0),
        (3, 500000.0),  # no lineitems — must vanish (CROSS JOIN LATERAL)
        (4, 100.0),
    ]
    li = [
        # (l_orderkey, l_linenumber, l_extendedprice)
        (1, 1, 10.0),
        (1, 2, 30.0),
        (1, 3, 30.0),  # tie at the top — linenumber 2 then 3, drop nothing
        (1, 4, 30.0),  # tie at the k-th slot — LIMIT 2 keeps ln 2, 3 only
        (2, 7, 5.0),  # group smaller than k: 1 row out
        (4, 1, 99.0),  # parent filtered out
    ]
    spark.createDataFrame(
        [(ok, None, None, tp, None, None) for ok, tp in orders],
        SCHEMAS["orders"],
    ).write.parquet(f"{tmp_path}/orders.parquet")
    spark.createDataFrame(
        [
            (ok, None, None, ln, None, px, None, None, None, None, None)
            for ok, ln, px in li
        ],
        SCHEMAS["lineitem"],
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    return str(tmp_path)


def test_lateral_topk_ties_short_and_empty_groups(spark, tmp_path):
    """LIMIT-2 tie-break must be deterministic (price DESC, then
    linenumber), a 1-row group yields 1 row, and a qualifying order with
    zero lineitems contributes nothing."""
    from engine.catalogops import join_lateral_topk

    d = _micro_corpus_lateral(spark, tmp_path)
    fn = getattr(join_lateral_topk, "__wrapped__", join_lateral_topk)
    got = [tuple(r) for r in fn(spark, d).collect()]
    assert got == [
        (1, 2, 30.0),  # ties broken by linenumber: 2 before 3, 4 cut by LIMIT
        (1, 3, 30.0),
        (2, 7, 5.0),  # short group survives with its single row
    ]


# Every key that writes files and reads them back in its returned plan.
SCRATCH_KEYS = [
    "scan_orc_roundtrip",
    "scan_csv_malformed",
    "sink_sorted_clustered",
    "scan_csv_roundtrip",
    "scan_json_lines",
    "sink_parquet_roundtrip",
    "scan_merge_schema",
    "etl_upsert_keyed",
    "scan_text_lines",
    "agg_hll_sketch_merge",
    "scan_csv_dialect",
    "scan_xml_roundtrip",
    "stream_foreachbatch_upsert",
    "etl_incremental_agg_merge",
    "pipeline_stream_serving",
    "join_bucketed_colocate",
]


def test_scratch_dirs_removed_at_process_exit(tmp_path):
    """engine.tmpdirs.scratch_dir: every operator scratch dir is removed
    by the atexit sweep — previously ~40 bare mkdtemp sites leaked one
    corpus-sized dir per invocation per process (see engine/tmpdirs.py).
    The keys that write files put them nowhere else, so a process that ran
    them leaves its TMPDIR empty. Run child interpreters so the exit hook
    actually fires."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        f"import os, sys; sys.path.insert(0, {root!r})\n"
        "from engine.tmpdirs import scratch_dir\n"
        "d = scratch_dir('sg-scratchtest-')\n"
        "open(os.path.join(d, 'x'), 'w').write('x')\n"
        "print(d)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    d = out.stdout.strip().splitlines()[-1]
    assert "sg-scratchtest-" in d
    assert not os.path.exists(d)

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    code = (
        f"import sys; sys.path.insert(0, {root!r})\n"
        "from engine.registry import collect\n"
        "from engine.session import get_spark\n"
        "spark = get_spark('scratch-exit', cpus='1')\n"
        "queries, _ = collect()\n"
        f"for k in {SCRATCH_KEYS!r}:\n"
        f"    assert queries[k](spark, {SF_DIR!r}).collect(), k\n"
        "spark.stop()\n"
    )
    subprocess.run(
        [sys.executable, "-c", code],
        cwd=root,
        env={**os.environ, "TMPDIR": str(tmp)},
        check=True,
    )
    assert os.listdir(tmp) == []


@pytest.mark.parametrize("key", SCRATCH_KEYS)
def test_plan_stays_readable_after_rerun(spark, key):
    """A returned plan reads files its own call wrote: building the same
    key again must not overwrite or delete them under the first plan."""
    from engine.registry import collect

    fn = collect()[0][key].__wrapped__
    first = fn(spark, SF_DIR)
    second = fn(spark, SF_DIR)
    a = sorted(str(tuple(r)) for r in first.collect())
    b = sorted(str(tuple(r)) for r in second.collect())
    assert a and a == b
