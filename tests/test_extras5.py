"""Unit tests for the r04 batch-20 keys (engine/extras5.py, and
udaf_arrow_group, now in engine/udfs.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_arrow_udaf_matches_builtin_agg(spark):
    from engine.registry import collect
    from engine.tables import load

    queries, _ = collect()
    got = {
        r["l_returnflag"]: (r["n"], r["sum_price"])
        for r in queries["udaf_arrow_group"](spark, SF_DIR).collect()
    }
    li = load(spark, SF_DIR, "lineitem")
    exp = {
        r["l_returnflag"]: (r["n"], r["s"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("s"),
        )
        .collect()
    }
    assert got == exp


def test_explode_outer_keeps_empty_array_parents(spark):
    """Rows whose derived array is empty (l_linenumber % 3 == 0) must
    survive with null pos/idx/val — and plain posexplode must drop exactly
    those."""
    from engine.registry import collect

    queries, _ = collect()
    out = queries["fn_explode_outer_structs"](spark, SF_DIR)
    null_rows = out.filter(F.col("pos").isNull())
    n_null = null_rows.count()
    assert n_null > 0
    assert null_rows.filter(F.col("l_linenumber") % 3 != 0).count() == 0
    assert out.count() == n_null + out.filter(F.col("pos").isNotNull()).count()


def test_null_safe_join_has_null_group_and_equi_join_drops_it(spark):
    from engine.registry import collect

    queries, _ = collect()
    rows = queries["join_null_safe_eq"](spark, SF_DIR).collect()
    null_rows = [r for r in rows if r["nation_key"] is None]
    assert len(null_rows) == 1  # NULL matched NULL
    assert null_rows[0]["n_pairs"] > 0
    assert len(rows) > 1  # plus the regular key groups
