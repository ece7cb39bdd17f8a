"""Unit tests for the r04 sql4 keys (engine/sql4.py, and udtf_arrow_expand,
now in engine/udfs.py) — cross-checks the oracle compare can't express:
recursion vs an explicit driver loop, pipe syntax vs the classic plan,
Arrow UDTF vs the pickled path, collation actually merging case variants,
observe() vs a direct aggregate."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_recursive_chain_equals_driver_loop(spark):
    """The WITH RECURSIVE walk must equal an explicit iterate-until-fixpoint
    loop of DataFrame joins (the pre-Spark-4 formulation)."""
    from engine.registry import collect
    from engine.tables import load
    from pyspark.sql import Window

    queries, _ = collect()
    got = {
        r["o_custkey"]: (r["chain_len"], r["chain_end"])
        for r in queries["sql_recursive_cte_chain"](spark, SF_DIR).collect()
    }
    o = load(spark, SF_DIR, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    base = o.select(
        "o_custkey", "o_orderdate", F.row_number().over(w).alias("rn")
    ).cache()
    frontier = base.filter(F.col("rn") == 1).select(
        F.col("o_custkey").alias("cust"), "rn", F.col("o_orderdate").alias("d")
    )
    acc = frontier
    while frontier.count() > 0:
        nxt = (
            frontier.alias("w")
            .join(
                base.alias("b"),
                (F.col("b.o_custkey") == F.col("w.cust"))
                & (F.col("b.rn") == F.col("w.rn") + 1),
            )
            .filter(F.col("b.o_orderdate") <= F.expr("w.d + INTERVAL 60 DAY"))
            .select(
                F.col("b.o_custkey").alias("cust"),
                F.col("b.rn").alias("rn"),
                F.col("b.o_orderdate").alias("d"),
            )
        )
        frontier = nxt.cache()
        acc = acc.unionByName(frontier)
    expected = {
        r["cust"]: (r["n"], r["mx"])
        for r in acc.groupBy("cust")
        .agg(F.count(F.lit(1)).alias("n"), F.max("d").alias("mx"))
        .collect()
    }
    base.unpersist()
    assert got == expected


def test_pipe_syntax_same_plan_shape_as_classic(spark):
    """Pipe syntax is sugar: the physical plan must contain the same
    HashAggregate shape as the classic formulation (and no extra joins)."""
    from engine.registry import collect

    queries, _ = collect()
    plan = (
        queries["sql_pipe_syntax"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "HashAggregate" in plan, plan
    assert "Join" not in plan, plan


def test_collation_merges_case_variants(spark):
    """Every collated group over the mangled column must carry BOTH case
    variants (the corpus has both parities for every type), proving the
    group key genuinely compares case-insensitively."""
    from engine.registry import collect

    queries, _ = collect()
    rows = queries["fn_collation_group"](spark, SF_DIR).collect()
    assert len(rows) > 0
    assert all(r["n_case_variants"] == 2 for r in rows), rows


def test_udtf_arrow_matches_pickled_udtf(spark):
    """useArrow=True must be a pure transport change: identical rows to the
    default pickled UDTF path."""
    import datetime as dt

    from pyspark.sql.functions import udtf

    from engine.tables import load

    @udtf(returnType="o_orderkey bigint, day_offset int, followup_date timestamp_ntz")
    class FollowupsPickled:
        def eval(self, o_orderkey: int, o_orderdate: dt.datetime):
            for d in range(3):
                yield o_orderkey, d, o_orderdate + dt.timedelta(days=d)

    from engine.registry import collect

    queries, _ = collect()
    arrow_rows = sorted(
        tuple(r) for r in queries["udtf_arrow_expand"](spark, SF_DIR).collect()
    )
    spark.udtf.register("sg_followups_pickled", FollowupsPickled)
    load(spark, SF_DIR, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= "1998-01-01")
    ).createOrReplaceTempView("sg_urgent_test")
    pickled_rows = sorted(
        tuple(r)
        for r in spark.sql(
            "SELECT t.o_orderkey, t.day_offset, t.followup_date "
            "FROM sg_urgent_test, LATERAL sg_followups_pickled(o_orderkey, o_orderdate) t"
        ).collect()
    )
    assert arrow_rows == pickled_rows and len(arrow_rows) > 0


def test_observe_metrics_match_direct_aggregate(spark):
    from engine.registry import collect
    from engine.tables import load

    queries, _ = collect()
    row = queries["plan_observe_metrics"](spark, SF_DIR).collect()[0]
    li = load(spark, SF_DIR, "lineitem")
    direct = (
        li.filter((F.col("l_discount").between(0.05, 0.07)) & (F.col("l_quantity") < 24))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        )
        .collect()[0]
    )
    assert tuple(row) == tuple(direct)


def test_udtf_arrow_expand_spreads_python_eval(spark):
    """The selective urgent-orders filter collapses the small scan to one
    partition, which would serialize the per-row Python eval through a
    single worker (~4 s at sf0.1 vs ~0.7 s spread). Pin the spread_cpu
    round-robin exchange in the executed plan so a refactor can't
    silently reintroduce the serial stage."""
    from engine.registry import collect

    queries, _ = collect()
    df = queries["udtf_arrow_expand"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan, plan
