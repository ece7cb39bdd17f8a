"""Relational core: SURVEY.md §2.A scans/sinks, §2.B filters, §2.C joins,
§2.F sorts/limits, §2.G set ops.

All operators are declarative DataFrame plans — Catalyst provides predicate
pushdown, column pruning, broadcast conversion and join reordering (verified
by plan-shape tests in tests/test_plan_shape.py). Per-operator 100 TB notes inline.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from engine.registry import query
from engine.tables import SCHEMAS, fixture_dir, load, sftag
from engine.tmpdirs import scratch_dir


# ---------------------------------------------------------------------------
# §2.A — scans / sources / sinks
# ---------------------------------------------------------------------------


@query("scan_parquet", oracle="SELECT * FROM lineitem")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized parquet scan, all columns (Batched: true in the plan)."""
    return load(spark, sf_dir, "lineitem")


@query(
    "scan_csv_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with explicit schema + header: write nation to CSV, read it
    back with a pinned StructType — proves lossless type coercion.

    100 TB: CSV reads are splittable (uncompressed/bzip2); schema is always
    explicit so no inference pass over the data.
    """
    path = scratch_dir(prefix=f"sg-csv-nation-{sftag(sf_dir)}-")
    load(spark, sf_dir, "nation").write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema(SCHEMAS["nation"]).option("header", True).csv(path)


@query(
    "scan_json_lines",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def scan_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source with explicit schema (no sampling-based inference)."""
    path = scratch_dir(prefix=f"sg-json-region-{sftag(sf_dir)}-")
    load(spark, sf_dir, "region").write.mode("overwrite").json(path)
    return spark.read.schema(SCHEMAS["region"]).json(path)


@query(
    "scan_xml_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 40 = 0
    """,
)
def scan_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML round-trip (Spark 4 built-in XML source): an orders
    slice written with rowTag granularity and read back with a pinned
    schema — the oracle is the source slice, so element naming, escaping,
    and numeric re-parse must all survive. Completes the format matrix
    beside parquet/ORC/CSV×4/JSON-lines/text/binary. Doubles are written
    by Spark and re-parsed by Spark — same formatter, no float ambiguity.

    Plan: both sides are parallel map-side scans (XML parse is per-row
    within rowTag splits); the pinned schema avoids the inference job.
    XML is the interchange format here, not the analytics format — at
    100 TB you land XML once and convert to parquet (this key IS that
    landing step)."""
    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 40 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    )
    out = scratch_dir(prefix=f"sg-xml-rt-{sftag(sf_dir)}-")
    src.write.mode("overwrite").option("rowTag", "order").format("xml").save(out)
    return (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(
            "o_orderkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderpriority string"
        )
        .load(out)
    )


_LINEITEM_COLS = ", ".join(f.name for f in SCHEMAS["lineitem"].fields)


@query(
    "sink_parquet_roundtrip",
    oracle=f"SELECT {_LINEITEM_COLS} FROM lineitem WHERE l_quantity <= 10",
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + read-back.

    100 TB: partitionBy on a low-cardinality column (3 values) keeps file
    counts bounded; high-cardinality keys would use bucketing instead.
    """
    path = scratch_dir(prefix=f"sg-sink-lineitem-{sftag(sf_dir)}-")
    (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") <= 10)
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(path)
    )
    # Explicit schema on read-back: skips the footer-inference pass AND
    # survives a zero-row write (no data files → nothing to infer from;
    # partition values still parse from the key=value paths). Also
    # restores canonical column order (partition column comes back last
    # under inference).
    return spark.read.schema(SCHEMAS["lineitem"]).parquet(path).select(
        *[f.name for f in SCHEMAS["lineitem"].fields]
    )


@query(
    "scan_partition_prune",
    oracle=f"SELECT {_LINEITEM_COLS} FROM lineitem WHERE l_returnflag = 'R'",
)
def scan_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan: filter on the partition column only touches the
    matching directory (PartitionFilters in the plan — asserted in tests).

    The partitioned copy is fixture PREP (the demonstrated semantic is the
    pruned SCAN), a deterministic function of the corpus — built once per
    corpus file identity (fixture_dir) instead of re-writing ~600k rows per
    invocation; the query still computes fresh from the fixture every
    run."""
    path = fixture_dir(
        f"{sf_dir}/lineitem.parquet",
        "prune-lineitem",
        lambda d: load(spark, sf_dir, "lineitem")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(d),
        lambda d: os.path.exists(f"{d}/_SUCCESS"),
    )
    # explicit schema: no inference pass, robust to a zero-row write
    df = spark.read.schema(SCHEMAS["lineitem"]).parquet(path).filter(
        F.col("l_returnflag") == "R"
    )
    return df.select(*[f.name for f in SCHEMAS["lineitem"].fields])


# ---------------------------------------------------------------------------
# §2.B — projections / filters / predicates
# ---------------------------------------------------------------------------


@query(
    "project_rename_compute",
    oracle="""
    SELECT l_orderkey AS okey, l_linenumber AS line, l_quantity AS qty,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    """,
)
def project_rename_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-row IEEE arithmetic is bit-identical across engines — no rounding
    # needed (rounding is reserved for aggregates, where summation order
    # varies; see SURVEY §5.3).
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("line"),
        F.col("l_quantity").alias("qty"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


@query(
    "filter_compound",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_linestatus
    FROM lineitem
    WHERE (l_quantity > 30 AND l_discount < 0.05) AND NOT (l_linestatus = 'F')
    """,
)
def filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND/OR/NOT predicate — pushed to the parquet scan (PushedFilters)."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30) & (F.col("l_discount") < 0.05) & ~(F.col("l_linestatus") == "F")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_linestatus")


@query(
    "filter_null_3vl",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount > 0.05 THEN l_quantity END AS qty_hi_disc
    FROM lineitem
    WHERE (CASE WHEN l_discount > 0.05 THEN l_quantity END) IS NULL
       OR (CASE WHEN l_discount > 0.05 THEN l_quantity END) > 40
    """,
)
def filter_null_3vl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued logic over a derived nullable column: NULL > 40 is
    UNKNOWN, so rows only pass via the explicit IS NULL branch."""
    li = load(spark, sf_dir, "lineitem")
    qty = F.when(F.col("l_discount") > 0.05, F.col("l_quantity"))
    df = li.select("l_orderkey", "l_linenumber", qty.alias("qty_hi_disc"))
    return df.filter(F.col("qty_hi_disc").isNull() | (F.col("qty_hi_disc") > 40))


@query(
    "filter_in_between_like",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
      AND c_acctbal BETWEEN 100 AND 5000
      AND c_name LIKE '%1%'
    """,
)
def filter_in_between_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    return c.filter(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
        & F.col("c_acctbal").between(100, 5000)
        & F.col("c_name").like("%1%")
    ).select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")


@query(
    "filter_rlike",
    oracle="""
    SELECT p_partkey, p_name
    FROM part
    WHERE regexp_matches(p_name, '^(red|small) [a-z]+$')
    """,
)
def filter_rlike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex predicate; pattern kept POSIX-safe so Java regex and DuckDB RE2
    agree."""
    p = load(spark, sf_dir, "part")
    return p.filter(F.col("p_name").rlike("^(red|small) [a-z]+$")).select("p_partkey", "p_name")


# ---------------------------------------------------------------------------
# §2.C — joins
# ---------------------------------------------------------------------------


@query(
    "join_inner_equi",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash equi-join. Catalyst picks BroadcastHashJoin (customer under the
    32 MB threshold at test SFs) or SortMergeJoin at scale; AQE can demote a
    planned SMJ to broadcast at runtime."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) big
      ON c_custkey = big.o_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(big, c.c_custkey == big.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_right_outer",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM (SELECT * FROM customer WHERE c_acctbal > 5000) rich
      RIGHT JOIN orders ON rich.c_custkey = o_custkey
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    rich = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    o = load(spark, sf_dir, "orders")
    return rich.join(o, rich.c_custkey == o.o_custkey, "right").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT rich.c_custkey AS cust_key, rich.c_name AS cust_name,
           big.o_orderkey AS order_key, big.o_totalprice AS order_price
    FROM (SELECT * FROM customer WHERE c_acctbal > 5000) rich
      FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) big
      ON rich.c_custkey = big.o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    rich = load(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return rich.join(big, rich.c_custkey == big.o_custkey, "full").select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_name").alias("cust_name"),
        F.col("o_orderkey").alias("order_key"),
        F.col("o_totalprice").alias("order_price"),
    )


@query(
    "join_left_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    f_orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(f_orders, c.c_custkey == f_orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@query(
    "join_left_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    f_orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(f_orders, c.c_custkey == f_orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@query(
    "join_cross",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product — bounded dims only (5 × 25). Never on fact tables."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@query(
    "join_theta_range",
    oracle="""
    SELECT s_suppkey, c_custkey, s_acctbal, c_acctbal
    FROM supplier JOIN customer
      ON c_acctbal BETWEEN s_acctbal - 10 AND s_acctbal + 10
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi theta join → BroadcastNestedLoopJoin (supplier is the small,
    broadcast side). 100 TB: band-join rewrites to bucketed equi-join on
    floor(acctbal/band) + residual predicate; supplier stays broadcastable."""
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    cond = c.c_acctbal.between(s.s_acctbal - 10, s.s_acctbal + 10)
    return F.broadcast(s).join(c, cond).select("s_suppkey", "c_custkey", "s_acctbal", "c_acctbal")


@query(
    "join_asof",
    oracle="""
    SELECT event_id, user_id, asof_orderkey, asof_orderdate FROM (
      SELECT e.event_id, e.user_id, o.o_orderkey AS asof_orderkey,
             o.o_orderdate AS asof_orderdate,
             row_number() OVER (PARTITION BY e.event_id
                                ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
      FROM events e JOIN orders o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    ) WHERE rn = 1
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (no native Spark operator): for each event, the user's
    latest order at-or-before ts. Equi-join on user + window rn=1, with a
    deterministic (o_orderdate, o_orderkey) DESC tie-break.

    100 TB: the equi-key bounds the blow-up to events×orders *per user*; for
    heavy-hitter users, pre-aggregate the right side to its per-(user,
    time-bucket) latest row before the join (cuts the window input by the
    bucket factor), or use a sort-merge within co-partitioned buckets.
    """
    e = load(spark, sf_dir, "events")
    o = load(spark, sf_dir, "orders")
    j = e.join(o, (e.user_id == o.o_custkey) & (o.o_orderdate <= e.ts), "inner")
    # rn=1 over (o_orderdate, o_orderkey) DESC == argmax of that struct:
    # max_by is a hash aggregate with MAP-SIDE partial aggregation, so the
    # per-event fan-out (events × qualifying orders, ~6M rows at sf0.1)
    # collapses to ≤ one row per event BEFORE the exchange, where the old
    # row_number shape shuffled and SORTED the full join output (r14,
    # guide §2.3 "aggregate before you shuffle"; measured ~1.9 s → ~1.1 s
    # med5 at sf0.1). Tie semantics are unchanged: a (date, key) tie can
    # only differ in payload when o_orderkey collides across rows, where
    # the window's pick was equally arbitrary (dup-id axis note).
    return (
        j.groupBy("event_id")
        .agg(
            F.max_by(
                F.struct("user_id", "o_orderkey", "o_orderdate"),
                F.struct("o_orderdate", "o_orderkey"),
            ).alias("k")
        )
        .select(
            "event_id",
            "k.user_id",
            F.col("k.o_orderkey").alias("asof_orderkey"),
            F.col("k.o_orderdate").alias("asof_orderdate"),
        )
    )


@query(
    "join_interval",
    oracle="""
    SELECT date_trunc('week', a.o_orderdate) AS wk, count(*) AS pair_cnt
    FROM orders a JOIN orders b
      ON b.o_orderdate >= a.o_orderdate
     AND b.o_orderdate < a.o_orderdate + INTERVAL 7 DAY
     AND a.o_orderkey <> b.o_orderkey
    GROUP BY 1
    """,
)
def join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: count order pairs whose dates fall within a 7-day window.

    Scale path (used here, not just documented): the pair space is O(n·w)
    — at sf0.1 already ~55M pairs — but the query only needs COUNTS, so we
    never enumerate pairs. Decompose: pre-aggregate orders to per-day counts
    (bounded by the date domain, ~2.4k rows at ANY scale factor), range-join
    the day table with itself (broadcast — it is tiny by construction), and
    multiply counts. The only row-scale work is one map-side-combinable
    groupBy(o_orderdate); everything after is O(days·7). Same-date self-pairs
    (a_key = b_key) are removed arithmetically: a day with c orders
    contributes c·c ordered same-day pairs of which exactly c are self-pairs,
    so subtracting sum(c) per week yields the a<>b count without touching
    order keys. For pair-ENUMERATING interval joins see join_theta_range /
    join_asof, which keep the explode-to-bucket equi-join shape.

    r14 dup-id axis: the oracle's a_key <> b_key excludes MORE than the
    diagonal when o_orderkey COLLIDES (a corrected order re-ingested under
    its key, possibly on a different date): every ordered pair of distinct
    rows sharing a key inside the window is excluded too. The subtraction
    is therefore computed exactly at (key, date) granularity — an
    equi-self-join on o_orderkey over the deduped (key, date, cnt) table,
    O(Σ per-key multiplicity²), which for the normal unique-key corpus
    degenerates to exactly the old Σ-count diagonal term."""
    o = load(spark, sf_dir, "orders")
    days = o.groupBy(F.col("o_orderdate").alias("a_date")).agg(
        F.count("*").alias("a_cnt")
    )
    bdays = days.select(
        F.col("a_date").alias("b_date"), F.col("a_cnt").alias("b_cnt")
    )
    in_window = (F.col("b_date") >= F.col("a_date")) & (
        F.col("b_date") < F.col("a_date") + F.expr("INTERVAL 7 DAY")
    )
    pairs = days.join(F.broadcast(bdays), in_window)
    wk = F.date_trunc("week", F.col("a_date")).alias("wk")
    allp = pairs.groupBy(wk).agg(
        F.sum(F.col("a_cnt") * F.col("b_cnt")).alias("all_cnt")
    )
    kd = o.groupBy(
        F.col("o_orderkey").alias("k"), F.col("o_orderdate").alias("a_date")
    ).agg(F.count("*").alias("a_cnt"))
    kb = kd.select(
        "k", F.col("a_date").alias("b_date"), F.col("a_cnt").alias("b_cnt")
    )
    selfp = (
        kd.join(kb, "k")
        .filter(in_window)
        .groupBy(wk)
        .agg(F.sum(F.col("a_cnt") * F.col("b_cnt")).alias("self_cnt"))
    )
    return (
        allp.join(selfp, "wk", "left")
        .select(
            "wk",
            (
                F.col("all_cnt") - F.coalesce(F.col("self_cnt"), F.lit(0))
            ).alias("pair_cnt"),
        )
        # the oracle's count(*) can't emit 0: a week whose only orders are
        # isolated single-order days decomposes to c*c - c = 0 pairs here
        # and to NO row there — drop the zeros to match.
        .filter(F.col("pair_cnt") > 0)
    )


@query(
    "join_broadcast_hint",
    oracle="""
    SELECT n_name, count(*) AS cust_cnt, round(sum(c_acctbal), 2) AS bal_sum
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_broadcast_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast hint on the dim side — same result, no shuffle of
    the fact table for the join (only for the following aggregation)."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("cust_cnt"), F.round(F.sum("c_acctbal"), 2).alias("bal_sum"))
    )


@query(
    "join_star_multiway",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def join_star_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style 5-way star join, revenue by nation.

    100 TB: dims (region/nation/customer-filtered) broadcast; the single big
    shuffle is lineitem⋈orders on orderkey; Catalyst pushes r_name='ASIA'
    through the dim chain before it touches the facts.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


# ---------------------------------------------------------------------------
# §2.F — sorts / limits / top-k
# ---------------------------------------------------------------------------


@query(
    "sort_multi_nulls",
    oracle="""
    SELECT c_custkey, seg_nullable, c_acctbal,
           row_number() OVER (
             ORDER BY seg_nullable ASC NULLS FIRST, c_acctbal DESC, c_custkey ASC
           ) AS pos
    FROM (SELECT c_custkey, c_acctbal,
                 CASE WHEN c_acctbal > 1000 THEN c_mktsegment END AS seg_nullable
          FROM customer)
    """,
)
def sort_multi_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort with explicit nulls placement. The driver hash is
    order-insensitive, so sort correctness is made hashable via the attached
    row_number over the same total order (unique tie-break: c_custkey)."""
    c = load(spark, sf_dir, "customer")
    df = c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") > 1000, F.col("c_mktsegment")).alias("seg_nullable"),
        "c_acctbal",
    )
    order = [
        F.col("seg_nullable").asc_nulls_first(),
        F.col("c_acctbal").desc(),
        F.col("c_custkey").asc(),
    ]
    return df.withColumn("pos", F.row_number().over(Window.orderBy(*order))).orderBy(*order)


@query(
    "topk_order_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def topk_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k → TakeOrderedAndProject (per-partition heaps + driver
    merge of k rows, never a full sort). Deterministic via o_orderkey tiebreak."""
    o = load(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "limit_offset",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_orderkey LIMIT 50 OFFSET 100
    """,
)
def limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination over a deterministic total order."""
    o = load(spark, sf_dir, "orders")
    return o.orderBy("o_orderkey").offset(100).limit(50).select("o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# §2.G — set operations (two deterministic order projections)
# ---------------------------------------------------------------------------

_SET_A = "SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'F'"
_SET_B = "SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'O'"


def _set_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    o = load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey", "o_orderpriority")
    b = o.filter(F.col("o_orderstatus") == "O").select("o_custkey", "o_orderpriority")
    return a, b


@query("set_union_all", oracle=f"{_SET_A} UNION ALL {_SET_B}")
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _set_sides(spark, sf_dir)
    return a.unionByName(b)


@query("set_union_distinct", oracle=f"{_SET_A} UNION {_SET_B}")
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _set_sides(spark, sf_dir)
    return a.unionByName(b).distinct()


@query("set_intersect", oracle=f"{_SET_A} INTERSECT {_SET_B}")
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _set_sides(spark, sf_dir)
    return a.intersect(b)


@query("set_intersect_all", oracle=f"{_SET_A} INTERSECT ALL {_SET_B}")
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _set_sides(spark, sf_dir)
    return a.intersectAll(b)


@query("set_except", oracle=f"{_SET_A} EXCEPT {_SET_B}")
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _set_sides(spark, sf_dir)
    return a.subtract(b)


@query("set_except_all", oracle=f"{_SET_A} EXCEPT ALL {_SET_B}")
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    a, b = _set_sides(spark, sf_dir)
    return a.exceptAll(b)


@query(
    "join_asof_forward",
    oracle="""
    SELECT e.event_id, e.user_id,
           arg_min(o.o_orderkey,
                   epoch(o.o_orderdate) * 1000000000 + o.o_orderkey) AS next_orderkey,
           min(o.o_orderdate) AS next_orderdate
    FROM (SELECT event_id, user_id,
                 ts - INTERVAL 28 YEAR
                    + to_years(CAST(event_id % 8 AS INT)) AS probe_ts
          FROM events WHERE user_id < 30) e
    JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate > e.probe_ts
    GROUP BY e.event_id, e.user_id
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each event matched to the SAME user's next order
    strictly after its probe time (join_asof is the backward twin).

    The corpus's events.ts (2024-01) postdates every order (1995..2001), so a
    raw ``o_orderdate > ts`` is vacuously empty (round-1 verdict item 1). The
    probe is derived INSIDE the orders domain on both engine and oracle
    sides: ``ts - 28 years + (event_id % 8) years`` spreads probes across
    1996..2003, so most events find a real next order AND the tail past
    2001-08 exercises the inner-join drop path (no later order -> row out).

    Range join + argmin — the ordering key linearizes (epoch seconds,
    orderkey) into one BIGINT so date ties resolve to the lowest orderkey
    identically in every engine. At 100 TB: bucket both sides by
    date_trunc('month') to equi-ize, as join_interval's docstring lays out."""
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id") < 30)
        .select(
            "event_id",
            "user_id",
            F.expr(
                "ts - INTERVAL 28 YEAR"
                " + make_interval(CAST(event_id % 8 AS INT))"
            ).alias("probe_ts"),
        )
    )
    o = load(spark, sf_dir, "orders")
    ordkey = (
        F.col("o_orderdate").cast("timestamp").cast("long") * F.lit(1000000000).cast("long")
        + F.col("o_orderkey")
    )
    return (
        e.join(o, (o.o_custkey == e.user_id) & (o.o_orderdate > e.probe_ts))
        .groupBy("event_id", "user_id")
        .agg(
            F.min_by("o_orderkey", ordkey).alias("next_orderkey"),
            F.min("o_orderdate").alias("next_orderdate"),
        )
    )


@query(
    "join_natural_using",
    oracle="""
    SELECT regionkey, n_name, r_name
    FROM (SELECT n_name, n_regionkey AS regionkey FROM nation)
    JOIN (SELECT r_name, r_regionkey AS regionkey FROM region) USING (regionkey)
    """,
)
def join_natural_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USING-clause join via the textual SQL path: the join column appears
    ONCE in the output (coalesced), unlike ON-joins which keep both sides —
    the SQL-surface parity detail that trips up ports. Same physical plan
    as the equivalent equi-join (broadcast here)."""
    load(spark, sf_dir, "nation").createOrReplaceTempView("sg_u_nation")
    load(spark, sf_dir, "region").createOrReplaceTempView("sg_u_region")
    return spark.sql(
        """
        SELECT regionkey, n_name, r_name
        FROM (SELECT n_name, n_regionkey AS regionkey FROM sg_u_nation)
        JOIN (SELECT r_name, r_regionkey AS regionkey FROM sg_u_region)
        USING (regionkey)
        """
    )


@query(
    "set_union_mixed_schema",
    oracle="""
    SELECT c_custkey AS id, c_name AS name, round(c_acctbal, 2) AS acctbal,
           NULL::VARCHAR AS segment
    FROM customer WHERE c_custkey < 300
    UNION ALL
    SELECT c_custkey, c_name, NULL::DOUBLE, c_mktsegment
    FROM customer WHERE c_custkey >= 300 AND c_custkey < 600
    """,
)
def set_union_mixed_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-mismatched union: unionByName(allowMissingColumns=True) aligns
    by NAME and null-fills the gaps — the append path for evolving sources
    (scan_merge_schema is the same property at the storage layer). Position
    -based union would silently mis-bind here; by-name is the only safe
    default for pipelines whose upstream adds columns."""
    c = load(spark, sf_dir, "customer")
    a = c.filter(F.col("c_custkey") < 300).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )
    b = c.filter((F.col("c_custkey") >= 300) & (F.col("c_custkey") < 600)).select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
    )
    return a.unionByName(b, allowMissingColumns=True)


@query(
    "topk_rank_with_ties",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_nationkey, rnk
    FROM (SELECT c_mktsegment, c_custkey, c_nationkey,
                 rank() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_nationkey) AS rnk
          FROM customer)
    WHERE rnk <= 3
    """,
)
def topk_rank_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES: rank() <= k keeps every row tied at the boundary
    (row_number() <= k would truncate arbitrarily — win_row_number_topk is
    that variant, made safe by a unique tie-break). Ranking on the
    low-cardinality nationkey guarantees real ties, so the semantic
    difference is exercised, not incidental. Same WindowGroupLimit
    optimization applies: per-partition top-k state, no full sort."""
    from pyspark.sql import Window

    c = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_nationkey")
    return (
        c.select("c_mktsegment", "c_custkey", "c_nationkey", F.rank().over(w).alias("rnk"))
        .filter(F.col("rnk") <= 3)
    )


@query(
    "join_asof_tolerance",
    oracle="""
    WITH m AS (
      SELECT event_id, asof_orderkey, asof_orderdate FROM (
        SELECT e.event_id, o.o_orderkey AS asof_orderkey,
               o.o_orderdate AS asof_orderdate,
               row_number() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate DESC,
                                           o.o_orderkey DESC) AS rn
        FROM events e JOIN orders o
          ON e.user_id = o.o_custkey
         AND o.o_orderdate <= e.ts
         AND o.o_orderdate >= e.ts - INTERVAL 7 DAY
      ) WHERE rn = 1)
    SELECT e.event_id, e.user_id, m.asof_orderkey, m.asof_orderdate
    FROM events e LEFT JOIN m ON e.event_id = m.event_id
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a tolerance window (pandas merge_asof's
    ``tolerance=``): each event matched to the user's latest order at or
    before ts but no older than 7 days — and, unlike join_asof's inner
    shape, events with NO order inside the window are KEPT with nulls
    (the left-join contract a feature pipeline needs: absence is a
    feature, not a dropped row). Completes the as-of family:
    backward (join_asof), forward (join_asof_forward), nearest
    (join_asof_nearest), bounded-backward-with-nulls (this).

    100 TB: the tolerance bound is also the performance bound — it caps
    the per-user candidate range regardless of history depth, which is
    what makes the range join feasible on years-deep order histories
    (bucket by time at the tolerance granularity for the bucketed-equi
    rewrite join_range_binned documents)."""
    e = load(spark, sf_dir, "events")
    o = load(spark, sf_dir, "orders")
    j = e.join(
        o,
        (e.user_id == o.o_custkey)
        & (o.o_orderdate <= e.ts)
        & (o.o_orderdate >= F.col("ts") - F.expr("INTERVAL 7 DAY")),
        "inner",
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    m = (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "event_id",
            F.col("o_orderkey").alias("asof_orderkey"),
            F.col("o_orderdate").alias("asof_orderdate"),
        )
    )
    return e.select("event_id", "user_id").join(m, "event_id", "left")
