"""Composite analytic queries (TPC-H-shaped) + relational coverage add-ons.

These keys prove the engine end-to-end on multi-operator analytic plans, the
shape a reference user actually runs — filter → multi-join → agg → top-k —
rather than one operator at a time (SURVEY §2 tables A–H are the unit pieces;
these compose them). Each stays within the hash-match discipline of §5.3:
JVM-side F.round on every double aggregate, explicit BIGINT casts where
DuckDB widens.

Scale notes are per-query; the common invariants (SCALE.md): filters sit
directly on the scans so parquet row-group pruning applies, dimension sides
are broadcast, and every aggregate is partial+final (map-side combine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.registry import query
from engine.session import session_memo
from engine.tables import load, sftag
from engine.tmpdirs import scratch_dir


@query(
    "tpch_q3_shipping",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): segment-filtered customers' orders not
    yet shipped at the cutoff, top-10 by revenue.

    Plan shape at 100 TB: both date filters push to the parquet scans;
    customer (smallest side post-filter) broadcasts into orders, and the
    orders⋈lineitem join shuffles on orderkey only for rows surviving the
    pushed filters. Top-10 is TakeOrderedAndProject — per-partition heap,
    no global sort."""
    cut = F.lit("1998-01-01").cast("timestamp_ntz")
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cut)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cut)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "tpch_q6_forecast",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure scan→filter→global-agg.

    The canonical pushdown benchmark: all four predicates reach the parquet
    reader (PushedFilters), the projection reads 3 columns, and the aggregate
    is a two-phase partial/final with no grouping key — the minimum-shuffle
    plan (one row per partition exchanged)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.04, 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "tpch_q14_promo_share",
    oracle="""
    SELECT round(sum(CASE WHEN p_type = 'PROMO'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2) AS promo_rev,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev,
           round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): conditional-aggregate share over a
    fact⋈dim join. part is the dim side → broadcast; the date filter pushes
    to the lineitem scan so only one quarter of the fact table is read."""
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    part = load(spark, sf_dir, "part")
    return li.join(F.broadcast(part), li.l_partkey == part.p_partkey).agg(
        F.round(F.sum(promo), 2).alias("promo_rev"),
        F.round(F.sum(rev), 2).alias("total_rev"),
        F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_share_pct"),
    )


@query(
    "topk_argmax_group",
    oracle="""
    SELECT c_mktsegment,
           arg_max(c_custkey,
                   CAST(round(c_acctbal * 100) AS BIGINT) * 1000000000 + c_custkey)
             AS top_custkey,
           round(max(c_acctbal), 2) AS top_acctbal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def topk_argmax_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group argmax via max_by — the single-shuffle alternative to the
    row_number window for top-1-per-group (win_row_number_topk is the top-k
    generalization). Determinism across engines: the ordering key linearizes
    (cents, custkey) into one BIGINT — cents*1e9 + custkey is order-isomorphic
    to the lexicographic pair because custkey < 1e9 — so ties in acctbal are
    broken identically everywhere. At 100 TB this is a partial+final
    aggregate (max_by combines map-side); no window sort at all."""
    key = (F.round(F.col("c_acctbal") * 100).cast("long") * F.lit(1000000000).cast("long")
           + F.col("c_custkey"))
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.max_by("c_custkey", key).alias("top_custkey"),
            F.round(F.max("c_acctbal"), 2).alias("top_acctbal"),
        )
    )


@query(
    "agg_mode_tiebreak",
    oracle="""
    SELECT l_returnflag, l_quantity AS mode_quantity, cnt
    FROM (
      SELECT l_returnflag, l_quantity, count(*) AS cnt,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY count(*) DESC, l_quantity ASC) AS rn
      FROM lineitem
      GROUP BY l_returnflag, l_quantity
    ) WHERE rn = 1
    """,
)
def agg_mode_tiebreak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group mode: Spark's F.mode is tie-nondeterministic,
    so the mode is computed as count-per-value then rank with an explicit
    (count DESC, value ASC) tie-break — identical semantics in any engine.
    The first groupBy collapses the data to |flags|×|distinct qty| rows, so
    the window sees a tiny input regardless of fact-table size."""
    li = load(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("l_returnflag").orderBy(F.desc("cnt"), F.asc("l_quantity"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_quantity"), "cnt")
    )


@query(
    "fn_bitwise",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT)            AS k,
           CAST(n_nationkey & 5 AS BIGINT)        AS k_and,
           CAST(n_nationkey | 9 AS BIGINT)        AS k_or,
           CAST(xor(n_nationkey, 12) AS BIGINT)   AS k_xor,
           CAST(n_nationkey << 3 AS BIGINT)       AS k_shl,
           CAST(n_nationkey >> 1 AS BIGINT)       AS k_shr,
           CAST(bit_count(CAST(n_nationkey AS BIGINT)) AS BIGINT) AS k_bits
    FROM nation
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operator surface: AND/OR/XOR, shifts, popcount — used by the
    hash/bucketing idioms elsewhere (LSH band packing, salting). Pure
    narrow projection, whole-stage codegen, zero shuffle."""
    n = load(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    return n.select(
        k.cast("long").alias("k"),
        F.expr("n_nationkey & 5").cast("long").alias("k_and"),
        F.expr("n_nationkey | 9").cast("long").alias("k_or"),
        F.expr("n_nationkey ^ 12").cast("long").alias("k_xor"),
        F.shiftleft(k, 3).cast("long").alias("k_shl"),
        F.shiftright(k, 1).cast("long").alias("k_shr"),
        F.bit_count(k.cast("long")).cast("long").alias("k_bits"),
    )


@query(
    "sample_hash_repro",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity,
           (l_orderkey * 1000003 + l_linenumber) % 97 AS bucket
    FROM lineitem
    WHERE (l_orderkey * 1000003 + l_linenumber) % 97 < 10
    """,
)
def sample_hash_repro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~10% sample by deterministic key-hash bucketing — the
    training-pipeline sampling primitive (df.sample is seed-dependent AND
    partition-layout-dependent; this is neither). The multiplier-mod
    arithmetic stays in BIGINT range up to orderkey ~9e12, is engine-agnostic,
    and — unlike xxhash64 — reproducible outside Spark, so a sample drawn
    here can be re-drawn byte-identically by any downstream system."""
    li = load(spark, sf_dir, "lineitem")
    bucket = (F.col("l_orderkey") * 1000003 + F.col("l_linenumber")) % 97
    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity", bucket.alias("bucket"))
        .filter(F.col("bucket") < 10)
    )


@query(
    "scan_merge_schema",
    oracle="""
    SELECT p_partkey, p_name, CAST(NULL AS DOUBLE) AS p_retailprice
    FROM part WHERE p_partkey % 2 = 0
    UNION ALL
    SELECT p_partkey, p_name, p_retailprice
    FROM part WHERE p_partkey % 2 = 1
    """,
)
def scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution: two batches written with different schemas
    (the second adds p_retailprice), read back with mergeSchema=true — the
    unioned schema null-extends the old batch. This is the append-only data
    lake pattern: adding a column never rewrites history. At 100 TB, keep
    mergeSchema OFF for steady-state reads (footer sampling costs a listing
    pass) and declare the evolved schema explicitly; it's enabled here to
    prove the reconciliation semantics."""
    part = load(spark, sf_dir, "part")
    base = scratch_dir(prefix=f"sg-merge-schema-{sftag(sf_dir)}-")
    old = part.filter(F.col("p_partkey") % 2 == 0).select("p_partkey", "p_name")
    new = part.filter(F.col("p_partkey") % 2 == 1).select("p_partkey", "p_name", "p_retailprice")
    old.write.mode("overwrite").parquet(f"{base}/batch=0")
    new.write.mode("overwrite").parquet(f"{base}/batch=1")
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{base}/batch=0", f"{base}/batch=1")
        .select("p_partkey", "p_name", "p_retailprice")
    )


@query(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           round(o_totalprice, 2) AS totalprice,
           round(sum(l_quantity), 2) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 300)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose line quantities sum
    past a threshold, re-joined to customer detail, top-20 by price.

    Plan shape: the HAVING pre-aggregate runs FIRST on lineitem alone
    (partial+final on l_orderkey), and its tiny survivor set drives a
    left-semi join back into the fact tables — at 100 TB this ordering is
    the difference between shuffling the whole join product and shuffling
    only qualifying orders. Spark expresses the semi join directly; the
    final top-20 is TakeOrderedAndProject."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    orders = load(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    cust = load(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.round("o_totalprice", 2).alias("totalprice"), "sum_qty",
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(20)
    )


@query(
    "subq_not_in_null_semantics",
    oracle="""
    SELECT
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 13) FROM orders))
        AS n_not_in_nullable,
      (SELECT count(*) FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE nullif(o.o_custkey, 13) = c.c_custkey))
        AS n_not_exists,
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                               WHERE o_custkey IS NOT NULL AND o_custkey <> 13))
        AS n_not_in_filtered
    """,
)
def subq_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI NOT IN vs NOT EXISTS null semantics — the classic 3VL trap. A
    NULL in the NOT IN subquery makes every predicate UNKNOWN (count 0),
    while NOT EXISTS and the null-filtered NOT IN return real survivors.
    Catalyst plans the nullable NOT IN as null-aware anti join and the
    other two as plain anti joins — all three decorrelated, no per-row
    subquery execution at any scale."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("sg_nin_customer")
    load(spark, sf_dir, "orders").createOrReplaceTempView("sg_nin_orders")
    return spark.sql(
        """
        SELECT
          (SELECT count(*) FROM sg_nin_customer
           WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 13) FROM sg_nin_orders))
            AS n_not_in_nullable,
          (SELECT count(*) FROM sg_nin_customer c
           WHERE NOT EXISTS (SELECT 1 FROM sg_nin_orders o
                             WHERE nullif(o.o_custkey, 13) = c.c_custkey))
            AS n_not_exists,
          (SELECT count(*) FROM sg_nin_customer
           WHERE c_custkey NOT IN (SELECT o_custkey FROM sg_nin_orders
                                   WHERE o_custkey IS NOT NULL AND o_custkey <> 13))
            AS n_not_in_filtered
        """
    )


@query(
    "join_bucketed_colocate",
    oracle="""
    SELECT c_nationkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def join_bucketed_colocate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketed tables: both sides written
    bucketBy(8, custkey) + sortBy, so the sort-merge join reads bucket i
    against bucket i directly — no Exchange on either side (asserted in
    tests/test_plan_shape.py).

    This is THE 100 TB strategy for repeated fact⋈fact joins on a stable
    key: pay one clustered write, then every subsequent join/aggregation on
    that key is exchange-free. Bucket count scales with data (8 here; 4096+
    on a cluster) and must match on both sides."""
    # table identity must include the sf_dir: catalog names are session-global
    # while the data is per-scale, so a shared name would serve stale buckets
    # to a second scale factor in the same session
    tag = sftag(sf_dir)
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")

    def write_buckets() -> None:
        base = scratch_dir(prefix=f"sg-bucketed-{tag}-")
        for name, df, key in (
            (f"sg_bucket_orders_{tag}", orders, "o_custkey"),
            (f"sg_bucket_customer_{tag}", cust, "c_custkey"),
        ):
            (
                df.write.bucketBy(8, key)
                .sortBy(key)
                .option("path", f"{base}/{name}")
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(name)
            )

    session_memo(spark, write_buckets, "bucketed", sf_dir)
    bo = spark.table(f"sg_bucket_orders_{tag}")
    bc = spark.table(f"sg_bucket_customer_{tag}")
    return (
        bo.join(bc, bo.o_custkey == bc.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "agg_topk_collect",
    oracle="""
    SELECT o_orderpriority,
           list_sort(list(o_totalprice), 'DESC')[1] AS top1,
           list_sort(list(o_totalprice), 'DESC')[2] AS top2,
           list_sort(list(o_totalprice), 'DESC')[3] AS top3,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_topk_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k VALUES — collect, sort desc, slice, then unpack the
    slice into scalar columns (the driver's canonicalizer sorts result
    columns with pandas, which cannot order array cells — every key returns
    scalar columns only; same convention as agg_collect_sorted). The raw
    doubles pass through un-arithmeticked, so values are bit-identical
    across engines (SURVEY §5.3: only aggregates get rounded).
    At 100 TB, collect_list on a high-cardinality group is the memory
    hazard — the scale-safe variant is the window row_number <= k filter
    (win_row_number_topk) or a partial top-k aggregate; this key keeps
    k tiny and groups few, the shape where collect-then-slice wins (one
    shuffle, no sort of the full table)."""
    top = F.reverse(F.array_sort(F.collect_list("o_totalprice")))
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(top.alias("_top"), F.count(F.lit(1)).alias("n_orders"))
        .select(
            "o_orderpriority",
            # try_element_at: a group smaller than k yields NULL slots
            # (the oracle's out-of-range list index), not an ANSI
            # INVALID_ARRAY_INDEX error
            F.try_element_at("_top", F.lit(1)).alias("top1"),
            F.try_element_at("_top", F.lit(2)).alias("top2"),
            F.try_element_at("_top", F.lit(3)).alias("top3"),
            "n_orders",
        )
    )
