"""Coverage extensions: ORC source, subqueries (Catalyst decorrelation),
pivot/unpivot reshaping, and the salted-skew join pattern.

These round out the relational surface (SURVEY §2.A-C neighbors): the
subquery keys exercise the textual `spark.sql` path and prove IN/EXISTS
decorrelation to semi-joins; the salted join is the standard skew mitigation
written so its result is provably identical to the plain equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import SCHEMAS, load, sftag
from engine.tmpdirs import scratch_dir


@query(
    "scan_orc_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip with pinned schema (the other columnar
    format Spark ships a vectorized reader for; splittable + predicate
    pushdown, same scan properties as parquet)."""
    path = scratch_dir(prefix=f"sg-orc-supplier-{sftag(sf_dir)}-")
    load(spark, sf_dir, "supplier").write.mode("overwrite").orc(path)
    return spark.read.schema(SCHEMAS["supplier"]).orc(path)


@query(
    "subq_scalar",
    oracle="""
    SELECT c_custkey, round(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    """,
)
def subq_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery via the textual SQL path: Catalyst plans the inner
    aggregate once and broadcasts the scalar — no per-row re-evaluation."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("sg_customer")
    return spark.sql(
        """
        SELECT c_custkey, round(c_acctbal, 2) AS acctbal
        FROM sg_customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM sg_customer)
        """
    )


@query(
    "subq_exists_correlated",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
    """,
)
def subq_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — Catalyst decorrelates it to a left-semi hash join
    (the rewrite that makes correlated subqueries scale: one shuffle, no
    per-row probe)."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("sg_orders")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("sg_lineitem")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM sg_orders o
        WHERE EXISTS (SELECT 1 FROM sg_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        """
    )


@query(
    "pivot_wide",
    oracle="""
    SELECT o_orderpriority,
           round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2) AS F,
           round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'O'), 2) AS O,
           round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'P'), 2) AS P
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to wide form with an EXPLICIT value list — without it Spark runs
    an extra distinct pass over the data to discover columns (a full scan a
    100 TB pipeline can't afford)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.sum("o_totalprice"), 2))
    )


@query(
    "unpivot_long",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, p_size::DOUBLE AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
    """,
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) to long form — the inverse reshape, a zero-shuffle
    map-side row expansion."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice"),
    ).unpivot("p_partkey", ["p_size", "p_retailprice"], "metric", "value")


@query(
    "join_salted_skew",
    oracle="""
    SELECT o_orderpriority, round(sum(l_extendedprice), 2) AS revenue,
           count(*) AS n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated equi-join by salting: the build side is replicated once
    per salt bucket (8×), the probe side derives a deterministic salt, and
    the join key becomes (key, salt) — a hot key's rows now spread over 8
    reducers instead of one. Result is provably identical to the plain join
    (the oracle IS the plain join).

    100 TB: this is the manual fallback when AQE skew-join splitting isn't
    enough (e.g. one tenant id = 30% of rows); salt count scales with the
    observed skew factor, and only skewed keys need replicating."""
    n_salt = 8
    li = load(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.col("l_linenumber"), F.lit(n_salt))
    )
    o = (
        load(spark, sf_dir, "orders")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    )
    j = li.join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
    return j.groupBy("o_orderpriority").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        F.count("*").alias("n"),
    )


@query(
    "scan_csv_malformed",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input tolerance: a CSV batch with corrupt rows injected
    (wrong arity, un-castable types), read in DROPMALFORMED mode — survivors
    are exactly the clean rows. The PERMISSIVE/_corrupt_record variant is
    the quarantine route (etl_validate_quarantine has the routing shape);
    DROPMALFORMED is the ingest-and-continue route. Parsing is per-row and
    partition-local — tolerance costs nothing in plan shape at any scale."""
    path = scratch_dir(prefix=f"sg-csv-malformed-{sftag(sf_dir)}-")
    n = load(spark, sf_dir, "nation")
    n.coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    import glob as _glob

    csv_file = _glob.glob(f"{path}/part-*.csv")[0]
    with open(csv_file, "a") as fh:
        fh.write("not_an_int,BROKENLAND,also_not_int\n")
        fh.write("99\n")
        fh.write("98,TOO,5,MANY,COLS\n")
    # the append invalidates Hadoop's .crc sidecars; drop them or the local
    # FS read fails with ChecksumException before the parser ever runs
    import os as _os

    for crc in _glob.glob(f"{path}/.*.crc"):
        _os.remove(crc)
    return (
        spark.read.schema(SCHEMAS["nation"])
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .csv(path)
    )


@query(
    "sink_sorted_clustered",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
    """,
)
def sink_sorted_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered parquet layout: repartitionByRange(l_shipdate) +
    sortWithinPartitions before the write, so each output file covers a
    narrow shipdate range and parquet row-group min/max statistics make
    time-range scans skip almost everything (the pushed filter prunes whole
    files/row-groups, not just rows). This is THE layout optimization for
    time-series fact tables at 100 TB — same data, same query, a fraction
    of the I/O. Boundaries come from sampling (nondeterministic splits, but
    content-identical), so the read-back equals the plain filtered table."""
    path = scratch_dir(prefix=f"sg-clustered-lineitem-{sftag(sf_dir)}-")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice"
    )
    (
        li.repartitionByRange(4, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    return spark.read.parquet(path).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp_ntz"))
    )
