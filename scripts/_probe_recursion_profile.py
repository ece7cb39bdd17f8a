"""One-off probe (VERDICT r08 item 3): pin what the sql_recursive_cte_chain
5x exponent (1.14) is made of. Three controlled measurements:

1. WIDTH-5x — replicate orders with SHIFTED custkeys (5x customers, same
   per-customer density): recursion DEPTH constant, per-level join volume
   5x. If the exponent here is ~<=1.0, the excess in the standard 5x
   (1.14, same custkeys => depth also grows) is depth scaling, not a plan
   defect in the per-level join.
2. DEPTH-ONLY — synthetic single-customer chains of depth D in {16, 64,
   256} with ONE row per level: per-level data volume ~zero, so
   wall-time/D isolates the engine's fixed per-iteration cost
   (re-plan + schedule + exchange per recursion step).
3. BASE RESIDENCY — the materialized `base` relation read per level from
   parquet vs persisted in memory: does per-level re-scan of the static
   side matter at sf0.1 scale?

Usage: python scripts/_probe_recursion_profile.py
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"
OUT = "/tmp/sg_rec_width5x"


def build_width5x(spark) -> None:
    """5x orders with custkey AND orderkey shifted: new customers, same
    per-customer order density => same recursion depth as 1x."""
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(OUT, "_DONE")):
        return
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    src = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    parts = [src]
    for i in range(1, 5):
        parts.append(
            src.withColumn("o_orderkey", F.col("o_orderkey") + i * 10_000_000)
            .withColumn("o_custkey", F.col("o_custkey") + i * 10_000_000)
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    df.write.mode("overwrite").parquet(f"{OUT}/orders.parquet")
    open(os.path.join(OUT, "_DONE"), "w").write("ok")


def timed(fn, *args) -> float:
    t0 = time.monotonic()
    fn(*args)
    return time.monotonic() - t0


def run_key(spark, sf_dir: str) -> float:
    from engine.registry import collect

    queries, _ = collect()
    fn = getattr(
        queries["sql_recursive_cte_chain"],
        "__wrapped__",
        queries["sql_recursive_cte_chain"],
    )
    return timed(lambda: fn(spark, sf_dir).count())


def depth_only(spark, depth: int) -> float:
    """Single chain, one row per level, dates 1 day apart (all gaps pass):
    recursion runs exactly `depth` levels over ~zero data."""
    from pyspark.sql import functions as F

    rows = spark.range(1, depth + 1).select(
        F.lit(1).alias("o_custkey"),
        F.date_add(F.lit("2020-01-01").cast("date"), F.col("id").cast("int")).alias(
            "o_orderdate"
        ),
        F.col("id").cast("int").alias("rn"),
    )
    rows.createOrReplaceTempView("probe_chain_base")
    sql = f"""
        WITH RECURSIVE walk(cust, rn, d) MAX RECURSION LEVEL {depth + 2} AS (
          SELECT o_custkey, rn, o_orderdate FROM probe_chain_base WHERE rn = 1
          UNION ALL
          SELECT b.o_custkey, b.rn, b.o_orderdate
          FROM walk w JOIN probe_chain_base b
            ON b.o_custkey = w.cust AND b.rn = w.rn + 1
          WHERE b.o_orderdate <= w.d + INTERVAL 60 DAY
        )
        SELECT cust, count(*) AS chain_len FROM walk GROUP BY cust
    """
    return timed(lambda: spark.sql(sql).count())


def residency(spark) -> None:
    """Same recursion over sf0.1 base, parquet-backed vs memory-persisted."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    base = orders.selectExpr(
        "o_custkey",
        "o_orderdate",
        "row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn",
    )
    max_depth = 64  # sf0.1 actual max chain is far below this

    def rec(view: str) -> None:
        spark.sql(
            f"""
            WITH RECURSIVE walk(cust, rn, d) MAX RECURSION LEVEL {max_depth} AS (
              SELECT o_custkey, rn, o_orderdate FROM {view} WHERE rn = 1
              UNION ALL
              SELECT b.o_custkey, b.rn, b.o_orderdate
              FROM walk w JOIN {view} b
                ON b.o_custkey = w.cust AND b.rn = w.rn + 1
              WHERE b.o_orderdate <= w.d + INTERVAL 60 DAY
            )
            SELECT cust, count(*) AS chain_len FROM walk GROUP BY cust
            """
        ).count()

    pq = "/tmp/sg_rec_residency_base"
    shutil.rmtree(pq, ignore_errors=True)
    base.write.mode("overwrite").parquet(pq)
    spark.read.parquet(pq).createOrReplaceTempView("probe_base_parquet")
    rec("probe_base_parquet")  # warm
    tp = min(timed(rec, "probe_base_parquet") for _ in range(3))

    mem = spark.read.parquet(pq).persist()
    mem.count()
    mem.createOrReplaceTempView("probe_base_mem")
    rec("probe_base_mem")  # warm
    tm = min(timed(rec, "probe_base_mem") for _ in range(3))
    mem.unpersist()
    print(f"base residency: parquet {tp:.2f} s  vs  memory-persisted {tm:.2f} s")


def main() -> int:
    from engine.session import get_spark

    spark = get_spark(
        "sg-rec-profile", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    spark.sparkContext.setLogLevel("ERROR")

    print("== depth-only fixed cost (1 row/level) ==", flush=True)
    depth_only(spark, 8)  # warm code paths
    for d in (16, 64, 256):
        t = min(depth_only(spark, d) for _ in range(2))
        per = t / d * 1000
        print(f"depth {d:4d}: {t:6.2f} s  ({per:.0f} ms/level)", flush=True)

    print("== base residency ==", flush=True)
    residency(spark)

    print("== width-5x vs standard operator ==", flush=True)
    build_width5x(spark)
    # width corpus only replicates orders; the key only reads orders.
    run_key(spark, SF_DIR)  # warm
    t1 = min(run_key(spark, SF_DIR) for _ in range(2))
    t5w = min(run_key(spark, OUT) for _ in range(2))
    exp_w = math.log(t5w / t1) / math.log(5)
    print(
        f"1x {t1:.2f} s   width-5x {t5w:.2f} s   exponent {exp_w:.2f} "
        f"(standard density-5x recorded: 1.14)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
