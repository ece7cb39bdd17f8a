"""Skew-adversarial rehearsal for the two-level range-bucket pattern (r13).

The three r11/r12 window rewrites (text_pack_sequences, sample_source_mix,
agg_weighted_percentile) replace low-cardinality partitionBy windows with
fixed-width range buckets. Fixed-width bounds are provably vulnerable to
two real 100 TB shapes this script synthesizes at sf0.1:

  1. DOMINANT GROUP: one source / one returnflag holds 90% of all rows
     (a crawl where one domain dominates). The bucket split happens
     PER group, so this mostly tests that the big group still fans out.
  2. VALUE POINT-MASS + OUTLIER: 90% of the dominant group's rows share
     a near-identical bucket key (doc_ids bulk-imported into one dense
     range / lineitems at one price point), plus a single outlier that
     stretches [min, max] so the fixed-width grid puts the mass in ONE
     bucket. This is the shape that defeats fixed-width bounds: the
     largest task degenerates back to ~0.9 n.

For each key we measure wall time AND the largest single-task row count
(via the per-bucket group sizes, computed with the key's own bucket
expression) on the normal sf0.1 corpus vs the skew corpus.

Usage: python scripts/skew_rehearsal.py [key ...]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = "/tmp/sg_skew"

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def build(spark) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(OUT, "_DONE")):
        return
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    for t in TABLES:
        src = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        if t == "documents":
            # 90% of docs into ONE source, their doc_ids compressed into a
            # dense band [0, n) while one outlier doc keeps id 50_000_000:
            # fixed-width [mn, mx)/64 puts the whole band in bucket 0.
            n = src.count()
            df = src.withColumn(
                "source",
                F.when(F.col("doc_id") % 10 < 9, F.lit("megacrawl")).otherwise(
                    F.col("source")
                ),
            )
            df = df.withColumn(
                "doc_id",
                F.when(
                    F.col("source") == "megacrawl",
                    F.col("doc_id") % F.lit(n),
                ).otherwise(F.col("doc_id") + F.lit(10_000_000)),
            )
            outlier = df.limit(1).withColumn("doc_id", F.lit(50_000_000))
            df = df.unionByName(outlier)
        elif t == "lineitem":
            # 90% of lineitems priced at a single point (999.99) under one
            # returnflag, one outlier at 10x the max price stretches the grid.
            df = src.withColumn(
                "l_returnflag",
                F.when(F.col("l_orderkey") % 10 < 9, F.lit("N")).otherwise(
                    F.col("l_returnflag")
                ),
            ).withColumn(
                "l_extendedprice",
                F.when(
                    (F.col("l_returnflag") == "N")
                    & (F.col("l_orderkey") % 10 < 9),
                    F.lit(999.99),
                ).otherwise(F.col("l_extendedprice")),
            )
            outlier = df.limit(1).select(
                *[
                    F.lit(1_000_000.0).alias(c)
                    if c == "l_extendedprice"
                    else F.col(c)
                    for c in df.columns
                ]
            )
            df = df.unionByName(outlier)
        else:
            df = src
        df.write.mode("overwrite").parquet(f"{OUT}/{t}.parquet")
    open(os.path.join(OUT, "_DONE"), "w").write("ok")


def max_bucket_rows(spark, sf_dir: str, key: str) -> int:
    """Largest (group, bucket) cell under the key's own bucket expression —
    the size of the biggest per-row-window task."""
    from pyspark.sql import functions as F

    from engine.tables import load

    if key == "agg_weighted_percentile":
        # r13 shape: level-1 fixed-width crossing prune, then the window
        # runs over the crossing slice's DISTINCT-PRICE relation,
        # quantile-sub-bucketed — measure the largest (flag, b2) cell.
        li = load(spark, sf_dir, "lineitem")
        stats = li.groupBy("l_returnflag").agg(
            F.min("l_extendedprice").alias("mn"),
            F.max("l_extendedprice").alias("mx"),
            F.sum("l_quantity").alias("tw"),
        )
        step = (F.col("mx") - F.col("mn")) / F.lit(256.0)
        bkt = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
            F.least(
                F.floor((F.col("l_extendedprice") - F.col("mn")) / step),
                F.lit(255),
            )
        )
        rows = li.join(F.broadcast(stats), "l_returnflag").select(
            "l_returnflag", "l_extendedprice", "l_quantity", "tw",
            bkt.alias("bkt"),
        )
        from pyspark.sql.window import Window

        bo = Window.partitionBy("l_returnflag").orderBy("bkt")
        boff = (
            rows.groupBy("l_returnflag", "bkt")
            .agg(F.sum("l_quantity").alias("bw"), F.first("tw").alias("tw"))
            .select(
                "l_returnflag", "bkt", "bw", "tw",
                (
                    F.sum("bw").over(bo.rowsBetween(Window.unboundedPreceding, 0))
                    - F.col("bw")
                ).alias("off"),
            )
        )
        crossing = (
            boff.filter(F.col("off") + F.col("bw") >= 0.5 * F.col("tw"))
            .groupBy("l_returnflag")
            .agg(F.min("bkt").alias("bkt"))
        )
        slicew = (
            rows.join(F.broadcast(crossing), ["l_returnflag", "bkt"])
            .groupBy("l_returnflag", "l_extendedprice")
            .count()
        )
        sstats = slicew.groupBy("l_returnflag").agg(
            F.percentile_approx(
                "l_extendedprice", [i / 64.0 for i in range(1, 64)], 1000
            ).alias("splits")
        )
        b2 = F.aggregate(
            F.col("splits"),
            F.lit(0),
            lambda acc, s: acc
            + F.when(F.col("l_extendedprice") >= s, 1).otherwise(0),
        )
        cells = (
            slicew.join(F.broadcast(sstats), "l_returnflag")
            .groupBy("l_returnflag", b2.alias("b2"))
            .count()
        )
    elif key == "text_pack_sequences":
        d = load(spark, sf_dir, "documents").select("doc_id", "source")
        stats = d.groupBy("source").agg(
            F.percentile_approx(
                "doc_id", [i / 64.0 for i in range(1, 64)], 10000
            ).alias("splits")
        )
        bkt = F.aggregate(
            F.col("splits"),
            F.lit(0),
            lambda acc, s: acc + F.when(F.col("doc_id") >= s, 1).otherwise(0),
        )
        cells = (
            d.join(F.broadcast(stats), d["source"].eqNullSafe(stats["source"]))
            .drop(stats["source"])
            .groupBy("source", bkt.alias("bkt"))
            .count()
        )
    elif key == "sample_source_mix":
        d = load(spark, sf_dir, "documents").select("doc_id", "source")
        hk = (F.col("doc_id") * F.lit(2654435761)) % F.lit(2147483647)
        d = d.withColumn("hk", hk)
        stats = d.groupBy("source").agg(
            F.min("hk").alias("mn"), F.max("hk").alias("mx")
        )
        step = (F.col("mx") - F.col("mn")) / F.lit(64.0)
        bkt = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
            F.least(F.floor((F.col("hk") - F.col("mn")) / step), F.lit(63))
        )
        cells = (
            d.join(F.broadcast(stats), d["source"].eqNullSafe(stats["source"]))
            .drop(stats["source"])
            .groupBy("source", bkt.alias("bkt"))
            .count()
        )
    else:
        raise KeyError(key)
    return cells.agg(F.max("count")).first()[0]


def main() -> int:
    from engine.registry import collect
    from engine.session import get_spark

    keys = sys.argv[1:] or [
        "text_pack_sequences",
        "sample_source_mix",
        "agg_weighted_percentile",
    ]
    spark = get_spark(
        "sg-skew-rehearsal", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    queries, _ = collect()
    build(spark)
    print("| key | corpus | n | max-task rows | wall s (min of 3) |")
    print("|---|---|---|---|---|")
    for key in keys:
        fn = getattr(queries[key], "__wrapped__", queries[key])
        for label, d in (("normal", SF_DIR), ("skew", OUT)):
            mb = max_bucket_rows(spark, d, key)
            tbl = "lineitem" if key == "agg_weighted_percentile" else "documents"
            n = spark.read.parquet(f"{d}/{tbl}.parquet").count()
            fn(spark, d).count()  # warm
            ts = []
            for _ in range(3):
                t0 = time.monotonic()
                fn(spark, d).count()
                ts.append(time.monotonic() - t0)
            print(
                f"| {key} | {label} | {n} | {mb} | {min(ts):.2f} |", flush=True
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
