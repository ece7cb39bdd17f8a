"""AQE skew-join rehearsal: exercise the cluster-mode flip, not just
document it.

engine/session.py documents `SPARK_GRAFT_AQE=true` as the cluster
profile (runtime broadcast, skew split, partition coalescing) and
docs/SCALE.md's conf table claims skewed joins get AQE handling on
clusters. This rehearsal MEASURES that claim on a manufactured skewed
join instead of asserting it:

  - left: spark.range rows where ~90% of rows share ONE hot key (the
    classic power-law customer), the rest spread over 100 cold keys
    (ids with id%10==9 keep id%1000, i.e. {9,19,...,999});
  - right: one payload row per each of 1000 keys, so 900 right keys
    deliberately match nothing (forced sort-merge: broadcast off);
  - run the join AQE-off (one straggler partition owns the hot key)
    and AQE-on with the skew thresholds scaled to local data sizes
    (the defaults trigger at 256 MB partitions; local shuffle
    partitions are ~MBs, so thresholds scale down — the MECHANISM
    under test is identical), and verify the executed plan actually
    split the skew (`isSkewJoin=true`).

Usage: python scripts/aqe_skew_rehearsal.py [n_rows_millions]

Prints a markdown table (paste into docs/SCALE.md) + the plan evidence.
The pytest twin (tests/test_aqe.py) pins the skew-split plan shape at
small scale; this script adds wall-clock numbers at larger N.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# AQE + skew thresholds scaled to local partition sizes. On a cluster the
# defaults (256 MB threshold, 64 MB advisory) do the same thing to
# multi-GB skewed partitions.
_AQE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
    # keep AQE from fusing everything into a broadcast join — the point
    # is the sort-merge skew split
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


def skewed_frames(spark, n_rows: int):
    from pyspark.sql import functions as F

    left = spark.range(n_rows).select(
        F.when(F.col("id") % 10 < 9, F.lit(0))
        .otherwise(F.col("id") % 1000)
        .alias("k"),
        (F.col("id") * 7 % 1000).alias("v"),
    )
    right = spark.range(1000).select(
        F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("payload")
    )
    return left, right


def with_confs(spark, confs):
    """Set runtime confs, returning the prior values for restore()."""
    base = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    return base


def restore_confs(spark, base):
    for k, v in base.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def run_join(spark, n_rows: int):
    """One executed join; returns (elapsed_s, executed DataFrame) so the
    plan evidence can be read from the SAME query that was timed (AQE
    finalizes executedPlan only after execution)."""
    from pyspark.sql import functions as F

    left, right = skewed_frames(spark, n_rows)
    out = left.join(right, "k").agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
    )
    t0 = time.monotonic()
    out.collect()
    return time.monotonic() - t0, out


def main() -> None:
    n_rows = int(float(sys.argv[1]) * 1e6) if len(sys.argv) > 1 else 20_000_000
    from engine.session import get_spark

    spark = get_spark("aqe-skew-rehearsal")
    base = {k: spark.conf.get(k, None) for k in _AQE_CONFS}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    # warm
    run_join(spark, 1_000_000)

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    t_off = min(run_join(spark, n_rows)[0] for _ in range(3))

    with_confs(spark, _AQE_CONFS)
    runs = [run_join(spark, n_rows) for _ in range(3)]
    t_on = min(t for t, _ in runs)
    # plan evidence from the LAST TIMED query — not a separate re-execution
    plan = runs[-1][1]._jdf.queryExecution().executedPlan().toString()
    # Spark 4 prints the split as `SortMergeJoin(skew=true)`; older
    # releases used `isSkewJoin=true` — accept either.
    skew_marked = "skew=true" in plan or "isSkewJoin=true" in plan

    restore_confs(spark, base)

    print(f"| rows | hot-key share | AQE off s | AQE on s | skew split in plan |")
    print(f"|---|---|---|---|---|")
    print(
        f"| {n_rows/1e6:.0f}M | 90% on one key | {t_off:.2f} | {t_on:.2f} |"
        f" {'yes (SortMergeJoin(skew=true))' if skew_marked else 'NO'} |"
    )
    if not skew_marked:
        print("\nPLAN (skew split NOT found):")
        print(plan)


if __name__ == "__main__":
    main()
