"""Targeted erasure with partition-scoped rewrites.

SURVEY §2.M+governance (right-to-be-forgotten: a deletion list applied by
rewriting ONLY the partitions that contain the subjects — the
layout-aware erasure pattern).

Determinism discipline (SURVEY §5.3): the deletion list is a fixed id
set; audits are counts/sums.
"""

from __future__ import annotations

import os

from engine.tmpdirs import scratch_dir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load, sftag

_ERASE_USERS = [3, 17, 42]


@query(
    "etl_targeted_erasure",
    oracle=f"""
    SELECT user_id % 16 AS bucket,
           count(*) AS n_rows,
           CAST(count(CASE WHEN user_id IN ({", ".join(map(str, _ERASE_USERS))})
                      THEN 1 END) AS BIGINT) AS n_erased_left
    FROM events
    WHERE user_id NOT IN ({", ".join(map(str, _ERASE_USERS))})
    GROUP BY 1
    """,
)
def etl_targeted_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten, layout-aware: events are stored partitioned
    by a 16-way user-id bucket; erasing three users rewrites ONLY the
    buckets that contain them (3 directories at most), leaving every
    other partition's files physically untouched (unit-tested by file
    mtime). The audit re-reads the WHOLE store post-erasure: per-bucket
    row counts with a must-be-zero count of surviving erased rows.

    100 TB: this is why subject-keyed partitioning (or at least
    bucket-by-subject-hash) is a compliance requirement, not a
    performance nicety — erasure cost becomes O(partitions containing
    the subject), not O(corpus rewrite). The bucket column being a pure
    hash of the subject id means the partitions to rewrite are COMPUTED,
    never searched. Table formats (Delta/Iceberg) refine the same idea
    to file-level deletes; bare parquet makes the mechanics explicit."""
    base = scratch_dir(prefix=f"sg-erase-{sftag(sf_dir)}-")
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    store = e.withColumn("bucket", F.col("user_id") % 16)
    # r15 (guide §6): repartition by the partition column before the
    # partitioned write — otherwise every input task writes into every
    # bucket dir (files = tasks × dirs at scale; locally the single-split
    # source serialized all 16 dirs through one task, measured 0.89 s vs
    # 0.67 s warm). One writer task per bucket, same 16 files.
    store.repartition(16, "bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(base)
    # Compute the affected buckets FROM the deletion list (no scan needed),
    # rewrite only those directories. A bucket with no rows has no
    # directory — nothing to erase there, skip it (an empty events source
    # must not crash the erasure job).
    affected = sorted({u % 16 for u in _ERASE_USERS})
    for b in affected:
        part_dir = f"{base}/bucket={b}"
        if not os.path.isdir(part_dir):
            continue
        kept = spark.read.parquet(part_dir).filter(
            ~F.col("user_id").isin(_ERASE_USERS)
        )
        tmp = f"{base}/.rewrite_bucket_{b}"
        kept.write.mode("overwrite").parquet(tmp)
        import shutil

        shutil.rmtree(part_dir)
        os.rename(tmp, part_dir)
    # explicit schema: no inference pass, robust to a zero-row write
    back = spark.read.schema(store.schema).parquet(base)
    return back.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when(F.col("user_id").isin(_ERASE_USERS), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_erased_left"),
    )
