"""Dynamic partition overwrite and recursive globbed directory ingest —
the two layout-level contracts every warehouse-shaped pipeline relies on.
"""

from __future__ import annotations

import os

from engine.tmpdirs import scratch_dir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import fixture_dir, load, sftag


@query(
    "etl_partition_overwrite_dynamic",
    oracle="""
    SELECT o_orderpriority, count(*) AS n,
           round(sum(CASE WHEN o_orderpriority = '1-URGENT'
                          THEN o_totalprice * 2.0 ELSE o_totalprice END), 2)
             AS total
    FROM orders GROUP BY 1
    """,
)
def etl_partition_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite: a priority-partitioned orders table is
    fully written, then ONE partition ('1-URGENT', with doubled prices) is
    rewritten with mode=overwrite + partitionOverwriteMode=dynamic — and
    the read-back proves the other partitions survived untouched. Under
    the default STATIC mode the second write would have deleted every
    other partition; dynamic mode replaces only partitions present in the
    incoming data, which is THE idempotent daily-reload idiom (re-run a
    day, never touch the rest).

    100 TB: partition replacement is a metadata swap per touched
    partition — cost scales with the reloaded slice, not the table. The
    write shuffles nothing beyond the incoming slice; readers prune
    untouched partitions as before."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    path = os.path.join(
        scratch_dir(prefix=f"sg-dynpart-{sftag(sf_dir)}-"), "orders_t"
    )
    o.write.partitionBy("o_orderpriority").mode("overwrite").parquet(path)
    upd = o.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2.0
    )
    (
        upd.write.partitionBy("o_orderpriority")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )
    # explicit schema: no inference pass, robust to a zero-row write
    back = spark.read.schema(o.schema).parquet(path)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@query(
    "scan_recursive_glob",
    oracle="""
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
)
def scan_recursive_glob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive directory ingest with a glob filter: the documents table
    split across a nested tree (top level + two levels deep) with a
    non-parquet decoy file alongside, read back via recursiveFileLookup +
    pathGlobFilter='*.parquet' — the lake-layout contract for ingesting
    arbitrarily nested vendor drops without a partition scheme. The
    oracle aggregates the original table; equality proves nothing was
    missed (deep files), duplicated, or wrongly included (the decoy).

    100 TB: file listing is driver/metastore work proportional to file
    count — the reason real lakes either register partitions or compact
    (etl_compact_small_files); the scan itself parallelizes per file
    split as usual."""

    def build(src: str) -> None:
        d = load(spark, sf_dir, "documents")
        os.makedirs(f"{src}/a/b")
        d.filter(F.col("doc_id") % 2 == 0).write.parquet(f"{src}/a/even.parquet")
        d.filter(F.col("doc_id") % 2 == 1).write.parquet(f"{src}/a/b/odd.parquet")
        with open(f"{src}/a/decoy.json", "w") as fh:
            fh.write('{"not": "parquet"}\n')

    # The source tree is fixture prep, built once per corpus file identity.
    parts = ("a/even.parquet/_SUCCESS", "a/b/odd.parquet/_SUCCESS", "a/decoy.json")
    src = fixture_dir(
        f"{sf_dir}/documents.parquet",
        "globsrc",
        build,
        lambda t: all(os.path.exists(f"{t}/{p}") for p in parts),
    )
    back = (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .schema(load(spark, sf_dir, "documents").schema)
        .parquet(src)
    )
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )
