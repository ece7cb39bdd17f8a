"""Forced-materialization 100x A/Bs for window keys (VERDICT r11 items 4+8).

The sweep's .count() prunes unreferenced window expressions, so this probe
times each key with an aggregate over its window-derived columns (max()
defeats the pruning) at 1x (sf0.1) and Nx, interleaved min-of-2:

1. text_pack_sequences / sample_source_mix — OLD per-source window shape
   (inlined below) vs the r12 two-level range-bucket rewrite, proving the
   ~20-way partition ceiling is gone from the MATERIALIZED plan.
2. win_rank_shift_yoy / text_top_bigrams_per_lang — current impls, count()
   vs forced, confirming the bounded-relation windows hide no cliff.

Usage: python scripts/_probe_window_forced_ab.py [replication]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.1"


def old_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-r12 text_pack_sequences: one running-sum window per source."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_tok = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = d.select("doc_id", "source", n_tok.alias("n_tokens"))
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return t.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(cum / 512).cast("long").alias("seq_id"),
        (cum % 512).cast("long").alias("offset_in_seq"),
    )


def old_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-r12 sample_source_mix: row_number + count windows per source."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hk = (F.col("doc_id") * F.lit(2654435761)) % F.lit(2147483647)
    w = Window.partitionBy("source").orderBy("hk", "doc_id")
    wc = Window.partitionBy("source")
    return (
        d.select("doc_id", "source", hk.alias("hk"))
        .withColumn("rn", F.row_number().over(w))
        .withColumn("cnt", F.count("*").over(wc))
        .filter(F.col("rn") <= F.ceil(F.col("cnt") * 0.4).cast("long"))
        .select("doc_id", "source")
    )


def force_pack(df: DataFrame) -> None:
    df.agg(F.max("seq_id"), F.max("offset_in_seq")).collect()


def force_mix(df: DataFrame) -> None:
    df.count()  # the rn filter already forces the window


def force_yoy(df: DataFrame) -> None:
    df.agg(F.max("rnk"), F.max("rank_gain")).collect()


def force_bigrams(df: DataFrame) -> None:
    df.agg(F.max("rnk"), F.count("*")).collect()


def timed(fn, force, spark, sf_dir) -> float:
    t0 = time.monotonic()
    force(fn(spark, sf_dir))
    return time.monotonic() - t0


def main() -> int:
    replication = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    out = f"/tmp/sg_scale_{replication}x"
    import scripts.scale_rehearsal as sr

    from engine.registry import collect
    from engine.session import get_spark

    sr.OUT = out
    spark = get_spark(
        "sg-window-forced-ab", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    sr.build(spark, replication)
    queries, _ = collect()

    cases = [
        ("text_pack_sequences OLD", old_pack, force_pack),
        (
            "text_pack_sequences NEW",
            queries["text_pack_sequences"].__wrapped__,
            force_pack,
        ),
        ("sample_source_mix OLD", old_mix, force_mix),
        (
            "sample_source_mix NEW",
            queries["sample_source_mix"].__wrapped__,
            force_mix,
        ),
        (
            "win_rank_shift_yoy forced",
            queries["win_rank_shift_yoy"].__wrapped__,
            force_yoy,
        ),
        (
            "text_top_bigrams_per_lang forced",
            queries["text_top_bigrams_per_lang"].__wrapped__,
            force_bigrams,
        ),
    ]
    print(f"| case | t(sf0.1) s | t({replication}x) s | exponent |")
    print("|---|---|---|---|")
    for name, fn, force in cases:
        timed(fn, force, spark, SF_DIR)
        timed(fn, force, spark, out)
        t1s, tns = [], []
        for _ in range(2):
            t1s.append(timed(fn, force, spark, SF_DIR))
            tns.append(timed(fn, force, spark, out))
        t1, tn = min(t1s), min(tns)
        exp = math.log(tn / t1) / math.log(replication)
        print(f"| {name} | {t1:.2f} | {tn:.2f} | {exp:.2f} |", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
