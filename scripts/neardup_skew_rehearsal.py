"""Skew-adversarial rehearsal for the NEAR-DUP family (r14, VERDICT item 7).

The r13 harness (skew_rehearsal.py) covers the two-level range-bucket
window rewrites; this one targets the shapes that defeat inverted-index /
LSH near-dup kernels at 100 TB:

  1. HOT SHINGLE (boilerplate): 90% of documents share an identical
     header prefix — every crawl corpus has this shape (site chrome,
     license banners, template boilerplate). The shared prefix puts one
     gram (and one LSH band key) in 0.9n documents: an uncapped
     inverted-index join degenerates to O(0.81 n²) candidate rows off
     that single bucket.
  2. ONE SOURCE: 90% of docs under one source (a dominant domain) —
     exercises the cascade's per-source manifest aggregation; the
     kernels themselves don't key on source, so this is a
     control/manifest shape.

Measured per key, normal vs each skew corpus:
  - the largest inverted-index bucket (max gram df / max LSH band
    bucket) — the size of the hottest join key;
  - the candidate-pair volume the kernel's own plan generates
    (Σ df·(df−1)/2 for the gram join; post-cap band pairs for LSH) —
    the actual task work, not just wall time;
  - wall s (min of 3, load-annotated — trust rows over walls on a
    noisy host).

Usage: python scripts/neardup_skew_rehearsal.py [key ...]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_HOT = "/tmp/sg_skew_hotshingle"
OUT_SRC = "/tmp/sg_skew_onesource"

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

_BOILER = "common header boilerplate banner v1 "  # 36 chars, 6 words


def build(spark) -> None:
    from pyspark.sql import functions as F

    for out, kind in ((OUT_HOT, "hot"), (OUT_SRC, "src")):
        if os.path.exists(os.path.join(out, "_DONE")):
            continue
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)
        for t in TABLES:
            src = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
            df = src
            if t == "documents" and kind == "hot":
                df = src.withColumn(
                    "text",
                    F.when(
                        F.col("doc_id") % 10 < 9,
                        F.concat(F.lit(_BOILER), F.col("text")),
                    ).otherwise(F.col("text")),
                )
            elif t == "documents" and kind == "src":
                df = src.withColumn(
                    "source",
                    F.when(
                        F.col("doc_id") % 10 < 9, F.lit("megacrawl")
                    ).otherwise(F.col("source")),
                )
            df.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
        open(os.path.join(out, "_DONE"), "w").write("ok")


def gram_stats(spark, sf_dir: str) -> tuple[int, str]:
    """(max gram df, 'plain-join candidates -> post-defense light
    candidates') over the ngram kernel's own inverted index — the hottest
    join bucket, the volume the UNDEFENDED self-join would generate, and
    the volume the r14 hot-gram split's light join actually generates."""
    from pyspark.sql import functions as F

    from engine.tables import load
    from engine.textops import _NGRAM_DF_CAP, explode_nonempty, word_ngram_ids

    d = load(spark, sf_dir, "documents")
    inv = explode_nonempty(word_ngram_ids(d, 3), "s", "g")
    dfc = inv.groupBy("g").agg(F.count("*").alias("c"))
    pair_vol = F.col("c") * (F.col("c") - 1) / 2
    row = dfc.agg(
        F.max("c").alias("mx"),
        F.sum(pair_vol).alias("cand"),
        F.sum(
            F.when(F.col("c") <= _NGRAM_DF_CAP, pair_vol).otherwise(F.lit(0))
        ).alias("light"),
    ).first()
    return int(row["mx"]), f"{int(row['cand'])} -> {int(row['light'])} light"


def band_stats(spark, sf_dir: str) -> tuple[int, int, int]:
    """(max band-bucket size PRE-cap, buckets over cap, post-cap candidate
    pairs) over the minhash kernel's own banding."""
    from pyspark.sql import functions as F

    from engine.dedup import LSH_BUCKET_CAP, lsh_band_rows, minhash_signatures
    from engine.tables import load

    d = load(spark, sf_dir, "documents")
    b = lsh_band_rows(minhash_signatures(d))
    sz = b.groupBy("band", "k1", "k2").agg(F.count("*").alias("c"))
    row = sz.agg(
        F.max("c").alias("mx"),
        F.sum((F.col("c") > LSH_BUCKET_CAP).cast("long")).alias("dropped"),
        F.sum(
            F.when(
                F.col("c") <= LSH_BUCKET_CAP,
                F.col("c") * (F.col("c") - 1) / 2,
            ).otherwise(F.lit(0))
        ).alias("cand"),
    ).first()
    return int(row["mx"]), int(row["dropped"]), int(row["cand"])


def main() -> int:
    from engine.registry import collect
    from engine.session import get_spark

    keys = sys.argv[1:] or [
        "dedup_ngram_jaccard",
        "dedup_near_minhash",
        "pipeline_dedup_cascade",
    ]
    spark = get_spark(
        "sg-neardup-skew", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    queries, _ = collect()
    build(spark)
    print(f"loadavg at start: {os.getloadavg()}")
    print("| key | corpus | max bucket | candidate rows | out rows | wall s (min of 3) |")
    print("|---|---|---|---|---|---|")
    for key in keys:
        fn = getattr(queries[key], "__wrapped__", queries[key])
        for label, d in (
            ("normal", SF_DIR),
            ("hotshingle", OUT_HOT),
            ("onesource", OUT_SRC),
        ):
            if key == "dedup_near_minhash":
                mx, dropped, cand = band_stats(spark, d)
                extra = f"{cand} (dropped {dropped} buckets)"
            else:
                mx, cand = gram_stats(spark, d)
                extra = str(cand)
            out_rows = fn(spark, d).count()  # warm + output volume
            ts = []
            for _ in range(3):
                t0 = time.monotonic()
                fn(spark, d).count()
                ts.append(time.monotonic() - t0)
            print(
                f"| {key} | {label} | {mx} | {extra} | {out_rows} |"
                f" {min(ts):.2f} |",
                flush=True,
            )
    print(f"loadavg at end: {os.getloadavg()}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
