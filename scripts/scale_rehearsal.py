"""Scale rehearsal: synthesize a 5× corpus from sf0.1 (key-shifted unions,
written once to /tmp) and measure wall-time scaling exponents for the
heaviest operators.

exponent = log(t_5x / t_1x) / log(5) — ~1.0 is linear, >1.2 flags
super-linear work that needs a plan note in docs/SCALE.md.

Usage: python scripts/scale_rehearsal.py [replication] [key ...]
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"
OUT = "/tmp/sg_scale_5x"  # overridden per-replication in main()

KEYS_DEFAULT = [
    "agg_group_hash",          # linear baseline
    "join_star_multiway",      # linear baseline (joins)
    "dedup_near_minhash",
    "dedup_ngram_jaccard",
    "dedup_semdedup",
    "sim_ann_rp_lsh",
    "sim_ann_ivf",
    "text_tfidf_cosine_docs",
    "text_ngram_novelty",
    "pipeline_pretrain_mix",
    "pipeline_rag_index",
    "sim_hybrid_rrf_fusion",
]

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
# per-table (key column, shift) so replicated copies stay key-unique where
# dedup/join semantics depend on it; dims are left unreplicated (catalog
# tables grow with catalog size, not fact volume).
FACT_SHIFTS = {
    "orders": ("o_orderkey", 10_000_000),
    "lineitem": ("l_orderkey", 10_000_000),
    "events": ("event_id", 10_000_000),
    "documents": ("doc_id", 1_000_000),
    "embeddings": ("vec_id", 1_000_000),
}


def build(spark, replication: int) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(os.path.join(OUT, "_DONE")):
        return
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    for t in TABLES:
        src = spark.read.parquet(f"{SF_DIR}/{t}.parquet")
        if t in FACT_SHIFTS:
            key, shift = FACT_SHIFTS[t]
            parts = [src]
            for i in range(1, replication):
                parts.append(src.withColumn(key, F.col(key) + i * shift))
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
        else:
            df = src
        df.write.mode("overwrite").parquet(f"{OUT}/{t}.parquet")
    open(os.path.join(OUT, "_DONE"), "w").write("ok")


def timed(fn, spark, sf_dir) -> float:
    t0 = time.monotonic()
    fn(spark, sf_dir).count()
    return time.monotonic() - t0


def main() -> int:
    replication = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    only = sys.argv[2:]
    global OUT
    OUT = f"/tmp/sg_scale_{replication}x"
    from engine.registry import collect
    from engine.session import get_spark

    spark = get_spark("sg-scale-rehearsal", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    queries, _ = collect()
    build(spark, replication)
    keys = only or KEYS_DEFAULT
    print(f"| key | t(sf0.1) s | t({replication}x) s | exponent |")
    print("|---|---|---|---|")
    runs = int(os.environ.get("SPARK_GRAFT_REHEARSAL_RUNS", "3"))
    for k in keys:
        fn = getattr(queries[k], "__wrapped__", queries[k])
        # warm both paths once (footer reads, code paths), then time
        # INTERLEAVED (1x, Nx, 1x, Nx, ...) and take min per side — the
        # repo's own perf discipline: a single-run pair puts the whole
        # co-tenant/GC swing into the exponent (r09: a single 1x reading
        # came out 6x above the sweep's claim-of-record figure; min-of-3
        # interleaved absorbs that).
        timed(fn, spark, SF_DIR)
        timed(fn, spark, OUT)
        t1s, t5s = [], []
        for _ in range(runs):
            t1s.append(timed(fn, spark, SF_DIR))
            t5s.append(timed(fn, spark, OUT))
        t1, t5 = min(t1s), min(t5s)
        exp = math.log(t5 / t1) / math.log(replication)
        print(f"| {k} | {t1:.2f} | {t5:.2f} | {exp:.2f} |", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
