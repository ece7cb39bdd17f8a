"""r15 probe: phase-split pipeline_incremental_refresh's warm run.

Builds the index once (as the key does), then times each driver-synchronized
action inside refresh_decisions + the manifest rollup separately, twice, so
the per-phase attribution is visible. Read-only; nothing committed changes.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

from pyspark import StorageLevel  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from engine import tables  # noqa: E402
from engine.session import get_spark, tune  # noqa: E402
from engine.tables import load  # noqa: E402


def main() -> int:
    spark = get_spark("refresh-phase-probe")
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)

    from engine import pipeline as p6
    from engine.dedup import (
        capped_lsh_band_rows,
        component_losers,
        minhash_signatures,
        verify_near_pairs,
    )
    from engine.registry import collect

    queries, _ = collect()
    fn = queries["pipeline_incremental_refresh"].__wrapped__
    # First full run builds+caches the index and warms every plan.
    t0 = time.perf_counter()
    fn(spark, SF).count()
    print(f"run0 (cold, index build): {time.perf_counter() - t0:.2f}s")

    d = load(spark, SF, "documents").select("doc_id", "source", "text")
    new = d.filter(F.col("doc_id") % 5 == 0)
    src = os.path.join(SF, "documents.parquet")
    base = tables._MEMO[("refreshidx", os.path.realpath(src))][1][0]
    gen = p6._current_gen(base)
    old_exact = spark.read.parquet(*p6._artifact_paths(gen, "exact"))
    old_sigs = spark.read.parquet(*p6._artifact_paths(gen, "sigs"))
    old_bands = spark.read.parquet(*p6._artifact_paths(gen, "bands"))

    for it in range(2):
        print(f"--- warm pass {it} ---")
        t = time.perf_counter()

        def lap(tag):
            nonlocal t
            now = time.perf_counter()
            print(f"  {tag}: {now - t:.3f}s")
            t = now

        new_h = new.withColumn("h", F.md5("text"))
        ex_drop = new_h.join(old_exact, "h", "left_semi").select("doc_id")
        new1 = new.join(ex_drop, "doc_id", "left_anti")
        new_sig = minhash_signatures(new).persist(StorageLevel.MEMORY_AND_DISK)
        nb = capped_lsh_band_rows(new_sig).persist(StorageLevel.MEMORY_AND_DISK)
        lap("plan build")
        n_batch = new_sig.count()
        lap(f"new_sig.count ({n_batch})")
        nb_a = nb.withColumnRenamed("doc_id", "a_id")
        if n_batch <= p6._BROADCAST_BATCH_MAX_DOCS:
            nb_a = F.broadcast(nb_a)
        cross_cand = (
            old_bands.join(nb_a, ["band", "k1", "k2"])
            .select("a_id", F.col("doc_id").alias("b_id"))
            .distinct()
            .withColumn("within", F.lit(False))
        )
        wn_cand = (
            nb.alias("x")
            .join(nb.alias("y"), ["band", "k1", "k2"])
            .filter(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("a_id"), F.col("y.doc_id").alias("b_id"))
            .distinct()
            .withColumn("within", F.lit(True))
        )
        all_sigs = new_sig.unionByName(old_sigs.select(*new_sig.columns))
        pairs = (
            verify_near_pairs(cross_cand.unionByName(wn_cand), new_sig, all_sigs)
            .select("a_id", "b_id", "within")
            .localCheckpoint()
        )
        lap("pairs verify + localCheckpoint")
        near_old_drop = (
            pairs.filter(~F.col("within"))
            .select(F.col("a_id").alias("doc_id"))
            .distinct()
            .join(new1.select("doc_id"), "doc_id", "left_semi")
        )
        new2 = new1.join(near_old_drop, "doc_id", "left_anti")
        within_pairs = pairs.filter(F.col("within")).select("a_id", "b_id")
        new2_ids = new2.select("doc_id").localCheckpoint()
        lap("new2_ids localCheckpoint")
        nn = within_pairs.join(
            new2_ids, within_pairs["a_id"] == new2_ids["doc_id"], "left_semi"
        ).join(new2_ids, within_pairs["b_id"] == new2_ids["doc_id"], "left_semi")
        npairs = pairs.count()
        lap(f"pairs.count ({npairs})")
        within_drop = component_losers(
            spark, nn.select("a_id", "b_id"), n_pairs_bound=npairs
        )
        lap("component_losers")
        tag_df = (
            new.select("doc_id", "source")
            .join(ex_drop.withColumn("g1", F.lit(1)), "doc_id", "left")
            .join(near_old_drop.withColumn("g2", F.lit(1)), "doc_id", "left")
            .join(
                within_drop.select(F.col("node").alias("doc_id"), F.lit(1).alias("g3")),
                "doc_id",
                "left",
            )
        )
        dec = tag_df.select(
            "doc_id",
            "source",
            F.when(F.col("g1") == 1, F.lit("drop_exact_vs_old"))
            .when(F.col("g2") == 1, F.lit("drop_near_vs_old"))
            .when(F.col("g3") == 1, F.lit("drop_within_new"))
            .otherwise(F.lit("accepted"))
            .alias("decision"),
        )
        n_of = lambda name: (  # noqa: E731
            F.sum(F.when(F.col("decision") == name, 1).otherwise(0))
            .cast("long")
            .alias(name)
        )
        out = dec.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_arrived"),
            n_of("drop_exact_vs_old"),
            n_of("drop_near_vs_old"),
            n_of("drop_within_new"),
            F.sum(F.when(F.col("decision") == "accepted", 1).otherwise(0))
            .cast("long")
            .alias("n_accepted"),
        )
        out.count()
        lap("manifest rollup count")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
