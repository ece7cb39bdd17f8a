"""Refresh-cost rehearsal for pipeline_incremental_refresh (r07): hold the
ACCEPTED corpus fixed (sf0.1's old split, index built once) and scale only
the ARRIVING batch — the exponent that matters for an incremental system
is cost vs batch size, not corpus size.

Batch replication is key-shifted (doc_id + i*1M) but text-identical, so a
replicated batch is deliberately clone-dense: every clone group collides
in all 16 bands (a recrawl-of-a-mirror shape), which is the adversarial
case for the within-batch gate and exercises the >100k-pair distributed
components fallback at high replication.

exponent = log(t_Rx / t_1x) / log(R); refresh-only time (build excluded).

Usage: python scripts/refresh_rehearsal.py [replication ...]  (default 1 5 25)
       python scripts/refresh_rehearsal.py --aging [n_batches]            (default 16)
       python scripts/refresh_rehearsal.py --aging-raw [n_batches]        (default 16)
       python scripts/refresh_rehearsal.py --aging-distinct [n_batches]   (default 16)
       python scripts/refresh_rehearsal.py --aging-survivors [n_batches]  (default 16)

--aging / --aging-raw / --aging-distinct drive the full production loop:
build once, then n sequential generations of refresh(batch_k) ->
append(batch_k) with a fresh key-shifted batch each step, timing each
refresh — the latency-vs-increment-count curve that decides the
compaction bound. --aging-raw disables append's auto-compaction (the
unmanaged creep curve); --aging keeps the default policy (auto-compact
every _AUTO_COMPACT_INCREMENTS), whose curve should stay in a flat
band. Both end with an explicit compact_refresh_index and one
post-compaction refresh to show the restored cost. In both, batches are
key-shifted but texts REPEAT across generations, so every append piles
the same band buckets higher — the adversarial shape for the
per-increment cap. --aging-distinct is the benign control: compaction
off AND every word of each generation's texts hash-scrambled
per-generation (every char-5-gram shingle differs), so appended band
rows land in fresh buckets — if the creep is really cap×#increments
bucket fan-out, this curve stays ~flat without compaction (any residual
slope is the stored-artifact scan, linear in corpus size).
--aging-survivors is the PRODUCTION loop: compaction on, and each
generation appends only the rows refresh_decisions marks accepted —
after generation 1 every repeat text is an exact dup of an appended
survivor and drops at gate 1, so appends shrink to ~nothing and the
curve should sit flat at the generation-1 level; the other modes'
raw-batch appends are the deliberate misuse ceiling.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"


def aging(
    n_batches: int,
    auto_compact: bool,
    distinct_texts: bool = False,
    survivors_only: bool = False,
) -> int:
    from pyspark.sql import functions as F

    import engine.pipeline6 as p6
    from engine.session import get_spark
    from engine.tables import load

    spark = get_spark(
        "sg-refresh-aging", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    d = load(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    is_new = F.col("doc_id") % 5 == 0
    base = tempfile.mkdtemp(prefix="sg-refresh-aging-idx-")
    t0 = time.monotonic()
    p6.build_refresh_index(spark, d.filter(~is_new), base)
    print(f"index build (once, {SF_DIR} old split): {time.monotonic() - t0:.2f} s")

    # one materialized template batch; each generation re-reads it with a
    # distinct key shift and lands in its own parquet dir (a real arriving
    # batch is a file, not a plan — same rationale as the batch-axis mode).
    tdir = tempfile.mkdtemp(prefix="sg-aging-batches-")
    d.filter(is_new).write.parquet(f"{tdir}/template")
    template = spark.read.parquet(f"{tdir}/template")

    def make_batch(k: int):
        path = f"{tdir}/b{k}"
        b = template.withColumn("doc_id", F.col("doc_id") + k * 1_000_000)
        if distinct_texts:
            # Scramble EVERY word with a per-generation hash (lengths
            # preserved): every 5-gram char shingle differs across
            # generations, so appended band rows land in fresh buckets.
            # (A first attempt appended a short per-generation tag —
            # that leaves ~all shingles intact, signatures ~unchanged,
            # and the "control" was really a near-clone adversarial run:
            # its creep matched --aging-raw. See SCALE.md r08.)
            b = b.withColumn(
                "text",
                F.expr(
                    "array_join(transform(split(text, ' '), w ->"
                    f" substring(sha2(concat(w, 'g{k:04d}'), 256), 1,"
                    " greatest(length(w), 1))), ' ')"
                ),
            )
        b.write.parquet(path)
        return spark.read.parquet(path)

    # JVM/codepath warmup (not appended, not timed in the table)
    p6.refresh_against_index(spark, template, base).count()

    # survivors mode appends a third cell per row, so its header needs a
    # third column or the pasted markdown table renders malformed
    if survivors_only:
        print("| appended increments | refresh s | accepted |")
        print("|---|---|---|")
    else:
        print("| appended increments | refresh s |")
        print("|---|---|")
    times: list[float] = []
    for k in range(1, n_batches + 1):
        batch = make_batch(k)
        spark.catalog.clearCache()
        gen = p6._current_gen(base)
        n_inc = len(p6._increments(gen)) if gen else 0
        t0 = time.monotonic()
        p6.refresh_against_index(spark, batch, base).count()
        times.append(time.monotonic() - t0)
        to_append = batch
        n_acc = ""
        if survivors_only:
            # untimed second pass: the production ingestor appends the
            # accepted rows, not the raw batch
            acc = p6.refresh_decisions(spark, batch, base).filter(
                F.col("decision") == "accepted"
            )
            to_append = batch.join(acc.select("doc_id"), "doc_id", "left_semi")
            n_acc = f" {to_append.count()} |"
        print(f"| {n_inc} | {times[-1]:.2f} |{n_acc}", flush=True)
        p6.append_to_refresh_index(
            spark,
            to_append,
            base,
            auto_compact_after=p6._AUTO_COMPACT_INCREMENTS if auto_compact else None,
        )
        shutil.rmtree(f"{tdir}/b{k}", ignore_errors=True)

    n_folded = len(p6._increments(p6._current_gen(base)))
    t0 = time.monotonic()
    p6.compact_refresh_index(spark, base)
    t_compact = time.monotonic() - t0
    batch = make_batch(n_batches + 1)
    spark.catalog.clearCache()
    t0 = time.monotonic()
    p6.refresh_against_index(spark, batch, base).count()
    t_post = time.monotonic() - t0
    print(f"compact: {t_compact:.2f} s; post-compaction refresh "
          f"({n_folded} folded increments): {t_post:.2f} s")
    shutil.rmtree(tdir, ignore_errors=True)
    shutil.rmtree(base, ignore_errors=True)
    return 0


def main() -> int:
    modes = ["--aging", "--aging-raw", "--aging-distinct", "--aging-survivors"]
    if sys.argv[1:2] in [[m] for m in modes]:
        return aging(
            int(sys.argv[2]) if len(sys.argv) > 2 else 16,
            auto_compact=sys.argv[1] in ("--aging", "--aging-survivors"),
            distinct_texts=sys.argv[1] == "--aging-distinct",
            survivors_only=sys.argv[1] == "--aging-survivors",
        )
    reps = [int(a) for a in sys.argv[1:]] or [1, 5, 25]
    from pyspark.sql import functions as F

    from engine.pipeline6 import build_refresh_index, refresh_against_index
    from engine.session import get_spark
    from engine.tables import load

    spark = get_spark(
        "sg-refresh-rehearsal", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    d = load(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    is_new = F.col("doc_id") % 5 == 0
    base = tempfile.mkdtemp(prefix="sg-refresh-rehearsal-idx-")
    t0 = time.monotonic()
    build_refresh_index(spark, d.filter(~is_new), base)
    print(f"index build (once, {SF_DIR} old split): {time.monotonic() - t0:.2f} s")

    batch1 = d.filter(is_new)
    times: dict[int, float] = {}
    print("| replication | batch docs | refresh s | exponent vs 1x |")
    print("|---|---|---|---|")
    for r in reps:
        parts = [batch1]
        for i in range(1, r):
            parts.append(batch1.withColumn("doc_id", F.col("doc_id") + i * 1_000_000))
        batch = parts[0]
        for p in parts[1:]:
            batch = batch.unionByName(p)
        # Materialize the batch as parquet and refresh from the READ: a
        # real arriving batch is a file, not an N-way union plan — at
        # 100× the union shape made every gate re-scan the corpus once
        # per branch (100 scans/execution, driver OOM), which measures
        # the synthetic plan, not the refresh.
        bdir = tempfile.mkdtemp(prefix=f"sg-refresh-batch-{r}x-")
        batch.write.mode("overwrite").parquet(f"{bdir}/batch.parquet")
        batch = spark.read.parquet(f"{bdir}/batch.parquet")
        n = batch.count()
        # Each replication level is a DISTINCT batch plan, so its
        # signature/band cache entries are dead weight once the level is
        # timed — clear between levels (the engine deliberately leaves
        # same-plan caches live for warm reuse; see refresh_against_index).
        spark.catalog.clearCache()
        # warm once (plan/code paths), then time
        refresh_against_index(spark, batch, base).count()
        t0 = time.monotonic()
        refresh_against_index(spark, batch, base).count()
        times[r] = time.monotonic() - t0
        exp = (
            math.log(times[r] / times[reps[0]]) / math.log(r / reps[0])
            if r != reps[0]
            else float("nan")
        )
        print(f"| {r}x | {n} | {times[r]:.2f} | {exp if exp == exp else '—'} |"
              if r == reps[0]
              else f"| {r}x | {n} | {times[r]:.2f} | {exp:.2f} |")
        # The materialized batch (up to GBs at 100×) is only needed until
        # its level is timed; leaking it would fill /tmp across repeated
        # rehearsals and fail later spill/checkpoint writes.
        shutil.rmtree(bdir, ignore_errors=True)
    shutil.rmtree(base, ignore_errors=True)  # ~100 MB sf0.1 index per run
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
