"""One-off probe: is the benign aging creep per-increment PATH overhead
(listing/planning per artifact root) rather than data volume or per-file
count? Build the index once, time refresh warm, append 15 EMPTY
increments (zero rows — artifact content unchanged), time refresh again.
Any delta is pure increment-count overhead."""

import shutil
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"


def main() -> int:
    from pyspark.sql import functions as F

    import engine.pipeline6 as p6
    from engine.session import get_spark
    from engine.tables import load

    spark = get_spark()
    d = load(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    m5 = F.col("doc_id") % 5
    old, batch = d.filter(m5 > 0), d.filter(m5 == 0)

    tdir = tempfile.mkdtemp(prefix="sg-probe-")
    base = f"{tdir}/idx"
    p6.build_refresh_index(spark, old, base)
    empty = batch.filter(F.lit(False))

    def time_refresh(tag: str, n: int = 3) -> None:
        for i in range(n):
            t0 = time.perf_counter()
            p6.refresh_against_index(spark, batch, base).collect()
            print(f"{tag} run {i}: {time.perf_counter() - t0:.2f} s", flush=True)

    time_refresh("0 increments")
    for _ in range(15):
        p6.append_to_refresh_index(spark, empty, base, auto_compact_after=None)
    time_refresh("15 empty increments")
    shutil.rmtree(tdir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
