"""r15 probe: isolate the LSH candidate-generation subplan A/B.

OLD: capped_lsh_band_rows (window count cap) -> band self-join -> distinct.
NEW: lsh_self_candidates (groupBy collect_list + in-bucket combinations).

Both read the SAME persisted signature relation, interleaved 6x each in one
warm session, so the shingle pass and host noise cancel. Also cross-checks
the two candidate sets are identical.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

from pyspark import StorageLevel  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from engine.dedup import (  # noqa: E402
    capped_lsh_band_rows,
    lsh_band_rows,
    lsh_self_candidates,
    minhash_signatures,
)
from engine.session import get_spark, tune  # noqa: E402
from engine.tables import load  # noqa: E402


def main() -> int:
    spark = get_spark("pairgen-ab")
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)
    d = load(spark, SF, "documents")
    mins = minhash_signatures(d).persist(StorageLevel.MEMORY_AND_DISK)
    print("docs with sigs:", mins.count())

    def old_cand():
        sig = capped_lsh_band_rows(mins)
        return (
            sig.alias("x")
            .join(sig.alias("y"), ["band", "k1", "k2"])
            .filter(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(F.col("x.doc_id").alias("a_id"), F.col("y.doc_id").alias("b_id"))
            .distinct()
        )

    def new_cand():
        return lsh_self_candidates(lsh_band_rows(mins))

    no = old_cand().count()
    nn = new_cand().count()
    sym = old_cand().exceptAll(new_cand()).count() + new_cand().exceptAll(old_cand()).count()
    print(f"old={no} new={nn} symdiff={sym}")

    ts = {"old": [], "new": []}
    for i in range(6):
        for tag, f in (("old", old_cand), ("new", new_cand)):
            spark.sparkContext.setJobDescription(f"{tag}:{i}")
            t0 = time.perf_counter()
            f().count()
            ts[tag].append(round(time.perf_counter() - t0, 4))
    for tag, r in ts.items():
        tail = sorted(r[1:])
        print(f"{tag}: min={min(r):.3f} med_tail={tail[len(tail) // 2]:.3f} runs={r}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
