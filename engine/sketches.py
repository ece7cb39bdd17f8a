"""Mergeable-sketch aggregates (r03): Datasketches HLL cardinality sketches
with a persisted round-trip, and approx_top_k frequent items.

SURVEY §2.D/I extensions (the reference at /root/reference is an empty
directory; SURVEY §2 is the operative spec). The sketch keys are the
100 TB cardinality answer the exact-NDV keys (agg_count_distinct,
etl_dq_profile) deliberately avoid: a sketch is a small mergeable state —
partial-aggregates combine map-side, persisted per-batch sketches merge
across days without re-reading history, and the union is associative, so
the 100 TB rollup is O(sketch bytes × partitions), never a re-scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load, sftag
from engine.tmpdirs import scratch_dir


@query(
    "agg_hll_sketch_merge",
    # FULL oracle (r04): DuckDB has no Datasketches-HLL twin, so the sketch
    # ESTIMATE can never hash-match — instead the Spark side emits the exact
    # distinct count plus a verified tolerance flag (|est−exact| ≤ 5%·exact
    # + 1; the sketch union is order-blind and deterministic, so the flag is
    # stable), and the oracle asserts TRUE with the exact counts. A merge or
    # estimate regression flips the flag and fails the driver hash check.
    oracle="""
    SELECT r_name, exact_customers, TRUE AS est_ok FROM (
      SELECT r_name, count(DISTINCT c_custkey) AS exact_customers
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name
      UNION ALL
      SELECT 'ALL', count(DISTINCT c_custkey) FROM customer
    ) ORDER BY r_name
    """,
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental distinct-customer counting with HLL sketches, proven
    through a persisted round-trip: (1) build one HLL sketch of c_custkey
    PER NATION and write the 25 sketch binaries to parquet — the stored
    per-shard state of an incremental pipeline; (2) read them back, join the
    broadcast nation dim, and ``hll_union_agg`` up to region level;
    (3) estimate; (4) self-validate each estimate against the exact distinct
    count (≤5% + 1; measured error at the default lgK=12 is ~1.6%, also
    unit-tested in tests/test_sketches.py). Output: (r_name,
    exact_customers, est_ok) + a global ALL row from merging the same
    stored sketches. The exact side exists only to validate; production use
    drops it (that is the point of the sketch).

    100 TB: this is THE pattern for daily-active/distinct-id metrics —
    per-partition sketches persist once per batch; any grouping rollup
    (nation→region→ALL here) is a union over kilobyte blobs. Compare
    agg_count_distinct (exact, full shuffle of the id domain every query)
    and agg_approx_distinct (one-shot HLL, no persisted mergeable state)."""
    c = load(spark, sf_dir, "customer")
    per_nation = c.groupBy("c_nationkey").agg(
        F.expr("hll_sketch_agg(c_custkey)").alias("sk")
    )
    path = scratch_dir(prefix=f"sg-hll-nation-{sftag(sf_dir)}-")
    per_nation.write.mode("overwrite").parquet(path)
    stored = spark.read.parquet(path)

    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    per_region = (
        stored.join(
            F.broadcast(nation), stored.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_customers")
        )
    )
    overall = stored.agg(
        F.lit("ALL").alias("r_name"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est_customers"),
    )
    est = per_region.unionByName(overall)
    cn = c.join(F.broadcast(nation), c.c_nationkey == nation.n_nationkey).join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    )
    exact = cn.groupBy("r_name").agg(
        F.count_distinct("c_custkey").alias("exact_customers")
    ).unionByName(
        c.agg(
            F.lit("ALL").alias("r_name"),
            F.count_distinct("c_custkey").alias("exact_customers"),
        )
    )
    return (
        est.join(exact, "r_name")
        .select(
            "r_name",
            "exact_customers",
            (
                F.abs(F.col("est_customers") - F.col("exact_customers"))
                <= 0.05 * F.col("exact_customers") + F.lit(1)
            ).alias("est_ok"),
        )
        .orderBy("r_name")
    )


@query(
    "agg_approx_top_k",
    oracle="""
    SELECT event_type AS item, count(*) AS cnt
    FROM events GROUP BY 1 ORDER BY cnt DESC, event_type LIMIT 3
    """,
)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items top-3 event types via ``approx_top_k`` — the
    space-saving sketch behind heavy-hitter dashboards. FULL-oracle by a
    domain argument: the tracked-item budget (10,000) exceeds the column's
    5-value domain, so the sketch degenerates to exact counts and must
    match plain GROUP BY/ORDER BY/LIMIT — and the corpus's per-type counts
    are tie-free at every SF (checked 0.001/0.01/0.1), so the cut is
    deterministic. The struct array is unpacked to scalar columns per the
    result convention.

    100 TB: approx_top_k is a partial-aggregable sketch (SpaceSaving-style);
    when the true domain exceeds the budget the counts become ±ε estimates
    but the shuffle stays O(budget) per partition instead of O(domain) —
    the graceful degradation exact heavy-hitters (agg_heavy_hitters) lacks."""
    e = load(spark, sf_dir, "events")
    topk = e.agg(F.expr("approx_top_k(event_type, 3)").alias("tk"))
    flat = topk.select(F.explode("tk").alias("s")).select(
        F.col("s.item").alias("item"), F.col("s.count").alias("cnt")
    )
    return flat.orderBy(F.col("cnt").desc(), "item")
