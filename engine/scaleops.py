"""Round-4 batch 17: the scale-path variants the earlier keys document but
don't execute, plus sequence/window analytics (SURVEY §2 extensions; the
reference at /root/reference is an empty directory — SURVEY §2 is the
operative spec).

- ``join_range_binned``: the bucketed band-join rewrite that
  ``join_theta_range``'s docstring prescribes for 100 TB — executed, not
  just documented: O(n+m) equi-join on bucket ids + residual predicate,
  replacing the BroadcastNestedLoopJoin's O(n·m) compare space.
- ``agg_sketch_intersection``: HLL inclusion-exclusion — |A∩B| from three
  mergeable sketches, never materializing the intersection; self-validated
  against the exact count.
- ``win_pattern_match``: MATCH_RECOGNIZE-style funnel detection as an
  ordered per-key sequence string + regex — the sequence-analytics shape
  Spark lacks a native operator for.
- ``agg_weighted_percentile``: weighted median via cumulative-weight
  window — the estimator exact/approx percentile keys can't express.
- ``emb_binary_quantize``: 1-bit embedding quantization into two int64
  words + Hamming distance — the 32× storage lever below int8.
- ``etl_compact_small_files``: the small-files compaction job every
  long-running ingest needs; content-identity is the oracle.
- ``win_gaps_islands``: gaps-and-islands consecutive-activity streaks via
  the row_number-offset grouping trick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load, sftag
from engine.tmpdirs import scratch_dir


@query(
    "join_range_binned",
    oracle="""
    SELECT s_suppkey, c_custkey, s_acctbal, c_acctbal
    FROM supplier JOIN customer
      ON c_acctbal BETWEEN s_acctbal - 10 AND s_acctbal + 10
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join executed as a bucketed EQUI-join: bucket both acctbal
    domains at the band width (10), explode each supplier row to its 3
    candidate buckets (floor((s±10)/10) spans at most b−1..b+1), hash-join
    on bucket id, then apply the exact BETWEEN as a residual filter. Same
    result set as join_theta_range's BroadcastNestedLoopJoin, but the
    compare space is O(rows × 3) instead of O(n·m) — this IS the 100 TB
    rewrite that key's docstring prescribes; both sides hash-partition on
    the bucket id so neither needs to broadcast.

    100 TB: bucket width == band width bounds the fan-out at 3 regardless
    of data; skewed buckets (acctbal heaping) salt like any equi-join key.
    The residual keeps correctness exact — binning only prunes."""
    s = load(spark, sf_dir, "supplier")
    c = load(spark, sf_dir, "customer")
    band = 10
    sb = s.select(
        "s_suppkey",
        "s_acctbal",
        F.explode(
            F.array(
                *[
                    (F.floor(F.col("s_acctbal") / band) + d).cast("long")
                    for d in (-1, 0, 1)
                ]
            )
        ).alias("bucket"),
    )
    # NO dropDuplicates here: the 3 exploded buckets (b-1, b, b+1) are
    # distinct by construction per row, and keying a dedupe on
    # (s_suppkey, bucket) silently merged COLLIDING supplier ids carrying
    # different acctbals (r14 dup-id axis), dropping their join rows.
    cb = c.select(
        "c_custkey",
        "c_acctbal",
        F.floor(F.col("c_acctbal") / band).cast("long").alias("bucket"),
    )
    return (
        sb.join(cb, "bucket")
        .filter(
            F.col("c_acctbal").between(
                F.col("s_acctbal") - band, F.col("s_acctbal") + band
            )
        )
        .select("s_suppkey", "c_custkey", "s_acctbal", "c_acctbal")
    )


@query(
    "agg_sketch_intersection",
    # Self-validating FULL: the HLL inclusion-exclusion estimate is a
    # deterministic function of the two key sets; the oracle asserts the
    # exact set sizes plus the verified tolerance flag.
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate < DATE '1997-01-01'),
         b AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= DATE '1997-01-01')
    SELECT (SELECT count(*) FROM a) AS exact_a,
           (SELECT count(*) FROM b) AS exact_b,
           (SELECT count(*) FROM a WHERE o_custkey IN (SELECT o_custkey FROM b)) AS exact_inter,
           TRUE AS inter_ok
    """,
)
def agg_sketch_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-intersection cardinality WITHOUT materializing the intersection:
    |A∩B| ≈ est(A) + est(B) − est(A∪B) over three mergeable HLL sketches
    (customers active before/after 1997). Inclusion-exclusion compounds the
    per-sketch error, so the self-check tolerance is 10% + 5 absolute —
    measured error here is far inside it; the flag is deterministic.

    100 TB: the reason to do this with sketches — A and B can live in
    different tables/days/regions; each side keeps a KB-size sketch and
    ANY pairwise overlap question (retention, audience intersection,
    contamination across shards) is sketch arithmetic, never a re-scan or
    a distinct-join. The exact sides here exist only to validate."""
    o = load(spark, sf_dir, "orders")
    cut = "1997-01-01"
    a = o.filter(F.col("o_orderdate") < cut)
    b = o.filter(F.col("o_orderdate") >= cut)
    sk = (
        a.agg(F.expr("hll_sketch_agg(o_custkey)").alias("ska"))
        .crossJoin(b.agg(F.expr("hll_sketch_agg(o_custkey)").alias("skb")))
        .select(
            F.expr("hll_sketch_estimate(ska)").alias("est_a"),
            F.expr("hll_sketch_estimate(skb)").alias("est_b"),
            F.expr("hll_sketch_estimate(hll_union(ska, skb))").alias("est_u"),
        )
        .select((F.col("est_a") + F.col("est_b") - F.col("est_u")).alias("est_inter"))
    )
    exact = (
        a.select("o_custkey")
        .distinct()
        .join(b.select("o_custkey").distinct(), "o_custkey", "left_semi")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
        .crossJoin(a.agg(F.count_distinct("o_custkey").alias("exact_a")))
        .crossJoin(b.agg(F.count_distinct("o_custkey").alias("exact_b")))
    )
    return exact.crossJoin(sk).select(
        "exact_a",
        "exact_b",
        "exact_inter",
        (
            F.abs(F.col("est_inter") - F.col("exact_inter"))
            <= 0.10 * F.col("exact_inter") + F.lit(5.0)
        ).alias("inter_ok"),
    )


@query(
    "win_pattern_match",
    oracle="""
    SELECT user_id, length(seq) AS n_events,
           regexp_matches(seq, 'v.*c.*p') AS funnel_matched
    FROM (
      SELECT user_id,
             string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id
    ) ORDER BY user_id
    """,
)
def win_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern detection (Spark has no native
    operator): per user, fold the time-ordered event stream into a
    one-letter-per-event string (view/click/purchase/signup/error have
    distinct initials) and regex-match the funnel pattern v.*c.*p — did a
    view EVER lead through a click to a purchase, in order. Ordering is
    pinned by (ts, event_id) inside array_sort on structs, the ordered-agg
    technique from agg_string_agg_ordered.

    100 TB: one shuffle on user_id; per-user state is the event-initial
    string (bytes per event, not rows). For unbounded users×events, cap the
    sequence with slice() before the regex — the funnel verdict is
    monotone under truncation from the match side. Compare
    etl_funnel_stages (min-ts join cascade): same question, aggregate
    answer; this shape answers ARBITRARY regex patterns (retries,
    error-recovery loops, A-before-B-without-C) without new joins."""
    e = load(spark, sf_dir, "events")
    seq = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("ts"),
                        F.col("event_id"),
                        F.substring("event_type", 1, 1).alias("c"),
                    )
                )
            ),
            lambda s: s["c"],
        ),
        "",
    )
    return (
        e.groupBy("user_id")
        .agg(seq.alias("seq"))
        .select(
            "user_id",
            F.length("seq").alias("n_events"),
            F.col("seq").rlike("v.*c.*p").alias("funnel_matched"),
        )
        .orderBy("user_id")
    )


@query(
    "agg_weighted_percentile",
    oracle="""
    WITH w AS (
      SELECT l_returnflag, l_extendedprice, l_quantity,
             sum(l_quantity) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING
             ) AS cw,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem
    )
    SELECT l_returnflag,
           round(min(l_extendedprice), 2) AS weighted_median,
           round(min(tw), 1) AS total_weight
    FROM w WHERE cw >= 0.5 * tw
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_weighted_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the smallest price at which the running quantity
    weight crosses half the group total — cumulative-weight window with a
    deterministic (price, orderkey, linenumber) order, then min() over the
    crossing rows. Neither percentile() nor percentile_approx() takes
    weights; this window shape is the standard rewrite.

    100 TB (r11 rewrite, r12 crossing-bucket prune, r13 skew guard):
    l_returnflag has THREE values, so the naive partitionBy(flag)
    window serializes the corpus into three single-threaded sorts (r11
    100× rehearsal: exponent 0.98). Level 1 is r12's fixed-width prune
    — 256 price buckets per flag, bucket-level cumsum over the 3×256
    partials, and only the CROSSING bucket's rows go any further
    (off_b < 0.5·tw ≤ off_b + bw_b, and min() ignores every later
    bucket's higher prices) — the full-corpus work stays three
    column-pruned scans with map-side partial aggs, no row shuffle.

    Order-theoretic simplification (r13): the oracle's (orderkey,
    linenumber) tie-break never changes the crossing PRICE — p* =
    min{p : W(≤p) ≥ 0.5·tw} where W is quantity mass by price (every
    strictly-lower-priced row precedes the p* block under ANY
    intra-price order, and the running sum crosses inside that block)
    — so the final window orders by price ALONE: same answer, narrower
    sort key, no orderkey/linenumber columns carried.

    Skew guard (r13): a price POINT-MASS under an outlier-stretched
    grid defeats the fixed-width level 1 — the rehearsal corpus put
    540,505 of 600,001 rows into the crossing bucket (a 0.9·n
    single-task sort). The guard reads the crossing bucket's row count
    from the ALREADY-persisted 768-row bucket relation (a bounded
    driver read, ≤|flags| rows, same class as the engine's other five
    bounded collects) and, only when the slice exceeds 4× its fair
    share + 4096, routes through level 2: consolidate the slice by
    price (groupBy(flag, price) — the hash agg's map-side combine
    collapses a point-mass BEFORE the shuffle), re-bucket the distinct
    prices with QUANTILE split points (a fixed grid would re-degenerate
    on a dense cluster of distinct prices; quantile buckets hold ~equal
    distinct-price counts for any distribution), and sort only the
    level-2 crossing sub-bucket. Post-fix rehearsal: max window task
    14 vs 540,505 on the skew corpus; the normal-corpus plan is
    bit-identical to r12's (the guard does not fire), so the healthy
    path pays only the two tiny driver reads. Bucket assignment at
    both levels is a pure monotone function of price, so bucket-major
    + within-bucket price order IS the global price order; quantities
    are integral (TPC-H 1..50), so every partial sum is exact in f64
    regardless of association. The level-2 sketch need not be
    deterministic: any monotone bucketing yields the same result.
    """
    from engine.tables import swap_persist

    li = load(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
        F.sum("l_quantity").alias("tw"),
    )
    step = (F.col("mx") - F.col("mn")) / F.lit(256.0)
    bkt = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("l_extendedprice") - F.col("mn")) / step), F.lit(255)
        )
    )
    rows = li.join(F.broadcast(stats), "l_returnflag").select(
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
        "tw",
        bkt.alias("bkt"),
    )
    bo = Window.partitionBy("l_returnflag").orderBy("bkt")
    # 3×256 rows; persisted because the crossing filter, the offset join
    # and the skew guard all read it — without the persist each reference
    # recomputes the full-corpus bucket aggregation (a whole extra scan).
    boff = swap_persist(
        spark,
        rows.groupBy("l_returnflag", "bkt")
        .agg(
            F.sum("l_quantity").alias("bw"),
            F.count(F.lit(1)).alias("bn"),
            F.first("tw").alias("tw"),
        )
        .select(
            "l_returnflag",
            "bkt",
            "bw",
            "bn",
            "tw",
            (
                F.sum("bw").over(bo.rowsBetween(Window.unboundedPreceding, 0))
                - F.col("bw")
            ).alias("off"),
        ),
        "wpctl_boff",
    )
    crossing = (
        boff.filter(F.col("off") + F.col("bw") >= 0.5 * F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.min("bkt").alias("bkt"))
        .join(
            boff.select("l_returnflag", "bkt", "off"),
            ["l_returnflag", "bkt"],
        )
    )
    # Skew guard: ONE bounded driver read over the persisted 768-row
    # bucket relation (min_by picks each flag's crossing-bucket row count
    # without a second pass; a single action keeps the two lineitem scan
    # stages free to overlap inside the main job) — never row-scaled.
    probe = (
        boff.groupBy("l_returnflag")
        .agg(
            F.expr(
                "min_by(bn, CASE WHEN off + bw >= 0.5 * tw THEN bkt END)"
            ).alias("cbn"),
            F.sum("bn").alias("nf"),
        )
        .agg(F.max("cbn").alias("mx_bn"), F.sum("nf").alias("total"))
        .first()
    )
    skewed = probe["mx_bn"] is not None and probe["mx_bn"] > 4 * (
        (probe["total"] or 0) // 256
    ) + 4096

    final_agg = lambda w: (  # noqa: E731 — shared tail of both paths
        w.filter(F.col("cw") >= 0.5 * F.col("tw"))
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_extendedprice"), 2).alias("weighted_median"),
            F.round(F.min("tw"), 1).alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )

    if not skewed:
        # Healthy path — r12's plan: sort the ~n/256 crossing slice.
        wspec = Window.partitionBy("l_returnflag", "bkt").orderBy(
            "l_extendedprice"
        )
        w = rows.join(
            F.broadcast(crossing.select("l_returnflag", "bkt", "off")),
            ["l_returnflag", "bkt"],
        ).select(
            "l_returnflag",
            "l_extendedprice",
            (
                F.col("off")
                + F.sum("l_quantity").over(
                    wspec.rowsBetween(Window.unboundedPreceding, 0)
                )
            ).alias("cw"),
            "tw",
        )
        return final_agg(w)

    # Level 2 (skewed slice): consolidate by price, quantile-sub-bucket.
    slicew = swap_persist(
        spark,
        rows.join(
            F.broadcast(crossing.select("l_returnflag", "bkt", "off")),
            ["l_returnflag", "bkt"],
        )
        .groupBy("l_returnflag", "l_extendedprice")
        .agg(
            F.sum("l_quantity").alias("pw"),
            F.first("tw").alias("tw"),
            F.first("off").alias("off"),
        ),
        "wpctl_slicew",
    )
    sstats = slicew.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", [i / 64.0 for i in range(1, 64)], 1000
        ).alias("splits")
    )
    bkt2 = F.aggregate(
        F.col("splits"),
        F.lit(0),
        lambda acc, s: acc
        + F.when(F.col("l_extendedprice") >= s, 1).otherwise(0),
    )
    rows2 = slicew.join(F.broadcast(sstats), "l_returnflag").select(
        "l_returnflag", "l_extendedprice", "pw", "tw", "off", bkt2.alias("b2")
    )
    bo2 = Window.partitionBy("l_returnflag").orderBy("b2")
    boff2 = (
        rows2.groupBy("l_returnflag", "b2")
        .agg(
            F.sum("pw").alias("bw2"),
            F.first("tw").alias("tw"),
            F.first("off").alias("off"),
        )
        .select(
            "l_returnflag",
            "b2",
            "bw2",
            "tw",
            (
                F.col("off")
                + F.sum("bw2").over(bo2.rowsBetween(Window.unboundedPreceding, 0))
                - F.col("bw2")
            ).alias("off2"),
        )
    )
    crossing2 = (
        boff2.filter(F.col("off2") + F.col("bw2") >= 0.5 * F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.min("b2").alias("b2"))
        .join(boff2.select("l_returnflag", "b2", "off2"), ["l_returnflag", "b2"])
    )
    wspec = Window.partitionBy("l_returnflag", "b2").orderBy("l_extendedprice")
    w = rows2.join(F.broadcast(crossing2), ["l_returnflag", "b2"]).select(
        "l_returnflag",
        "l_extendedprice",
        (
            F.col("off2")
            + F.sum("pw").over(wspec.rowsBetween(Window.unboundedPreceding, 0))
        ).alias("cw"),
        "tw",
    )
    return final_agg(w)


@query(
    "emb_binary_quantize",
    oracle="""
    WITH q AS (
      -- per-ROW list fold, not UNNEST + GROUP BY vec_id (r14 dup-id axis:
      -- grouping by a COLLIDING id merged two vectors' sign bits into one
      -- corrupted word); quantization is a per-vector-row map, ids ride
      -- along uninterpreted
      SELECT vec_id,
             CAST(list_sum(list_transform(range(1, 33), i ->
               CASE WHEN embedding[CAST(i AS INT)] > 0
                    THEN (2.0 ^ (i - 1))::BIGINT ELSE 0 END)) AS BIGINT) AS bits_lo,
             CAST(list_sum(list_transform(range(1, 33), i ->
               CASE WHEN embedding[CAST(i AS INT) + 32] > 0
                    THEN (2.0 ^ (i - 1))::BIGINT ELSE 0 END)) AS BIGINT) AS bits_hi
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = (SELECT len(embedding) FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1 ORDER BY count(*) DESC, len(embedding) LIMIT 1)
    ),
    ref AS (SELECT bits_lo AS rlo, bits_hi AS rhi FROM q
            ORDER BY vec_id, bits_lo, bits_hi LIMIT 1)
    SELECT vec_id, bits_lo, bits_hi,
           CAST(bit_count(xor(bits_lo, rlo)) + bit_count(xor(bits_hi, rhi)) AS INT) AS hamming_ref
    FROM q CROSS JOIN ref ORDER BY vec_id
    """,
)
def emb_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit embedding quantization: each 64-dim float vector becomes two
    int64 sign-bit words (dims 1-32 → bits_lo, 33-64 → bits_hi; two words
    sidestep the bit-63 sign ambiguity across engines), plus the Hamming
    distance to the lowest-id reference vector via XOR + bit_count. 32×
    smaller than float32 and Hamming ≈ angular distance on normalized
    vectors — the candidate-generation representation below int8
    (emb_scalar_quantize) and the matryoshka prefix (emb_matryoshka_truncate).

    100 TB: quantization is a map-only higher-order aggregate (no shuffle);
    Hamming re-ranking is two codegen'd ALU ops per comparison, so a
    billion-vector scan becomes memory-bandwidth-bound rather than
    FLOP-bound."""
    from engine.tables import vectors

    emb = vectors(spark, sf_dir)
    word = (
        "CAST(aggregate(sequence(1, 32), 0L, (a, i) -> a + IF("
        "element_at(embedding, CAST(i + {off} AS INT)) > 0,"
        " shiftleft(1L, CAST(i AS INT) - 1), 0L)) AS BIGINT)"
    )
    q = emb.select(
        "vec_id",
        F.expr(word.format(off=0)).alias("bits_lo"),
        F.expr(word.format(off=32)).alias("bits_hi"),
    )
    # deterministic under colliding ids (r14): the reference is the lowest
    # (vec_id, bits_lo, bits_hi) row, not "whichever row of the dup min-id
    # pair the scan surfaced first"
    ref = (
        q.orderBy("vec_id", "bits_lo", "bits_hi")
        .limit(1)
        .select(F.col("bits_lo").alias("rlo"), F.col("bits_hi").alias("rhi"))
    )
    return (
        q.crossJoin(F.broadcast(ref))
        .select(
            "vec_id",
            "bits_lo",
            "bits_hi",
            (
                F.bit_count(F.expr("bits_lo ^ rlo")) + F.bit_count(F.expr("bits_hi ^ rhi"))
            ).cast("int").alias("hamming_ref"),
        )
        .orderBy("vec_id")
    )


@query(
    "etl_compact_small_files",
    oracle="""
    SELECT date_trunc('month', o_orderdate) AS mo, count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def etl_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the maintenance job every long-running
    ingest needs: a fragmented copy of orders (32 shards, the shape a
    per-trigger streaming sink leaves behind) is rewritten as 4 range-
    clustered files (repartitionByRange on the date key, so each output
    file covers a contiguous date span and later date-filtered scans prune
    whole files via min/max). The oracle checks CONTENT identity against
    the original table — compaction must be a pure layout change; the
    32→4 file-count drop is asserted in tests/test_scaleops.py.

    100 TB: compaction cost is one read + one range shuffle + one write of
    the touched partition only — never the table; target file size
    (128-1024 MB) trades open() overhead against scan parallelism, and
    range clustering doubles as the sort-order contract for
    sink_sorted_clustered-style pruning."""
    frag_dir = scratch_dir(prefix=f"sg_compact_frag_{sftag(sf_dir)}_")
    comp_dir = scratch_dir(prefix=f"sg_compact_out_{sftag(sf_dir)}_")
    etl_compact_small_files._last_dirs = (frag_dir, comp_dir)  # for tests
    o = load(spark, sf_dir, "orders")
    o.repartition(32).write.mode("overwrite").parquet(frag_dir)
    frag = spark.read.parquet(frag_dir)
    frag.repartitionByRange(4, "o_orderdate").write.mode("overwrite").parquet(comp_dir)
    compacted = spark.read.parquet(comp_dir)
    return (
        compacted.groupBy(F.date_trunc("month", "o_orderdate").alias("mo"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("mo")
    )


@query(
    "win_gaps_islands",
    oracle="""
    WITH hrs AS (
      SELECT DISTINCT user_id, time_bucket(INTERVAL '1 hour', ts) AS hr
      FROM events
    ),
    isl AS (
      SELECT user_id, hr,
             hr - CAST(row_number() OVER (PARTITION BY user_id ORDER BY hr) AS BIGINT)
                  * INTERVAL '1 hour' AS grp
      FROM hrs
    ),
    streaks AS (
      SELECT user_id, count(*) AS len FROM isl GROUP BY user_id, grp
    )
    SELECT user_id, count(*) AS n_streaks, max(len) AS max_streak_hours,
           CAST(sum(len) AS BIGINT) AS active_hours
    FROM streaks GROUP BY user_id ORDER BY user_id
    """,
)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive active HOURS per user,
    via the classic row_number-offset trick — consecutive hours share
    (hour − rn·1h), so islands fall out of one groupBy on that derived key.
    No native Spark operator expresses 'consecutive runs'; this rewrite
    stays in two hash aggregations + one window.

    100 TB: everything partitions on user_id (one shuffle, reused by the
    window and both aggregations); per-user state is the distinct-hour
    list, bounded by the time horizon, not the event count. Compare
    stream_session_30m (gap-based sessions on raw ts) — islands quantize
    to the bucket grid first, which is what makes the offset arithmetic
    exact."""
    e = load(spark, sf_dir, "events")
    hrs = e.select(
        "user_id", F.date_trunc("hour", "ts").alias("hr")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("hr")
    isl = hrs.select(
        "user_id",
        "hr",
        (
            F.col("hr").cast("long")
            - F.row_number().over(w).cast("long") * 3600
        ).alias("grp"),
    )
    streaks = isl.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return (
        streaks.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_streaks"),
            F.max("len").alias("max_streak_hours"),
            F.sum("len").alias("active_hours"),
        )
        .orderBy("user_id")
    )
