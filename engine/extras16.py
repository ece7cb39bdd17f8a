"""Extras batch 16 module (r05 continuation): spatial grid-binned
proximity join, golden-record survivorship merge, hour x weekday activity
heatmap, pairwise-cosine similarity histogram, and a bloom-filter parquet
sink with point-lookup pushdown.

SURVEY §2 families extended: §2.C (the spatial/range join family gains the
2-D grid-binning shape — the classic bound on quadratic proximity joins),
§2.D+§2.M (MDM survivorship: per-entity argmax/argmin merge rules), §2.D
(calendar heatmap with per-row share against a group total), §2.I
(similarity-distribution audit over embedding pairs), §2.A (parquet bloom
filters — the point-lookup file-skipping story).

Determinism discipline (SURVEY §5.3): point coordinates derive from pure
BIGINT LCG arithmetic (identical in both engines, no floats until the
final distance); distances and cosines round once at the end; every argmax
carries a unique-key tie-break; histogram bin edges computed on the
rounded value.
"""

from __future__ import annotations

from engine.tmpdirs import scratch_dir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import dot, load, sftag

# LCG mixers for synthetic 2-D coordinates: pure 64-bit integer arithmetic,
# bit-identical across engines (ANSI mode needs the explicit BIGINT casts).
_AX, _BX = 1103515245, 12345
_AY, _BY = 69069, 362437


def _coord_sql(key: str, a: int, b: int) -> str:
    return f"(CAST({a} AS BIGINT) * {key} + {b}) % 100000 / 1000.0"


def _coord_col(key: str, a: int, b: int):
    return (
        (F.lit(a).cast("long") * F.col(key) + F.lit(b).cast("long")) % 100000
    ) / F.lit(1000.0)


@query(
    "join_spatial_grid",
    oracle=f"""
    WITH cpt AS (
      SELECT c_custkey, {_coord_sql('c_custkey', _AX, _BX)} AS x,
             {_coord_sql('c_custkey', _AY, _BY)} AS y
      FROM customer
    ),
    spt AS (
      SELECT s_suppkey, {_coord_sql('s_suppkey', _AX, _BX)} AS x,
             {_coord_sql('s_suppkey', _AY, _BY)} AS y
      FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           round(sqrt((c.x - s.x) * (c.x - s.x)
                      + (c.y - s.y) * (c.y - s.y)), 4) AS dist
    FROM cpt c JOIN spt s
      ON sqrt((c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)) <= 2.0
    """,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D proximity join via grid binning: customers and suppliers get
    deterministic LCG coordinates in [0,100)², and the query finds every
    (customer, supplier) pair within Euclidean distance 2.0. The Spark
    plan snaps each point to a 5×5 grid cell, replicates the SMALL side
    (suppliers) into its 3×3 neighbor cells, equi-joins on cell id, and
    only then evaluates the exact distance — because the radius (2) is
    less than the cell size (5), every qualifying pair shares a
    neighbor-cell key, so the grid join is LOSSLESS vs the oracle's
    brute-force theta join.

    Plan note: the O(n·m) theta join becomes a hash equi-join whose
    candidate count is Σ_cell |customers(cell)| · |suppliers(3×3 ring)| —
    linear for data of bounded density. 9× replication happens on the
    supplier (dimension) side only. 100 TB: this is the standard
    geospatial bound (geohash/S2 cells); skewed cells (cities) get the
    same salting treatment as any hot join key."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        _coord_col("c_custkey", _AX, _BX).alias("x"),
        _coord_col("c_custkey", _AY, _BY).alias("y"),
    )
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _coord_col("s_suppkey", _AX, _BX).alias("x"),
        _coord_col("s_suppkey", _AY, _BY).alias("y"),
    )
    cell = 5.0
    c = c.withColumn("cx", F.floor(F.col("x") / cell)).withColumn(
        "cy", F.floor(F.col("y") / cell)
    )
    # Replicate each supplier into its 3x3 neighbor cells: any point within
    # r=2.0 < cell=5.0 of it must live in one of those cells.
    off = F.explode(
        F.expr("array(-1L, 0L, 1L)")
    )
    s9 = (
        s.withColumn("dx", off)
        .withColumn("dy", F.explode(F.expr("array(-1L, 0L, 1L)")))
        .select(
            "s_suppkey",
            "x",
            "y",
            (F.floor(F.col("x") / cell) + F.col("dx")).alias("cx"),
            (F.floor(F.col("y") / cell) + F.col("dy")).alias("cy"),
        )
    )
    dist = F.sqrt(
        (c["x"] - s9["x"]) * (c["x"] - s9["x"])
        + (c["y"] - s9["y"]) * (c["y"] - s9["y"])
    )
    return (
        c.join(s9, ["cx", "cy"])
        .filter(dist <= 2.0)
        .select("c_custkey", "s_suppkey", F.round(dist, 4).alias("dist"))
    )


@query(
    "etl_golden_record",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderstatus, o_orderpriority, o_orderdate,
             o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC)
               AS rn_latest
      FROM orders
    )
    SELECT r.o_custkey AS custkey,
           max(CASE WHEN rn_latest = 1 THEN o_orderstatus END) AS last_status,
           min(o_orderpriority) AS best_priority,
           min(o_orderdate) AS first_order,
           max(o_orderdate) AS last_order,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS lifetime_value
    FROM ranked r
    GROUP BY r.o_custkey
    """,
)
def etl_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship (MDM): collapse each customer's order
    history into one record by per-attribute merge rules — most-recent
    wins for status (tie-broken by order key), best-value wins for
    priority, min/max for the date range, additive for count and
    lifetime value. One groupBy computes every rule: recency argmax runs
    as max_by over a (date, key) struct so it needs no window or
    self-join.

    Plan note: single hash shuffle on the entity key; every rule is a
    partial-aggregable function (max_by merges by comparing its ordering
    struct), so map-side combine applies to all of them. 100 TB: this is
    THE entity-consolidation shape — one pass, no window state, skew
    handled by AQE like any hot-key aggregate."""
    o = load(spark, sf_dir, "orders")
    ordkey = F.struct(F.col("o_orderdate"), F.col("o_orderkey"))
    return (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max_by("o_orderstatus", ordkey).alias("last_status"),
            F.min("o_orderpriority").alias("best_priority"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("lifetime_value"),
        )
    )


@query(
    "agg_hour_dow_heatmap",
    oracle="""
    WITH cells AS (
      SELECT isodow(ts) - 1 AS dow, CAST(hour(ts) AS INT) AS hr,
             count(*) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT dow, hr, cnt,
           round(CAST(cnt AS DOUBLE)
                 / sum(cnt) OVER (PARTITION BY dow), 4) AS share_of_dow
    FROM cells
    """,
)
def agg_hour_dow_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: event counts per (weekday, hour) cell plus each
    cell's share of its weekday — the calendar-rhythm view every ops
    dashboard opens with. Weekday normalized to 0=Monday across engines
    (Spark weekday() ↔ DuckDB isodow − 1, the engine-neutral convention
    `fn_date_core` established).

    Plan note: the fact table collapses to ≤168 cells in one partially
    aggregated shuffle; the share window then runs over the tiny cell
    relation (7 partitions of ≤24 rows). Never window the raw events —
    aggregate first, window the aggregate. 100 TB: same two-stage shape;
    the cell relation stays 168 rows regardless of input volume."""
    e = load(spark, sf_dir, "events")
    cells = e.groupBy(
        F.weekday("ts").alias("dow"), F.hour("ts").cast("int").alias("hr")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("dow")
    return cells.withColumn(
        "share_of_dow",
        F.round(F.col("cnt").cast("double") / F.sum("cnt").over(w), 4),
    )


@query(
    "emb_cosine_histogram",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = (SELECT len(embedding) FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1 ORDER BY count(*) DESC, len(embedding) LIMIT 1)
    ),
    pairs AS (
      SELECT a.vec_id,
             round(list_dot_product(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 4) AS cos
      FROM v a JOIN v b ON b.vec_id = a.vec_id + 97
    )
    SELECT CAST(least(floor((cos + 1.0) / 0.2), 9) AS INT) AS bin,
           count(*) AS n,
           round(avg(cos), 4) AS mean_cos
    FROM pairs GROUP BY 1
    """,
)
def emb_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-distribution audit: cosine similarity over a
    deterministic 1-per-vector pair sample (each vector paired with
    vec_id + 97 where it exists), histogrammed into ten [-1,1) bins with
    per-bin counts and means. The corpus-health check run before any
    dedup threshold is chosen — it shows where the similarity mass sits.

    The pairing is an equi-join on a shifted key, NOT a cross join: the
    sample is linear in corpus size and needs one shuffle (or zero if
    both sides share partitioning on vec_id). Vectors are L2-normalized
    [DATA] so dot ≡ cosine; the dot runs JVM-side via zip_with+aggregate,
    rounded to 4 before binning so bin edges are engine-stable. 100 TB:
    the audit scales as O(n) pairs; widen the sample by adding more shift
    offsets, never by pairing all-vs-all."""
    from engine.tables import vectors

    e = vectors(spark, sf_dir)
    a = e.select(F.col("vec_id"), F.col("embedding").alias("ea"))
    b = e.select(
        (F.col("vec_id") - 97).alias("join_id"), F.col("embedding").alias("eb")
    )
    pairs = (
        a.join(b, a["vec_id"] == b["join_id"])
        .select(F.round(dot("ea", "eb"), 4).alias("cos"))
    )
    return (
        pairs.select(
            F.least(F.floor((F.col("cos") + 1.0) / 0.2), F.lit(9))
            .cast("int")
            .alias("bin"),
            "cos",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("cos"), 4).alias("mean_cos"),
        )
    )


@query(
    "sink_parquet_bloom_filter",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
    FROM orders
    WHERE o_custkey IN (7, 42, 99)
    """,
)
def sink_parquet_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filtered parquet sink: orders re-written with a parquet bloom
    filter + dictionary on o_custkey, then point-looked-up through the
    new files. Values come back identical to a direct scan (the oracle) —
    blooms are a file-skipping accelerator, never a semantics change.

    Plan note: the rewritten files carry per-row-group bloom filters, so
    a point IN-list scan skips every row group whose bloom rejects the
    probes — at 100 TB that turns a needle-in-haystack lookup from a full
    column scan into touching a handful of row groups. Blooms complement
    min/max stats (which only help when the file is SORTED by the probe
    column — pair with sink_sorted_clustered for the full story); the
    filter itself is also pushed (PushedFilters: In(o_custkey, ...))."""
    base = scratch_dir(prefix=f"sg-bloom-{sftag(sf_dir)}-")
    load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).write.mode("overwrite").option(
        "parquet.bloom.filter.enabled#o_custkey", "true"
    ).option(
        "parquet.bloom.filter.expected.ndv#o_custkey", "20000"
    ).parquet(base)
    back = spark.read.parquet(base)
    return back.filter(F.col("o_custkey").isin(7, 42, 99)).select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice"), 2).alias("price"),
    )
