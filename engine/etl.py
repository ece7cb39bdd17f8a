"""ETL pipeline operators — the reference's own job shape (SURVEY §0.1:
extract a source export, validate/clean fields, deduplicate, upsert into a
keyed datastore table), re-expressed as Spark batch operators.

- ``etl_validate_quarantine``: schema/domain validation that routes failing
  rows to a quarantine output instead of failing the job (the marshmallow-
  style field-validation step of classic ETL frameworks). Emitted here as
  one DataFrame with a ``violations`` column (empty array = clean) so the
  full pipeline stays one pass; callers split with a filter.
- ``etl_clean_coerce``: tolerant type coercion — try_cast semantics over a
  deliberately dirtied string column, ANSI-safe on both engines.
- ``etl_upsert_keyed``: CKAN-DataStore-style upsert — existing table ∪ new
  batch, one row per primary key, newest wins — proven through an actual
  parquet read-modify-write round-trip, not just a dedup expression.

Scale notes (100 TB): validation and coercion are zero-shuffle projections;
the upsert is one hash shuffle on the key (WindowGroupLimit keeps per-key
state at 1 row). The parquet rewrite pattern is the local stand-in for a
MERGE INTO on a table format (Delta/Iceberg) — the operator boundary is the
same, only the sink changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from engine.registry import query
from engine.tables import load, sftag
from engine.tmpdirs import scratch_dir


@query(
    "etl_validate_quarantine",
    oracle="""
    SELECT c_custkey,
           coalesce(array_to_string(list_sort(list_filter([
             CASE WHEN c_acctbal < -1000 OR c_acctbal > 11000
                  THEN 'acctbal_range' END,
             CASE WHEN c_mktsegment NOT IN ('AUTOMOBILE','BUILDING','FURNITURE',
                                            'HOUSEHOLD','MACHINERY')
                  THEN 'bad_segment' END,
             CASE WHEN length(c_name) < 5 THEN 'short_name' END
           ], x -> x IS NOT NULL)), ','), '') AS violations,
           (c_acctbal >= -1000 AND c_acctbal <= 11000
            AND c_mktsegment IN ('AUTOMOBILE','BUILDING','FURNITURE',
                                 'HOUSEHOLD','MACHINERY')
            AND length(c_name) >= 5) AS is_valid
    FROM customer
    """,
)
def etl_validate_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field validation with quarantine routing: every row keeps a sorted,
    comma-joined list of rule violations plus an is_valid flag — one
    zero-shuffle pass; `filter(is_valid)` is the load stream,
    `filter(!is_valid)` the quarantine. Rules are declarative Column
    predicates, so adding one is a one-line change and Catalyst folds them
    into the same projection. The violation list is emitted as a string, not
    an array: the driver's canonicalizer sorts result columns with pandas,
    which cannot order array cells (scalar-columns-only output convention)."""
    c = load(spark, sf_dir, "customer")
    rules = [
        ("acctbal_range", (F.col("c_acctbal") < -1000) | (F.col("c_acctbal") > 11000)),
        (
            "bad_segment",
            ~F.col("c_mktsegment").isin(
                "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"
            ),
        ),
        ("short_name", F.length("c_name") < 5),
    ]
    viol = F.array_sort(
        F.filter(
            F.array(*[F.when(cond, F.lit(name)) for name, cond in rules]),
            lambda x: x.isNotNull(),
        )
    )
    return c.select(
        "c_custkey",
        F.array_join(viol, ",").alias("violations"),
        (F.size(viol) == 0).alias("is_valid"),
    )


@query(
    "etl_clean_coerce",
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           TRY_CAST('not a number' AS DOUBLE) AS always_null,
           coalesce(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT), -1)
             AS k_defaulted
    FROM events
    """,
)
def etl_clean_coerce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerant coercion: try_cast turns malformed values into NULL instead
    of failing the job under ANSI mode, with an explicit default — the
    clean-step contract of a pipeline that must never abort mid-load."""
    e = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("bigint")
    return e.select(
        "event_id",
        k.alias("k_int"),
        F.lit("not a number").try_cast("double").alias("always_null"),
        F.coalesce(k, F.lit(-1)).alias("k_defaulted"),
    )


@query(
    "etl_upsert_keyed",
    oracle="""
    WITH unioned AS (
      SELECT user_id, event_type, event_id, ts, value, 0 AS batch
      FROM events WHERE event_id % 2 = 0
      UNION ALL
      SELECT user_id, event_type, event_id, ts, value + 1000, 1
      FROM events WHERE event_id % 3 = 0)
    SELECT user_id, event_type, event_id, ts, round(value, 2) AS value
    FROM unioned
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY batch DESC, ts DESC, event_id DESC) = 1
    """,
)
def etl_upsert_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed upsert through a real parquet round-trip: an 'existing' table
    (even event_ids) is written out, then a 'new batch' (every third event,
    values shifted) is merged — newest batch wins per (user_id, event_type),
    ties broken by ts then event_id. This is the reference's DataStore
    upsert re-expressed: union + window-dedup + atomic rewrite.

    100 TB: same operator over Delta/Iceberg becomes MERGE INTO with file
    pruning on the key; the union+window plan here is the engine-agnostic
    fallback and costs exactly one shuffle."""
    e = load(spark, sf_dir, "events")
    path = scratch_dir(prefix=f"sg-upsert-events-{sftag(sf_dir)}-")
    existing = e.filter(F.col("event_id") % 2 == 0).withColumn("batch", F.lit(0))
    existing.write.mode("overwrite").parquet(path)
    new_batch = (
        e.filter(F.col("event_id") % 3 == 0)
        .withColumn("value", F.col("value") + 1000)
        .withColumn("batch", F.lit(1))
    )
    unioned = spark.read.parquet(path).unionByName(new_batch)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("batch").desc(), F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        unioned.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            "ts",
            F.round("value", 2).alias("value"),
        )
    )


@query(
    "etl_scd2_intervals",
    oracle="""
    SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
             AS is_current
    FROM events
    WHERE user_id < 40
    """,
)
def etl_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2: turn a change-event log into
    validity intervals — valid_from = event ts, valid_to = next event's ts
    (NULL ⇒ current row). One window per user; the (ts, event_id) tie-break
    makes simultaneous events deterministic. At 100 TB this is a single
    shuffle on user_id and the standard way to build point-in-time joinable
    dimension snapshots from a CDC feed."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


@query(
    "etl_sessionize_path",
    oracle="""
    SELECT user_id,
           array_to_string(list(event_type ORDER BY ts, event_id), '->') AS path,
           count(*) AS n_events
    FROM events
    WHERE user_id < 40
    GROUP BY user_id
    """,
)
def etl_sessionize_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event journey ('scan->join->agg' path strings) — the
    clickstream/funnel primitive. Spark has no ORDER BY inside collect_list,
    so determinism comes from collecting (ts, event_id, type) structs and
    array_sort-ing them (struct order = field order = the sort key) before
    projecting the type — same result as DuckDB's ordered list aggregate.
    One shuffle on user_id; per-user arrays stay in memory, so at 100 TB
    bound the group size (sessionize first, or cap with slice)."""
    e = load(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    sorted_structs = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    return e.groupBy("user_id").agg(
        F.array_join(
            F.transform(sorted_structs, lambda x: x["event_type"]), "->"
        ).alias("path"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "etl_merge_cdc",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, round(o_totalprice, 2) AS price
      FROM orders WHERE o_orderkey < 1000),
    changes AS (
      SELECT k, CASE WHEN k % 3 = 0 THEN 'D' ELSE 'U' END AS op,
             round(price + 100, 2) AS new_price
      FROM base WHERE k % 3 < 2
      UNION ALL
      SELECT k + 1000000, 'I', 50.0 FROM base WHERE k % 3 = 2)
    SELECT coalesce(c.k, b.k) AS k,
           CASE WHEN c.op = 'U' OR c.op = 'I' THEN c.new_price
                ELSE b.price END AS price,
           coalesce(c.op, '=') AS last_op
    FROM base b FULL OUTER JOIN changes c ON b.k = c.k
    WHERE c.op IS NULL OR c.op <> 'D'
    """,
)
def etl_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style CDC apply: a change batch of inserts/updates/deletes
    full-outer-joined onto the base snapshot — U replaces the value, I adds
    the row, D drops it, untouched rows pass through flagged '='. This is
    the engine-level semantics under every MERGE INTO / upsert-table
    implementation; etl_upsert_keyed is the newest-wins special case. One
    shuffle on the merge key at any scale; the change batch is typically
    small enough to broadcast."""
    base = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 1000)
        .select(F.col("o_orderkey").alias("k"), F.round("o_totalprice", 2).alias("price"))
    )
    upd = base.filter(F.col("k") % 3 < 2).select(
        "k",
        F.when(F.col("k") % 3 == 0, "D").otherwise("U").alias("op"),
        F.round(F.col("price") + 100, 2).alias("new_price"),
    )
    ins = base.filter(F.col("k") % 3 == 2).select(
        (F.col("k") + 1000000).alias("k"), F.lit("I").alias("op"),
        F.lit(50.0).alias("new_price"),
    )
    changes = upd.unionByName(ins)
    merged = base.alias("b").join(changes.alias("c"), "k", "full_outer")
    return (
        merged.filter(F.col("c.op").isNull() | (F.col("c.op") != "D"))
        .select(
            "k",
            F.when(F.col("c.op").isin("U", "I"), F.col("c.new_price"))
            .otherwise(F.col("b.price"))
            .alias("price"),
            F.coalesce(F.col("c.op"), F.lit("=")).alias("last_op"),
        )
    )
