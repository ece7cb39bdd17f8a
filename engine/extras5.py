"""Remaining API-surface corners (SURVEY §2 extensions).

- ``fn_explode_outer_structs``: generator functions with OUTER semantics —
  posexplode_outer over a derived array<struct> that is sometimes empty;
  the null-preserving row is the point (plain explode silently drops the
  parent row).
- ``join_null_safe_eq``: null-safe equality (<=> / eqNullSafe) as a JOIN
  key — NULL matches NULL, the semantic regular equi-joins can't express
  (their NULL = NULL is UNKNOWN ⇒ dropped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load


@query(
    "fn_explode_outer_structs",
    oracle="""
    WITH t AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_linenumber % 3 AS INT) AS alen, l_quantity
      FROM lineitem WHERE l_orderkey < 2000
    )
    SELECT t.l_orderkey, t.l_linenumber,
           CAST(u.pos - 1 AS INT) AS pos,
           CAST(u.idx AS INT) AS idx,
           u.val
    FROM t LEFT JOIN LATERAL (
      SELECT i AS idx, i * t.l_quantity AS val,
             row_number() OVER () AS pos
      FROM UNNEST(range(1, t.alen + 1)) AS g(i)
    ) u ON true
    ORDER BY l_orderkey, l_linenumber, pos
    """,
)
def fn_explode_outer_structs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator with OUTER semantics: posexplode_outer over a derived
    array<struct> whose length is l_linenumber % 3 — one third of the rows
    get an EMPTY array, and the _outer variant keeps those parent rows
    with null (pos, idx, val) where plain posexplode would silently drop
    them. That drop is the classic lateral-expansion data-loss bug; the
    oracle mirrors with LEFT JOIN LATERAL UNNEST.

    100 TB: generators are map-local (no shuffle); the row-count multiplier
    is the array length — bound it (slice) before exploding unbounded
    payloads, and prefer *_outer whenever the parent row must survive for
    downstream accounting."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    # slice(array(1,2), 1, alen), NOT sequence(1, alen): Spark's sequence
    # infers step -1 when start > stop, so sequence(1, 0) is [1, 0] — a
    # 2-element array where the empty array was intended.
    arr = F.transform(
        F.slice(F.array(F.lit(1), F.lit(2)), 1, F.col("l_linenumber") % 3),
        lambda i: F.struct(
            i.cast("int").alias("idx"),
            (i * F.col("l_quantity")).alias("val"),
        ),
    )
    d = li.select("l_orderkey", "l_linenumber", arr.alias("a"))
    return (
        d.select(
            "l_orderkey",
            "l_linenumber",
            F.posexplode_outer("a").alias("pos", "s"),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "pos",
            F.col("s.idx").alias("idx"),
            F.col("s.val").alias("val"),
        )
        .orderBy("l_orderkey", "l_linenumber", "pos")
    )


@query(
    "join_null_safe_eq",
    oracle="""
    WITH c AS (SELECT nullif(c_nationkey, 3) AS ck, count(*) AS nc
               FROM customer GROUP BY 1),
         s AS (SELECT nullif(s_nationkey, 3) AS sk, count(*) AS ns
               FROM supplier GROUP BY 1)
    SELECT c.ck AS nation_key, CAST(c.nc * s.ns AS BIGINT) AS n_pairs
    FROM c JOIN s ON c.ck IS NOT DISTINCT FROM s.sk
    ORDER BY nation_key NULLS FIRST
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / eqNullSafe): customer and supplier
    nation keys with nation 3 mapped to NULL — the null-safe join matches
    the NULL group to the NULL group (one extra result row), where a plain
    equi-join drops it (NULL = NULL is UNKNOWN). Pre-aggregated to
    per-key counts so the pair count is arithmetic, not enumeration.

    100 TB: <=> hash-partitions like any equi-key (NULL hashes to a
    bucket instead of being filtered), so the join stays a hash join —
    but all null-keyed rows land in ONE partition: a null-heavy corpus
    needs the same salting treatment as any skewed key
    (join_salted_skew)."""
    c = (
        load(spark, sf_dir, "customer")
        .groupBy(F.nullif(F.col("c_nationkey"), F.lit(3)).alias("ck"))
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    s = (
        load(spark, sf_dir, "supplier")
        .groupBy(F.nullif(F.col("s_nationkey"), F.lit(3)).alias("sk"))
        .agg(F.count(F.lit(1)).alias("ns"))
    )
    return (
        c.join(s, F.col("ck").eqNullSafe(F.col("sk")))
        .select(
            F.col("ck").alias("nation_key"),
            (F.col("nc") * F.col("ns")).alias("n_pairs"),
        )
        .orderBy(F.col("nation_key").asc_nulls_first())
    )
