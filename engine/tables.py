"""Table loaders with pinned schemas for the ten-corpus tables.

Schemas are pinned as StructType constants (FIXTURES.md, verified against the
parquet footers) instead of trusting inference, because the DuckDB oracle
comparison is schema-sensitive. Timestamps in the corpus are naive
(isAdjustedToUTC=false) → Spark reads them as TIMESTAMP_NTZ; we keep NTZ
end-to-end so results are timezone-independent.

The events table is parquet timestamp[ns]; Spark's vectorized reader rejects
NANOS, so we read with spark.sql.legacy.parquet.nanosAsLong=true (set by
engine.session.tune) and convert int64 nanos -> timestamp_ntz at microsecond
precision. DuckDB's TIMESTAMP is also microseconds (it truncates the same ns
column on read), so both engines see identical values.

Scale note (100 TB): loaders are plain ``spark.read.parquet`` — column
pruning and predicate pushdown stay with Catalyst; no collect, no caching
policy imposed here. Partitioned/bucketed layouts would be declared at write
time by the sinks (engine.relational §2.A), not here.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine.session import session_memo, tune
from engine.tmpdirs import scratch_dir

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    # events: post-conversion schema (raw parquet has ts as int64 nanos)
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def sftag(sf_dir: str) -> str:
    """Filesystem/identifier-safe tag derived from sf_dir.

    Every side-effecting operator (temp CSV/JSON/ORC/parquet sinks, bucketed
    tables, streaming memory sinks) must scope its name with this tag:
    registry plan memoization is per-(session, sf_dir), so a FIXED path would
    let a second scale factor overwrite the bytes a first scale's memoized
    lazy plan still reads — the stale-scale hazard fixed for bucketed tables
    in round 1 and generalized in round 2 (ADVICE r01)."""
    return "".join(c if c.isalnum() else "_" for c in sf_dir.strip("/"))


# SQL twin of emb_dim() for the vector-family oracles: the corpus's modal
# embedding dimensionality (ties broken to the smaller dim). DuckDB scalar
# subquery; NULL (hence an all-false predicate) on an all-NULL/empty corpus,
# where the engine side is empty anyway.
VEC_DIM_SQL = (
    "(SELECT len(embedding) FROM embeddings WHERE embedding IS NOT NULL"
    " GROUP BY 1 ORDER BY count(*) DESC, len(embedding) LIMIT 1)"
)


def emb_dim(spark: SparkSession, sf_dir: str) -> "int | None":
    """Modal embedding dimensionality of the corpus (ties to the smaller
    dim) — ONE tiny columnar agg job per corpus file identity plus footer
    row count (corpus_memo), so a rehearsal that rewrites
    embeddings.parquet in place re-probes instead of filtering vectors()
    to a stale subspace; None on an all-NULL/empty corpus."""
    path = f"{sf_dir}/embeddings.parquet"

    def probe() -> "int | None":
        row = (
            load(spark, sf_dir, "embeddings")
            .filter(F.col("embedding").isNotNull())
            .groupBy(F.size("embedding").alias("d"))
            .count()
            .orderBy(F.col("count").desc(), F.col("d"))
            .first()
        )
        return None if row is None else int(row["d"])

    return corpus_memo(path, "emb_dim", probe, parquet_num_rows(path))


def vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings restricted to usable vectors — the vector-family contract
    (r12 NULLs, r13 ragged dims): vector math ignores NULL embeddings the
    way SQL aggregates ignore NULL scalars, and a WRONG-DIMENSION vector
    (failed/partial inference — the r13 ragged sweep crashed 10 keys on
    np.stack/reshape/element_at and even DuckDB's list_inner_product) is
    un-embeddable in the corpus's vector space, so it is excluded the same
    way: the vector table IS the modal-dim subspace. Keys under this
    contract carry `embedding IS NOT NULL AND len(embedding) = VEC_DIM_SQL`
    in their oracles. A no-op double filter on clean corpora; the size
    predicate is a plan literal (pushable) from the cached one-job probe."""
    e = load(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    d = emb_dim(spark, sf_dir)
    return e if d is None else e.filter(F.size("embedding") == d)


def lit_table(spark: SparkSession, rows: list, cols: list[str]) -> DataFrame:
    """Small literal lookup table (lexicons, profiles) as a pure-JVM VALUES
    relation.

    ``spark.createDataFrame(list)`` plans a ``Scan ExistingRDD`` over a
    Python-pickled RDD — every execution of the consuming query pays a
    Python-worker round-trip just to produce a dozen constant rows (~1 s/run
    measured on text_lang_id at sf0.1). A VALUES clause becomes a
    LocalRelation: constant-folded into the plan, zero Python at execution
    time, broadcastable as usual."""

    def q(v) -> str:
        if v is None:
            raise ValueError("lit_table: None values are not supported — "
                             "emit an explicit typed NULL column instead")
        if isinstance(v, str):
            # Spark SQL string literals treat backslash as an escape by
            # default — escape it BEFORE quote-doubling or any value
            # containing '\' produces a mangled literal.
            return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            if v != v or v in (float("inf"), float("-inf")):
                raise ValueError(f"lit_table: non-finite float {v!r} has no "
                                 "portable SQL literal — handle it upstream")
            return f"CAST({v!r} AS DOUBLE)"
        return f"CAST({v} AS BIGINT)"

    values = ", ".join("(" + ", ".join(q(v) for v in r) + ")" for r in rows)
    return spark.sql(f"SELECT * FROM (VALUES {values}) AS t({', '.join(cols)})")


def parquet_num_rows(path: str) -> int | None:
    """Footer-only row count for a parquet FILE or a directory of part
    files (Spark writes directories; the driver testdata is single files).
    Returns None when the path isn't footer-readable (non-parquet source)
    — callers treat that as 'cannot prove small' and take their scale
    path. Footers are O(KB) reads regardless of data size, so this is the
    cheap statistics probe behind adaptive operating points (LSH signature
    width, broadcast-vs-join verify gates)."""
    import glob

    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            parts = glob.glob(os.path.join(path, "*.parquet"))
            if not parts:
                return None
            return sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return None


# ---------------------------------------------------------------------------
# corpus memo: work derived only from a corpus file, done once per file
# identity
# ---------------------------------------------------------------------------

# (tag, realpath, *extra) -> (file identity, value). One live entry per key:
# a new identity replaces the old entry, so the store is bounded by the
# number of call sites × corpus files, whatever the process runs.
_MEMO: dict[tuple, tuple] = {}


def file_identity(path: str) -> "tuple | None":
    """(realpath, st_mtime_ns, st_size) of ``path``; None when it cannot
    be stat-ed. A rewrite in place changes it, so anything keyed on it
    misses on a regenerated corpus."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (os.path.realpath(path), st.st_mtime_ns, st.st_size)


def corpus_memo(path: str, tag: str, build: Callable, *extra):
    """``build()``, computed once per identity of the file at ``path``.
    ``extra`` adds key parts the identity does not cover (a column name,
    a footer row count)."""
    ident = file_identity(path)
    key = (tag, os.path.realpath(path), *extra)
    hit = _MEMO.get(key)
    if hit is None or hit[0] != ident:
        hit = _MEMO[key] = (ident, build())
    return hit[1]


def fixture_dir(
    path: str, tag: str, build: Callable[[str], None], valid: Callable[[str], bool]
) -> str:
    """A scratch directory filled by ``build(dir)`` from the file at
    ``path``, reused while that file is unchanged and ``valid(dir)`` holds.

    Directories come from scratch_dir, so the process-exit sweep removes
    them. Plans are lazy and may still read a directory after it stops
    being served, so:
    - an invalid directory (e.g. a tmp cleaner removed part of it) is
      dropped from the memo but not deleted;
    - a superseded directory (the source changed) is kept until the next
      change of source, then deleted — at most two directories per source;
    - a failed build deletes its new directory and re-raises."""
    ident = file_identity(path)
    key = (tag, os.path.realpath(path))
    hit = _MEMO.get(key)
    if hit is not None and hit[0] == ident and valid(hit[1][0]):
        return hit[1][0]
    d = scratch_dir(prefix=f"sg-{tag}-")
    try:
        build(d)
    except BaseException:
        shutil.rmtree(d, ignore_errors=True)
        raise
    kept = None
    if hit is not None:
        served, kept = hit[1]
        if hit[0] != ident:
            if kept is not None:
                shutil.rmtree(kept, ignore_errors=True)
            kept = served
    _MEMO[key] = (ident, (d, kept))
    return d


def replay_fixture(
    path: str, tag: str, base: Callable[[], DataFrame], preds: list[Column]
) -> str:
    """Replay source for a file-source stream: one ``batch{i}.parquet`` per
    predicate, holding ``base().filter(preds[i])``, with ascending mtimes
    so that ``maxFilesPerTrigger=1`` replays them in list order. Built once
    per identity of ``path``; valid only while every batch file exists."""

    def build(d: str) -> None:
        src = base()
        for i, pred in enumerate(preds):
            sub = f"{d}/_part{i}"
            src.filter(pred).coalesce(1).write.parquet(sub)
            name = next(f for f in os.listdir(sub) if f.endswith(".parquet"))
            dest = f"{d}/batch{i}.parquet"
            os.rename(f"{sub}/{name}", dest)
            shutil.rmtree(sub)
            os.utime(dest, (1_000_000 + i * 1000,) * 2)

    def valid(d: str) -> bool:
        return all(os.path.isfile(f"{d}/batch{i}.parquet") for i in range(len(preds)))

    return fixture_dir(path, tag, build, valid)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table with its pinned schema.

    The returned DataFrame is a lazy, immutable logical plan — safe to cache
    and share across queries in the same session. Caching skips the repeated
    footer read + analysis round-trips that otherwise dominate sub-second
    queries (no data is pinned; execution stays streaming)."""
    return session_memo(
        spark, lambda: _read(spark, sf_dir, name), "table", sf_dir, name
    )


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        # The raw ts physical type has varied across corpus generations:
        # int64 nanos (needs timestamp_micros(ts div 1000); `div` is integer
        # division — a float divide would lose precision, ~1.7e18 ns > 2^53)
        # vs native parquet timestamp[us] (plain cast). Detect from the
        # footer-derived dtype so either corpus loads to the same pinned
        # timestamp_ntz schema.
        raw = spark.read.parquet(path)
        if dict(raw.dtypes).get("ts") == "bigint":
            ts = F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        else:
            ts = F.col("ts").cast("timestamp_ntz")
        return raw.withColumn("ts", ts).select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
    return spark.read.schema(SCHEMAS[name]).parquet(path)


# ---------------------------------------------------------------------------
# exact-dup collapse shared machinery
# ---------------------------------------------------------------------------

def all_rows_distinct(spark: SparkSession, path: str, df: DataFrame, col: str) -> bool:
    """True iff every row of `df` has a distinct `col` value, proven by
    footer rows == countDistinct(xxhash64(col)). False when unprovable
    (no readable footer): callers route to their collapse path, whose
    grouping key is the full column value — a hash collision or missing
    footer only costs work, never correctness (collisions UNDER-count).
    The probe is a full scan, so it runs once per corpus file identity
    (corpus_memo) rather than on every invocation of the collapse-family
    keys (sim_ann_ivf, dedup_semdedup, emb_kmeans_lloyd,
    dedup_ngram_jaccard)."""
    n = parquet_num_rows(path)
    if n is None:
        return False

    def probe() -> bool:
        nd = (
            df.select(F.xxhash64(col).alias("h"))
            .agg(F.count_distinct("h"))
            .first()[0]
        )
        return nd == n

    return corpus_memo(path, "rows_distinct", probe, int(n), str(col))


def swap_persist(spark: SparkSession, df: DataFrame, tag: str) -> DataFrame:
    """Persist ``df`` MEMORY_AND_DISK as the session's relation for ``tag``.

    The returned plans read their relation lazily, so the persist cannot be
    scoped in the query function. Instead the relation held under the same
    tag is unpersisted first, so each tag pins at most one cached relation
    per live session."""
    return session_memo(
        spark,
        lambda: df.persist(StorageLevel.MEMORY_AND_DISK),
        "persist",
        tag,
        valid=df,
        release=lambda old: old.unpersist(blocking=False),
    )
