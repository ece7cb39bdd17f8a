"""The Python family: every key whose work crosses the Python boundary as
user code — scalar UDFs (pickled, Arrow, pandas), grouped-map UDAFs
(applyInPandas, applyInArrow), mapInPandas, Python UDTFs (row and Arrow,
scalar and TABLE arguments) and the Spark 4 Python DataSource API (batch
reader, stream reader, writer). SURVEY.md §2.K. Each key's logic is also
expressible in plain SQL so the DuckDB oracle can hash-check it — the point
is proving the Python boundary, not the math.

Worker code is shipped by reference (docs/SCALE.md rule 2): every
function or class handed to Spark here is a plain module-level def/class,
passed as is or through functools.partial and wrapped at the call site
(``F.udf(_charged, ...)``, ``udtf(_Tokenize, ...)``). cloudpickle then
sends a module reference, the worker imports ``engine`` from the shipped
zip and installs its zip guard. A nested def, lambda or decorated
definition is shipped by value and never imports ``engine``; a
module-level decorator also runs at import time, where ``@F.udf`` needs a
live session. tests/test_corpus_memo.py::test_worker_code_pickles_by_reference
holds every engine module to this.

Scale notes (100 TB): the hot path of every other engine operator is
JVM-side; these Python boundaries exist for genuinely custom logic only.
Arrow batch size rides spark.sql.execution.arrow.maxRecordsPerBatch (10k
default); grouped UDAFs shuffle once on the group key and stream one Arrow
batch per group through a pooled Python worker — no driver involvement.
"""

from __future__ import annotations

import datetime as dt
import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.functions import udtf

from engine.registry import query
from engine.session import tune
from engine.tables import load, sftag
from engine.tmpdirs import scratch_dir


def _charged(price, disc, tax):
    return price * (1 - disc) * (1 + tax)


@query(
    "udf_python_scalar",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS charged
    FROM lineitem WHERE l_orderkey < 1000
    """,
)
def udf_python_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF computing the charged price.

    Deliberately the slow path (one Python call per row, pickled rows) — the
    pandas_udf twin below is the production shape; this key proves plain UDF
    registration/execution works."""
    li = load(spark, sf_dir, "lineitem")
    charged = F.udf(_charged, T.DoubleType())
    # Round JVM-side: Python round() is half-even, which diverges from
    # Spark/DuckDB half-up on .xx5 boundaries (SURVEY §5.3 rule 6).
    return li.filter(F.col("l_orderkey") < 1000).select(
        "l_orderkey",
        "l_linenumber",
        F.round(charged("l_extendedprice", "l_discount", "l_tax"), 2).alias("charged"),
    )


def _charged_batch(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
    return price * (1 - disc) * (1 + tax)


@query(
    "udf_pandas_vectorized",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 2) AS charged
    FROM lineitem WHERE l_orderkey < 1000
    """,
)
def udf_pandas_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same logic as udf_python_scalar through an Arrow-vectorized pandas_udf:
    one Python call per ~10k-row Arrow batch, numpy math inside — the 10-100×
    faster shape (SURVEY §2.K)."""
    li = load(spark, sf_dir, "lineitem")
    charged = F.pandas_udf(_charged_batch, T.DoubleType())
    return li.filter(F.col("l_orderkey") < 1000).select(
        "l_orderkey",
        "l_linenumber",
        F.round(charged("l_extendedprice", "l_discount", "l_tax"), 2).alias("charged"),
    )


def _discounted(p, d):
    return p * (1.0 - d)


@query(
    "udf_python_arrow_scalar",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
    FROM lineitem GROUP BY 1 ORDER BY 1
    """,
)
def udf_python_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python scalar UDF (udf(..., useArrow=True), Spark
    3.5+/4): the third point of the scalar-UDF matrix beside the pickled
    row-at-a-time udf_python_scalar and the pandas_udf batch variant —
    per-element Python, Arrow columnar transport, no pandas Series
    wrapper. Per-element Python math on IEEE doubles is bit-identical to
    the JVM expression, so the aggregate hash-matches the pure-SQL oracle.

    100 TB: still the slow path (per-element Python), but Arrow transport
    removes pickle overhead — the right choice when a scalar UDF is
    unavoidable and the logic resists vectorization."""
    disc = F.udf(_discounted, "double", useArrow=True)
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(
                F.sum(disc(F.col("l_extendedprice"), F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy("l_returnflag")
    )


def _slope(pdf: pd.DataFrame) -> pd.DataFrame:
    """Population least-squares slope of extendedprice on quantity."""
    x = pdf["l_quantity"].to_numpy()
    y = pdf["l_extendedprice"].to_numpy()
    xm, ym = x.mean(), y.mean()
    denom = ((x - xm) ** 2).mean()
    # Zero-variance group -> NULL, matching DuckDB/Spark regr_slope (round(None)
    # would raise TypeError and kill the whole query).
    slope = round(float(((x - xm) * (y - ym)).mean() / denom), 4) if denom else None
    return pd.DataFrame(
        {"l_returnflag": [pdf["l_returnflag"].iloc[0]], "slope": [slope]}
    )


@query(
    "udaf_pandas_group",
    oracle="""
    SELECT l_returnflag, round(regr_slope(l_extendedprice, l_quantity), 4) AS slope
    FROM lineitem GROUP BY l_returnflag
    """,
)
def udaf_pandas_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDAF: per-returnflag regression slope via applyInPandas.

    One shuffle on the group key, then each group arrives as a single pandas
    frame in a Python worker (Arrow transfer). Groups here are few and huge —
    at 100 TB this pattern needs bounded per-group size (the 3 returnflag
    groups would each be ~33 TB: real deployments sub-key or sample; noted
    per SURVEY §7.3 rule 8)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_quantity", "l_extendedprice")
        .groupBy("l_returnflag")
        .applyInPandas(_slope, "l_returnflag string, slope double")
    )


# No type hints: applyInArrow infers the eval type from the SIGNATURE, and
# annotated params break its inference (UserWarning + eval_type
# UnboundLocalError on Spark 4.1).
def _summarize(key, table):
    import pyarrow as pa
    import pyarrow.compute as pc

    price = table.column("l_extendedprice")
    disc = table.column("l_discount")
    return pa.Table.from_pydict(
        {
            "l_returnflag": [key[0]],
            "n": [table.num_rows],
            "sum_price": [round(pc.sum(price).as_py(), 2)],
            "min_disc": [round(pc.min(disc).as_py(), 2)],
            "max_disc": [round(pc.max(disc).as_py(), 2)],
        }
    )


@query(
    "udaf_arrow_group",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           round(sum(l_extendedprice), 2) AS sum_price,
           round(min(l_discount), 2) AS min_disc,
           round(max(l_discount), 2) AS max_disc
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def udaf_arrow_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDAF on the pyarrow-native path: ``applyInArrow``
    receives each group as a pyarrow.Table and aggregates with
    pyarrow.compute kernels — no pandas object materialization at all
    (compare udaf_pandas_group, the pandas sibling). Right shape for
    binary/nested columns pandas would box per-cell.

    100 TB: one shuffle on the group key; per-group work is a handful of
    SIMD compute kernels over Arrow buffers. Same caveat as every grouped
    map: a group must fit one executor — pre-aggregate partial results
    when keys are heavy (the built-in agg path does this for free, which
    is why applyInArrow is for logic builtins CAN'T express; the simple
    aggregates here exist to be oracle-checkable)."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )
    return (
        li.groupBy("l_returnflag")
        .applyInArrow(
            _summarize,
            "l_returnflag string, n long, sum_price double, "
            "min_disc double, max_disc double",
        )
        .orderBy("l_returnflag")
    )


def _count_tokens(batches):
    for pdf in batches:
        # .str accessors NULL-propagate (NaN), matching the oracle's
        # len(string_split(NULL)) = NULL; nullable Int64 keeps the Arrow
        # bigint schema
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_tok": pdf["text"].str.split(" ").str.len().astype("Int64"),
                "n_chars_measured": pdf["text"].str.len().astype("Int64"),
            }
        )


@query(
    "udf_mapinpandas_stream",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           CAST(length(text) AS BIGINT) AS n_chars_measured
    FROM documents
    """,
)
def udf_mapinpandas_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas iterator contract: the transform receives an ITERATOR
    of Arrow batches and yields an iterator back — results must be
    invariant to batch boundaries (asserted in tests by forcing 1-row
    batches). The per-row work here (token/char counts) is deliberately
    SQL-expressible so the oracle pins exactness; real uses are the
    decode/tokenize hooks where Python is unavoidable.

    Plan: zero shuffle — a map-partitions over the scan with Arrow
    transfer both ways; memory is bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch regardless of partition
    size (the reason the iterator form exists)."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        _count_tokens, schema="doc_id bigint, n_tok bigint, n_chars_measured bigint"
    )


class _Tokenize:
    def eval(self, doc_id: int, text: str):
        if text is None:  # NULL text: no tokens, like unnest(NULL)
            return
        for i, tok in enumerate(text.split(" ")):
            yield doc_id, tok, i + 1


@query(
    "udtf_python",
    oracle="""
    SELECT doc_id, unnest(string_split(text, ' ')) AS token,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM documents WHERE doc_id < 50
    """,
)
def udtf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): explode each doc into (doc_id, token, pos) rows
    via a LATERAL table function — the user-defined analogue of explode with
    ordinality."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.createOrReplaceTempView("sg_udtf_docs")
    spark.udtf.register(
        "sg_tokenize",
        udtf(_Tokenize, returnType="doc_id bigint, token string, pos int"),
    )
    return spark.sql(
        "SELECT t.doc_id, t.token, t.pos "
        "FROM sg_udtf_docs, LATERAL sg_tokenize(doc_id, text) t"
    )


class _Followups:
    def eval(self, o_orderkey: int, o_orderdate: dt.datetime):
        for d in range(3):
            yield o_orderkey, d, o_orderdate + dt.timedelta(days=d)


@query(
    "udtf_arrow_expand",
    oracle="""
    SELECT o_orderkey, CAST(d AS INT) AS day_offset,
           o_orderdate + to_days(CAST(d AS INT)) AS followup_date
    FROM orders, UNNEST(range(0, 3)) AS t(d)
    WHERE o_orderpriority = '1-URGENT' AND o_orderdate >= TIMESTAMP '1998-01-01'
    ORDER BY o_orderkey, day_offset
    """,
)
def udtf_arrow_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDTF (Spark 4 ``useArrow=True``): expand each
    urgent order into a 3-day follow-up schedule via a LATERAL table
    function. Same API as udtf_python but the UDTF I/O crosses the Python
    boundary as Arrow batches instead of pickled rows — the UDTF analogue
    of scan_python_datasource's Arrow reader (~10× on wide expansions).

    100 TB: the expansion factor (3×) happens INSIDE the Python worker per
    batch; only the already-filtered urgent rows reach Python (predicate
    stays JVM-side). The filtered input goes through spread_cpu
    (engine/textops.py) before the lateral join: per-row Python eval is
    the slow stage, and the selective filter collapses the small scan to
    one partition (sf0.1: 16k rows → 1 partition → one serial Python
    worker, ~4 s; spread across the session's cores the same eval runs
    ~0.6 s). The shuffle moves only the filtered keys — noise next to
    the eval it parallelizes — and spread_cpu's under-parallel gate
    makes it a no-op on a cluster scan that already has real splits.
    The 1998 slice bounds the input: per-row eval() dominates regardless
    of Arrow I/O, and the key demonstrates the path, not the volume."""
    from engine.textops import spread_cpu

    tag = sftag(sf_dir)
    spread_cpu(
        load(spark, sf_dir, "orders").filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= "1998-01-01")
        )
    ).createOrReplaceTempView(f"sg_urgent_{tag}")
    spark.udtf.register(
        "sg_followups",
        udtf(
            _Followups,
            returnType="o_orderkey bigint, day_offset int, followup_date timestamp_ntz",
            useArrow=True,
        ),
    )
    return spark.sql(
        f"""
        SELECT t.o_orderkey, t.day_offset, t.followup_date
        FROM sg_urgent_{tag}, LATERAL sg_followups(o_orderkey, o_orderdate) t
        ORDER BY t.o_orderkey, t.day_offset
        """
    )


class _PerUserSummary:
    def __init__(self):
        self._key = None
        self._n = 0
        self._sum = 0.0

    def eval(self, row):
        self._key = row["user_id"]
        self._n += 1
        self._sum += row["value"]

    def terminate(self):
        if self._key is not None:
            yield self._key, self._n, round(self._sum, 4)


@query(
    "udtf_table_argument",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events WHERE user_id < 40
    GROUP BY user_id
    """,
)
def udtf_table_argument(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF consuming a TABLE argument with PARTITION BY — the
    Spark 4 polymorphic-table-function surface: each user's rows stream
    into one UDTF instance (eval per row, terminate per partition), so
    arbitrary per-group Python logic runs without applyInPandas. Here the
    per-partition logic is a count+sum so the oracle is a plain grouped
    aggregate — the value is exercising the calling convention, not the
    arithmetic.

    Plan: PARTITION BY shuffles once on user_id, then the UDTF runs
    inside the Python worker per partition-group with O(1) state (two
    accumulators). The float sum accumulates in partition-stream order —
    a FIXED order per group (Spark sorts table-arg partitions) — and is
    rounded to 4 anyway. At 100 TB this is the escape hatch for logic
    SQL can't express, at Python-worker throughput (use it for control
    flow, not bulk math)."""
    load(spark, sf_dir, "events").filter(
        F.col("user_id") < 40
    ).createOrReplaceTempView("events_udtf_src")
    spark.udtf.register(
        "sg_per_user_summary",
        udtf(
            _PerUserSummary,
            returnType="user_id bigint, n_events bigint, total_value double",
        ),
    )
    return spark.sql(
        """
        SELECT * FROM sg_per_user_summary(
          TABLE(SELECT user_id, value FROM events_udtf_src)
          PARTITION BY user_id
        )
        """
    )


class _SeqReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", 1000))
        self.parts = int(options.get("parts", 8))

    def partitions(self):
        # Explicit input-partition planning: each partition is an
        # independent slice — this is what makes the source parallel
        # and, at scale, lets Spark schedule N readers.
        step = (self.n + self.parts - 1) // self.parts
        return [
            InputPartition((i * step, min((i + 1) * step, self.n)))
            for i in range(self.parts)
        ]

    def read(self, partition):
        # Yield pyarrow.RecordBatch, not Python tuples: the runtime
        # detects Arrow batches and skips per-row pickling entirely —
        # one columnar buffer per partition crosses the Python/JVM
        # boundary instead of (hi - lo) serialized rows. This is the
        # scale path for any real source on this API.
        import numpy as np
        import pyarrow as pa

        lo, hi = partition.value
        i = np.arange(lo, hi, dtype=np.int64)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(i),
                pa.array(i * i),
                pa.array([f"row-{v}" for v in i]),
            ],
            names=["i", "sq", "tag"],
        )


class _SeqDataSource(DataSource):
    @classmethod
    def name(cls):
        return "sg_seq"

    def schema(self):
        return "i bigint, sq bigint, tag string"

    def reader(self, schema):
        return _SeqReader(self.options)


@query(
    "scan_python_datasource",
    oracle="""
    SELECT i, i * i AS sq, 'row-' || CAST(i AS VARCHAR) AS tag
    FROM generate_series(0, 999) AS g(i)
    """,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom batch source through the Spark 4 Python DataSource API: a
    deterministic sequence source with explicit partition planning (8 input
    partitions → 8 parallel reader tasks). The FULL oracle pins the
    contract: a user-defined source feeds the same DataFrame machinery as
    any built-in format. It reads no table, so it calls tune() itself:
    that ships the engine its reader classes are pickled against.

    100 TB: the reader yields one pyarrow.RecordBatch per partition (the
    Arrow fast path of the API — no per-row pickling), so a bespoke-API
    source scales horizontally exactly like a file scan; the partitions()
    plan is where you encode splits (key ranges, shard ids, file
    manifests)."""
    tune(spark)
    spark.dataSource.register(_SeqDataSource)
    return spark.read.format("sg_seq").option("n", "1000").option("parts", "8").load()


class _SeqStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        self.n = int(options.get("n", 1000))

    def initialOffset(self):
        return {"i": 0}

    def read(self, start):
        i = start["i"]
        if i >= self.n:
            return iter([]), start
        # One read() call returns the whole sequence: Python stream
        # sources don't support Trigger.AvailableNow (Spark falls back
        # to single-batch execution), so the batch must be the full
        # deterministic payload for the FULL oracle to hold.
        return iter([(x, x * x, f"ev-{x}") for x in range(i, self.n)]), {"i": self.n}

    def readBetweenOffsets(self, start, end):
        return iter([(x, x * x, f"ev-{x}") for x in range(start["i"], end["i"])])


class _SeqStreamSource(DataSource):
    @classmethod
    def name(cls):
        return "sg_seq_stream"

    def schema(self):
        return "i bigint, sq bigint, tag string"

    def simpleStreamReader(self, schema):
        return _SeqStreamReader(self.options)


@query(
    "scan_python_stream_source",
    oracle="""
    SELECT i, i * i AS sq, 'ev-' || CAST(i AS VARCHAR) AS tag
    FROM generate_series(0, 999) AS g(i)
    ORDER BY i
    """,
)
def scan_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING half of the Spark 4 Python DataSource API: a custom
    source implementing SimpleDataSourceStreamReader (initialOffset / read
    / readBetweenOffsets) feeding a real Structured Streaming query into a
    memory sink. Offset management — the contract that gives a bespoke API
    exactly-once replay — is the point: readBetweenOffsets re-serves a
    committed range after failure. Python stream sources don't support
    Trigger.AvailableNow (single-batch fallback, warned at runtime), so
    the demo source emits its full deterministic sequence in one batch,
    making the memory-sink contents FULL-oracle-checkable.

    100 TB/day: this is the entry point for queue-like internal APIs with
    no native connector; the simple reader funnels through the driver
    (prefetch + serialize), so high-throughput sources should implement
    the partition-planning DataSourceStreamReader variant instead — same
    trade as the batch reader's Arrow path (scan_python_datasource)."""
    from engine.streaming import run_stream

    tune(spark)
    spark.dataSource.register(_SeqStreamSource)
    df = spark.readStream.format("sg_seq_stream").option("n", "1000").load()
    return run_stream(df, f"sg_pysds_{sftag(sf_dir)}", sf_dir).orderBy("i")


class _JsonShardWriter(DataSourceWriter):
    def __init__(self, options):
        self.path = options.get("path")

    def write(self, iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        with open(f"{self.path}/part-{pid:05d}.jsonl", "w") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict()) + "\n")
        return WriterCommitMessage()


class _JsonShardSink(DataSource):
    @classmethod
    def name(cls):
        return "sg_jsonl_sink"

    def writer(self, schema, overwrite):
        return _JsonShardWriter(self.options)


@query(
    "sink_python_datasource",
    oracle="""
    SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY 1
    """,
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python DataSource WRITER API — the write-side sibling of
    scan_python_datasource's reader: a custom `DataSourceWriter` whose
    `write(iterator)` receives each partition's rows in Python, persists
    them as JSON-lines shards (one per partition, named by
    TaskContext.partitionId), and returns a commit message the driver's
    `commit()` sees — the full two-phase write protocol (write per task →
    driver commit/abort). The key writes per-language aggregates through
    the custom sink, reads the shards back with the native JSON reader,
    and re-aggregates; the oracle recomputes from the source table, so a
    dropped shard, duplicated task output, or mangled row breaks the
    hash.

    100 TB: each task writes its own shard and reports via commit
    messages; nothing funnels through the driver except the O(#tasks)
    commit metadata — the same contract parquet committers implement. A
    real connector adds abort() cleanup + idempotent task retries (write
    to temp, rename on commit)."""
    out_dir = scratch_dir(prefix=f"sg-pyds-sink-{sftag(sf_dir)}-")
    spark.dataSource.register(_JsonShardSink)
    agg = (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        # shard count should track data volume, not the shuffle-partition
        # conf: 32 near-empty Python writer tasks cost ~4 s of worker forks
        # for a |languages|-row relation.
        .coalesce(4)
    )
    agg.write.format("sg_jsonl_sink").option("path", out_dir).mode("append").save()
    back = spark.read.schema("lang string, n_docs long, total_chars long").json(
        out_dir
    )
    return back.select("lang", "n_docs", "total_chars")
