"""Training-data pipeline extensions: document chunking, normalization and
tf-idf document cosine.

These extend SURVEY §2.L — the LLM-corpus preparation surface. Chunking is
the step between dedup and tokenization in every pretraining pipeline
(fixed-token windows with overlap); normalization is the canonical text
cleanup (stopword/short-token removal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load

CHUNK = 32  # tokens per chunk
STRIDE = 24  # tokens between chunk starts (CHUNK - STRIDE = 8 overlap)


@query(
    "text_chunk_overlap",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           CAST(s / {STRIDE} AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(toks, s + 1, s + {CHUNK})) AS BIGINT) AS n_tokens,
           array_to_string(list_slice(toks, s + 1, s + {CHUNK}), ' ') AS chunk_text
    FROM t, unnest(generate_series(0, len(toks) - 1, {STRIDE})) AS u(s)
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: 32-token chunks every 24 tokens
    (8-token overlap) — the context-window packing step of a pretraining
    pipeline. Pure array expressions (split/sequence/explode/slice): no
    Python, no shuffle — chunking is embarrassingly parallel and the explode
    fan-out (~n_tokens/stride per doc) happens inside whole-stage codegen.
    At 100 TB the only knob is output partition sizing: chunk fan-out
    multiplies bytes ~1.33x (overlap/stride), so repartition before a
    parquet sink to keep file sizes bounded."""
    # r13 long-doc fix: the old shape exploded chunk starts alongside the
    # full toks array, copying the whole token array into EVERY chunk row
    # (O(tokens × n_chunks) bytes on a long doc). The chunks are now built
    # as a per-doc struct array — total bytes ~1.33× the text — and only
    # the small (s, chunk) structs are exploded.
    # chunk elements via O(1) access, not slice() — slice inside a lambda
    # runs interpreted and copies the WHOLE token array per chunk
    chunks = F.expr(
        f"transform(sequence(0, size(toks) - 1, {STRIDE}),"
        f" s -> struct(s AS s,"
        f" transform(sequence(s, least(size(toks), s + {CHUNK}) - 1),"
        f" j -> toks[j]) AS c))"
    )
    df = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .select("doc_id", F.explode(chunks).alias("ch"))
    )
    return df.select(
        "doc_id",
        (F.col("ch.s") / STRIDE).cast("long").alias("chunk_idx"),
        F.size("ch.c").cast("long").alias("n_tokens"),
        F.array_join("ch.c", " ").alias("chunk_text"),
    )


@query(
    "text_normalize_stopwords",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '),
                         t -> NOT list_contains(['the', 'a', 'of', 'to', 'and'], t)
                              AND length(t) > 1) AS kept
      FROM documents)
    SELECT doc_id,
           CAST(len(kept) AS BIGINT) AS n_kept,
           array_to_string(kept, ' ') AS normalized
    FROM t
    """,
)
def text_normalize_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization: lowercase, drop stopwords and 1-char tokens,
    re-join. The filter lambda runs as a JVM higher-order function over the
    token array — one narrow projection, zero shuffle, fully codegen'd.
    The stopword list is inlined as a literal array; at scale a large list
    would become a broadcast join against an exploded token table instead
    (that variant is text_lang_id's shape)."""
    kept = F.expr(
        "filter(split(lower(text), ' '), "
        "t -> NOT array_contains(array('the', 'a', 'of', 'to', 'and'), t) "
        "AND length(t) > 1)"
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, " ").alias("normalized"),
    )


@query(
    "text_tfidf_cosine_docs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents WHERE doc_id < 60),
    tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM tf),
    w AS (SELECT doc_id, term, tf * ln((SELECT n FROM n) / df) AS w
          FROM tf JOIN df USING (term)),
    norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.w * b.w) AS dot
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(dot / (na.nrm * nb.nrm), 4) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = doc_a
    JOIN norms nb ON nb.doc_id = doc_b
    ORDER BY cosine DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def text_tfidf_cosine_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-document similarity by tf-idf cosine over the sparse term
    space — the classic IR pairing, computed relationally: the dot product
    of two sparse vectors IS a join on term + sum of weight products, so no
    dense vectors ever materialize.

    Scale shape: tf and df are hash aggregates; the pair 'join on term' is
    an inverted index — each term contributes df² pair-partials, so at
    100 TB you cap or drop ultra-common terms first (df ceiling = stopword
    removal; here the corpus is small enough not to). One shuffle per CTE
    stage, all JVM-side."""
    tok = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 60)
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("double").alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    n = tf.select("doc_id").distinct().count()  # scalar: one tiny agg, collected once
    w = tf.join(df, "term").select(
        "doc_id", "term", (F.col("tf") * F.log(F.lit(float(n)) / F.col("df"))).alias("w")
    )
    norms = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a = w.select(F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), "doc_a", "doc_b")
        .limit(20)
    )
