"""LLM-training-data text operators: SURVEY.md §2.I.

Text analysis (token counts, tf-idf, n-grams, lexicon sentiment) and the
text↔embedding multimodal join. The dedup family lives in engine.dedup and
the embedding-similarity family in engine.simsearch.

Scale design (100 TB): all token pipelines are explode → hash-aggregate:
linear, shuffle on (doc_id, token)-sized keys, no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load


def _tokens(d: DataFrame) -> DataFrame:
    """explode(split) tokenization — corpus is space-separated lowercase."""
    return d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))


@query(
    "text_token_counts",
    oracle="""
    SELECT token, count(*) AS cnt FROM (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ) t GROUP BY token
    ORDER BY cnt DESC, token ASC LIMIT 20
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 token frequencies (count aliased cnt, alphabetical
    tie-break)."""
    d = load(spark, sf_dir, "documents")
    return (
        _tokens(d)
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(20)
    )


@query(
    "text_tfidf",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         dfreq AS (SELECT token, count(DISTINCT doc_id) AS dfq FROM tok GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, token, round(tf * ln(n_docs::DOUBLE / dfq::DOUBLE), 6) AS tfidf
    FROM tf JOIN dfreq USING (token) CROSS JOIN n
    ORDER BY tfidf DESC, doc_id, token LIMIT 100
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf per (doc, term), top-100 — pure DataFrame (no ml.IDF) so it
    stays SQL-expressible. N arrives via a broadcast 1-row cross join, not a
    driver-side collect."""
    d = load(spark, sf_dir, "documents")
    tok = _tokens(d)
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("token").agg(F.count_distinct("doc_id").alias("dfq"))
    n = d.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(dfreq, "token")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * F.ln(F.col("n_docs").cast("double") / F.col("dfq").cast("double")),
                6,
            ).alias("tfidf"),
        )
        .orderBy(F.col("tfidf").desc(), "doc_id", "token")
        .limit(100)
    )


@query(
    "text_ngram_freq",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents)
    SELECT s[i] || ' ' || s[i + 1] AS bigram, count(*) AS cnt
    FROM t, unnest(range(1, len(s))) AS u(i)
    GROUP BY 1 ORDER BY cnt DESC, bigram ASC LIMIT 20
    """,
)
def text_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigram frequencies via JVM-side transform over the token array
    (no Python UDF, no ml.NGram — keeps it SQL-expressible for the oracle)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("s"))
    # CASE guard, not greatest(): sequence(1, 0) is [1, 0] (step -1), whose
    # out-of-range s[] accesses emit null bigrams the oracle's empty
    # range(1, 1) never produces (r12 short-text fix).
    bigrams = toks.select(
        F.explode(
            F.expr(
                "CASE WHEN size(s) < 2 THEN cast(array() as array<string>)"
                " ELSE transform(sequence(1, size(s) - 1), i -> s[i-1] || ' ' || s[i]) END"
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram").asc())
        .limit(20)
    )


_POS_WORDS = ["fast", "key", "value"]
_NEG_WORDS = ["slow", "big", "scan"]


@query(
    "text_sentiment_lexicon",
    oracle=f"""
    WITH lex(token, polarity) AS (VALUES
      {", ".join(f"('{w}', 1)" for w in _POS_WORDS)},
      {", ".join(f"('{w}', -1)" for w in _NEG_WORDS)}),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    score AS (SELECT doc_id, sum(polarity) AS raw FROM tok JOIN lex USING (token) GROUP BY 1)
    SELECT d.doc_id,
           round(coalesce(raw, 0)::DOUBLE / len(string_split(text, ' '))::DOUBLE, 6)
             AS sentiment
    FROM documents d LEFT JOIN score ON d.doc_id = score.doc_id
    """,
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based polarity: (Σ polarity of matched tokens) / token count,
    via a broadcast join against the in-code lexicon (all words exist in the
    corpus vocabulary). Docs with no lexicon hits score 0."""
    d = load(spark, sf_dir, "documents")
    from engine.tables import lit_table

    lex = lit_table(
        spark,
        [(w, 1) for w in _POS_WORDS] + [(w, -1) for w in _NEG_WORDS],
        ["token", "polarity"],
    )
    score = (
        _tokens(d)
        .join(F.broadcast(lex), "token")
        .groupBy("doc_id")
        .agg(F.sum("polarity").alias("raw"))
    )
    return d.join(score, "doc_id", "left").select(
        "doc_id",
        F.round(
            F.coalesce(F.col("raw"), F.lit(0)).cast("double")
            / F.size(F.split("text", " ")).cast("double"),
            6,
        ).alias("sentiment"),
    )


@query(
    "multimodal_join",
    oracle="""
    SELECT label, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM documents JOIN embeddings ON doc_id = vec_id
    GROUP BY label
    """,
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text↔embedding modality join (doc_id = vec_id; inner join because the
    modalities scale differently at sf0.1 — FIXTURES), per-label doc stats."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings")
    return (
        d.join(e, d.doc_id == e.vec_id)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )
