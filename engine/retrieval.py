"""Retrieval-scoring operators (r05, registered after the attestation
window — the r06 rotation fronts them): BM25 ranking and bigram PMI.

tf-idf (text_tfidf, text_tfidf_cosine_docs) covers the vector-space model;
these add the two rankers a retrieval-augmented data pipeline actually
uses: Okapi BM25 (saturating tf, length normalization — what Lucene and
every hybrid-search stack score with) and pointwise mutual information
(the classic collocation/association statistic for phrase mining).

Determinism (SURVEY §5.3): all counts are exact integers; ln() runs on
exact rationals and the only cross-engine risk is last-ulp libm drift, so
every score is rounded to 6 dp on both sides; the per-term BM25 sum is
written as an explicit fixed-order expression (a + b + c), never a
group-sum, so association order is pinned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load

_BM25_TERMS = ("table", "join", "spark")
_K1 = 1.2
_B = 0.75


@query(
    "text_bm25_rank",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl
              FROM d),
    dfc AS (SELECT
              CAST(sum(CASE WHEN list_contains(toks, 'table') THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
              CAST(sum(CASE WHEN list_contains(toks, 'join') THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
              CAST(sum(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END) AS DOUBLE) AS df3
            FROM d),
    sc AS (
      SELECT doc_id,
        ln(((SELECT n FROM stats) - df1 + 0.5) / (df1 + 0.5) + 1.0)
          * (tf1 * 2.2) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (SELECT avgdl FROM stats)))
        + ln(((SELECT n FROM stats) - df2 + 0.5) / (df2 + 0.5) + 1.0)
          * (tf2 * 2.2) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (SELECT avgdl FROM stats)))
        + ln(((SELECT n FROM stats) - df3 + 0.5) / (df3 + 0.5) + 1.0)
          * (tf3 * 2.2) / (tf3 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (SELECT avgdl FROM stats)))
          AS score
      FROM (
        SELECT doc_id,
               CAST(len(toks) AS DOUBLE) AS dl,
               CAST(len(list_filter(toks, x -> x = 'table')) AS DOUBLE) AS tf1,
               CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tf2,
               CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf3
        FROM d) t
      CROSS JOIN dfc
      WHERE tf1 + tf2 + tf3 > 0)
    SELECT doc_id, round(score, 6) AS score
    FROM sc ORDER BY round(score, 6) DESC, doc_id LIMIT 20
    """,
)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for the fixed query {table, join, spark}
    (k1=1.2, b=0.75): per-term idf = ln((N−df+0.5)/(df+0.5)+1) with
    saturating, length-normalized tf. The per-term contributions are
    summed in EXPLICIT fixed order (never a group-sum) and the score is
    rounded to 6 dp before the (score DESC, doc_id) top-20 cut, so the
    selection is deterministic cross-engine.

    100 TB: corpus stats (N, avgdl, per-term df) are ONE aggregate pass
    collapsed to a single broadcast row; scoring is then a pure map over
    the scan — no per-doc shuffle, no inverted index needed for a fixed
    small query. (A full search engine materializes the inverted index —
    that shape is text_tfidf's term join.)"""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    def _tf(term: str):
        # NB: the lambda must be unary — pyspark treats a second parameter
        # (even a defaulted one) as the element-index argument of filter().
        return F.size(F.filter("toks", lambda x: x == F.lit(term))).cast("double")

    tf = {t: _tf(t) for t in _BM25_TERMS}
    stats = d.agg(
        F.count("*").cast("double").alias("n"),
        (F.sum(F.size("toks")).cast("double") / F.count("*")).alias("avgdl"),
        *[
            F.sum(
                F.when(F.array_contains("toks", t), 1).otherwise(0)
            ).cast("double").alias(f"df{i + 1}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    per = d.select(
        "doc_id",
        F.size("toks").cast("double").alias("dl"),
        *[tf[t].alias(f"tf{i + 1}") for i, t in enumerate(_BM25_TERMS)],
    )
    j = per.join(F.broadcast(stats))
    score = None
    for i in range(len(_BM25_TERMS)):
        tf_i = F.col(f"tf{i + 1}")
        df_i = F.col(f"df{i + 1}")
        idf = F.log(
            (F.col("n") - df_i + 0.5) / (df_i + 0.5) + 1.0
        )
        part = idf * (tf_i * 2.2) / (
            tf_i + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
        )
        score = part if score is None else score + part
    return (
        j.filter(F.col("tf1") + F.col("tf2") + F.col("tf3") > 0)
        .select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


@query(
    "text_cooccurrence_pmi",
    oracle="""
    WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
    uni AS (SELECT unnest(toks) AS w FROM d),
    uc AS (SELECT w, CAST(count(*) AS DOUBLE) AS c FROM uni GROUP BY 1),
    nu AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM uni),
    bi AS (SELECT toks[k] AS w1, toks[k+1] AS w2
           FROM d, unnest(range(1, len(toks))) AS u(k)),
    bc AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c FROM bi GROUP BY 1, 2),
    nb AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM bi),
    top AS (SELECT w1, w2, c FROM bc
            ORDER BY c DESC, w1, w2 LIMIT 30)
    SELECT t.w1, t.w2, CAST(t.c AS BIGINT) AS n_pair,
           round(ln((t.c / (SELECT n FROM nb))
                    / ((a.c / (SELECT n FROM nu))
                       * (b.c / (SELECT n FROM nu)))), 6) AS pmi
    FROM top t JOIN uc a ON t.w1 = a.w
               JOIN uc b ON t.w2 = b.w
    """,
)
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information for the corpus's 30 most frequent
    adjacent word pairs: pmi = ln(p(ab)/(p(a)p(b))) from exact unigram and
    bigram counts — the classic collocation statistic (positive = the pair
    sticks together more than chance; ~0 here because the synthetic corpus
    is near-unigram-random, which is itself a faithful health reading).
    Deterministic (count DESC, w1, w2) top-30, 6-dp rounding over the
    exact-rational ln inputs.

    100 TB: bigram explode is map-side; two count aggs with partial
    combine; the PMI join touches only the top-30 pairs and their two
    unigram rows each — broadcastable."""
    d = load(spark, sf_dir, "documents").select(F.split("text", " ").alias("toks"))
    uni = d.select(F.explode("toks").alias("w"))
    uc = uni.groupBy("w").agg(F.count("*").cast("double").alias("c"))
    nu = uni.agg(F.count("*").cast("double").alias("nu"))
    bi = d.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - 1),
                lambda k: F.struct(
                    F.element_at("toks", k).alias("w1"),
                    F.element_at("toks", k + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bc = bi.groupBy("w1", "w2").agg(F.count("*").cast("double").alias("c"))
    nb = bi.agg(F.count("*").cast("double").alias("nb"))
    top = bc.orderBy(F.col("c").desc(), "w1", "w2").limit(30)
    a = uc.select(F.col("w").alias("w1"), F.col("c").alias("ca"))
    b = uc.select(F.col("w").alias("w2"), F.col("c").alias("cb"))
    pmi = F.log(
        (F.col("c") / F.col("nb"))
        / ((F.col("ca") / F.col("nu")) * (F.col("cb") / F.col("nu")))
    )
    return (
        top.join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .join(F.broadcast(nu))
        .join(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            F.col("c").cast("bigint").alias("n_pair"),
            F.round(pmi, 6).alias("pmi"),
        )
    )
