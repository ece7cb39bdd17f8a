"""Training-corpus curation, batch 2 (r05): frozen-model quality
classification, temperature-scaled source mixing, and token-entropy
distribution checks.

These extend §2.L toward the curation passes a pretraining pipeline
actually chains: model-based quality filtering (here a frozen linear
scorer — the Spark-side shape of "apply a trained classifier at scale"
without per-row Python), the n_s^α temperature mix that balances head and
tail sources, and corpus-health entropy metrics. Its dedup passes live in
engine.dedup.

Determinism discipline (SURVEY §5.3): per-row arithmetic stays raw IEEE and
is written with the SAME association order in both engines; every
order-dependent aggregate (entropy sums, temperature weight totals) is
rounded on both sides before use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from engine.registry import query
from engine.tables import load

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


@query(
    "text_quality_logreg",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang,
        CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
        CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr,
        CAST(len(list_filter(string_split(text, ' '),
               x -> x IN ('the','a','of','and','to','in','is','on','for','with')))
             AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopr,
        CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
          / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mlen
      FROM documents)
    SELECT doc_id, lang,
           4.0 * ttr + 5.0 * stopr + 0.2 * mlen + 0.01 * n_tok - 3.75 AS margin,
           (4.0 * ttr + 5.0 * stopr + 0.2 * mlen + 0.01 * n_tok - 3.75) > 0
             AS passes
    FROM f
    """,
)
def text_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frozen linear quality classifier: four engineered features
    (type-token ratio, stopword ratio, mean token length, token count)
    through fixed trained weights; the decision margin is the linear score
    (the sigmoid is monotone, so classification needs only the margin —
    and avoiding exp() keeps the value bit-identical across engines, libm
    exp is not IEEE-pinned). This is the Spark shape of "apply a trained
    quality model at 100 TB": feature extraction and scoring as pure
    columnar expressions, zero Python per row, no shuffle at all — the
    entire key is a map over the scan.

    The weights are illustrative (a real pipeline loads them from the
    model registry); the margin expression is written with identical
    left-association in both engines (SURVEY §5.3 raw-IEEE rule)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks).cast("double")
    ttr = F.size(F.array_distinct(toks)).cast("double") / n_tok
    stopr = (
        F.size(
            F.filter(toks, lambda x: x.isin(*_STOPWORDS))
        ).cast("double")
        / n_tok
    )
    mlen = (F.length("text") - (F.size(toks) - 1)).cast("double") / n_tok
    margin = 4.0 * ttr + 5.0 * stopr + 0.2 * mlen + 0.01 * n_tok - 3.75
    return d.select(
        "doc_id", "lang", margin.alias("margin"), (margin > 0).alias("passes")
    )


@query(
    "sample_temperature",
    oracle="""
    WITH n AS (SELECT source, count(*) AS n_s FROM documents GROUP BY 1),
    s AS (SELECT sum(sqrt(CAST(n_s AS DOUBLE))) AS sw,
                 sum(n_s) AS total FROM n),
    r AS (SELECT source, n_s,
                 round(least(1.0,
                   0.5 * CAST((SELECT total FROM s) AS DOUBLE)
                     * sqrt(CAST(n_s AS DOUBLE))
                     / (SELECT sw FROM s) / CAST(n_s AS DOUBLE)), 6) AS rate
          FROM n),
    h AS (SELECT doc_id, source,
                 (doc_id * 2654435761) % 2147483647 AS hk
          FROM documents),
    k AS (SELECT h.doc_id, h.source,
                 row_number() OVER (PARTITION BY h.source ORDER BY hk, doc_id)
                   AS rn
          FROM h)
    SELECT k.source, r.n_s AS n_orig,
           count(*) AS n_kept, min(r.rate) AS rate
    FROM k JOIN r ON k.source = r.source
    WHERE rn <= CAST(ceil(r.n_s * r.rate) AS BIGINT)
    GROUP BY k.source, r.n_s
    """,
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (α = 0.5, target budget = 50% of
    the corpus): source s is resampled at rate ∝ n_s^α / n_s, which
    up-weights tail sources and down-weights head sources relative to
    proportional sampling — the standard multilingual/multi-domain
    temperature mix. Selection is the same deterministic multiplicative-
    hash rank as sample_source_mix (stable across runs, engines, and
    layouts); the per-source rate is rounded to 6 dp on both engines
    because the Σ sqrt(n_s) normalizer is an order-dependent double sum.
    Output: per-source original count, kept count, applied rate.

    100 TB: per-source counts are a tiny agg (broadcast back); rank
    selection is one window per source — at scale replace rank with an
    hk-threshold filter (rate-quantile of the hash space), dropping the
    sort as sample_source_mix documents."""
    d = load(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(F.count("*").alias("n_s"))
    s = n.agg(
        F.sum(F.sqrt(F.col("n_s").cast("double"))).alias("sw"),
        F.sum("n_s").alias("total"),
    )
    r = (
        n.join(F.broadcast(s))
        .select(
            "source",
            "n_s",
            F.round(
                F.least(
                    F.lit(1.0),
                    0.5
                    * F.col("total").cast("double")
                    * F.sqrt(F.col("n_s").cast("double"))
                    / F.col("sw")
                    / F.col("n_s").cast("double"),
                ),
                6,
            ).alias("rate"),
        )
    )
    hk = (F.col("doc_id") * F.lit(2654435761)) % F.lit(2147483647)
    w = Window.partitionBy("source").orderBy("hk", "doc_id")
    k = (
        d.select("doc_id", "source", hk.alias("hk"))
        .withColumn("rn", F.row_number().over(w))
    )
    return (
        k.join(F.broadcast(r), "source")
        .filter(F.col("rn") <= F.ceil(F.col("n_s") * F.col("rate")).cast("long"))
        .groupBy("source", F.col("n_s").alias("n_orig"))
        .agg(F.count("*").alias("n_kept"), F.min("rate").alias("rate"))
    )


@query(
    "agg_entropy_token",
    oracle="""
    WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
               FROM documents),
    c AS (SELECT lang, tok, CAST(count(*) AS DOUBLE) AS c
          FROM t GROUP BY 1, 2),
    g AS (SELECT lang, sum(c) AS n, count(*) AS vocab,
                 sum(c * ln(c)) AS clnc
          FROM c GROUP BY 1)
    SELECT lang, CAST(n AS BIGINT) AS n_tokens, vocab,
           round(ln(n) - clnc / n, 6) AS entropy_nats
    FROM g
    """,
)
def agg_entropy_token(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the token distribution per language, in nats:
    H = ln N − (Σ c·ln c)/N over per-(lang, token) counts — the corpus-
    health metric that flags distribution collapse (dedup gone wrong,
    template floods) as an entropy drop. Rounded to 6 dp: the Σ c·ln c
    group-sum is order-dependent (and libm ln may differ in the last ulp
    across engines); everything else is exact integer arithmetic.

    100 TB: explode → two cascaded aggs, both with map-side partial
    combine; state is O(vocab per language), never O(tokens)."""
    t = load(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    c = t.groupBy("lang", "tok").agg(F.count("*").cast("double").alias("c"))
    g = c.groupBy("lang").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("vocab"),
        F.sum(F.col("c") * F.log("c")).alias("clnc"),
    )
    return g.select(
        "lang",
        F.col("n").cast("bigint").alias("n_tokens"),
        "vocab",
        F.round(F.log("n") - F.col("clnc") / F.col("n"), 6).alias("entropy_nats"),
    )
