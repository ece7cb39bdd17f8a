"""Retrieval + curation batch (r05 continuation): embedding
dimension-variance ranking, corpus n-gram novelty, hierarchical
share-of-parent, and deterministic k-fold assignment.

SURVEY §2 families extended: §2.L (dimension pruning, novelty curves,
k-fold splits), §2.D (share-of-parent).

Determinism discipline (SURVEY §5.3): every rank is computed over a rounded
score with a tie-break (total order); fold assignment is the
multiplicative-hash idiom (engine-agnostic integer arithmetic, reproducible
outside Spark — same rationale as sample_hash_repro).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from engine.registry import query
from engine.tables import load


@query(
    "emb_dim_variance_rank",
    oracle="""
    WITH dims AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             unnest(embedding::DOUBLE[]) AS x
      FROM embeddings
    ),
    v AS (
      SELECT CAST(dim AS INT) AS dim, round(var_pop(x), 6) AS variance
      FROM dims GROUP BY dim
    )
    SELECT dim, variance,
           CAST(row_number() OVER (ORDER BY variance DESC, dim) AS INT)
             AS rank
    FROM v
    ORDER BY variance DESC, dim LIMIT 16
    """,
)
def emb_dim_variance_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension variance ranking of the embedding space — the
    feature-selection diagnostic behind dimension pruning and matryoshka
    truncation choices (low-variance dims carry little signal; keep the
    top-k).

    Plan: posexplode + var_pop collapses to 64 cells via partial
    aggregation (variance is a single-pass moment aggregate); the ranking
    window runs over those 64 rows. Output bounded by dim count at any
    corpus scale. DuckDB's 1-based subscripts vs Spark's 0-based pos are
    aligned by shifting Spark's pos +1."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>"))
    ).select((F.col("pos") + 1).cast("int").alias("dim"), F.col("col").alias("x"))
    v = dims.groupBy("dim").agg(F.round(F.var_pop("x"), 6).alias("variance"))
    w = Window.orderBy(F.col("variance").desc(), "dim")
    return (
        v.select("dim", "variance", F.row_number().over(w).cast("int").alias("rank"))
        .orderBy(F.col("variance").desc(), "dim")
        .limit(16)
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             t[k] || ' ' || t[k+1] || ' ' || t[k+2] AS gram
      FROM toks, unnest(range(1, len(t) - 1)) AS u(k)
      WHERE len(t) >= 3
    ),
    firsts AS (
      SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY gram
    )
    SELECT g.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS novelty
    FROM grams g JOIN firsts f ON g.gram = f.gram
    GROUP BY g.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: per document, the fraction of its distinct
    trigrams whose FIRST corpus occurrence (lowest doc_id) is this
    document — the diminishing-returns diagnostic for corpus growth (late
    documents with low novelty add little new text).

    Plan (r06 reshape, 4.2 s -> ~1.3 s at sf0.1): tokenize ONCE in a
    projection (the old expression re-evaluated split(text) four times
    inside the transform lambda — Catalyst does not CSE across lambda
    scopes), trigram fan-out stays codegen (transform over a sequence, no
    shuffle), then ONE shuffle on gram: groupBy(gram) with min(doc_id) +
    collect_set(doc_id) — the partial aggregate dedups (doc_id, gram)
    map-side, so the old separate DISTINCT shuffle and the window
    shuffle+string-sort both collapse into it. Explode the doc sets and
    roll up per doc (doc_id shuffle — was already needed). Per-gram state
    is bounded by the gram's document frequency; at 100 TB cap or
    hash-prefix ultra-common grams the way tf-idf caps document frequency
    (they are never novel past their first doc anyway)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("t") >= 3,
                F.expr(
                    "transform(sequence(0, size(t) - 3), "
                    "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
                ),
            ).otherwise(F.array(F.lit(None).cast("string")))
        ).alias("gram"),
    ).filter(F.col("gram").isNotNull())
    per_gram = grams.groupBy("gram").agg(
        F.min("doc_id").alias("first_doc"),
        F.collect_set("doc_id").alias("docs"),
    )
    ex = per_gram.select("first_doc", F.explode("docs").alias("doc_id"))
    is_novel = F.col("first_doc") == F.col("doc_id")
    return ex.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(is_novel.cast("bigint")).alias("n_novel"),
        F.round(F.sum(is_novel.cast("double")) / F.count("*"), 6).alias("novelty"),
    )


@query(
    "agg_share_of_parent",
    oracle="""
    WITH nat AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             round(sum(o.o_totalprice), 2) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ),
    reg AS (SELECT region, round(sum(rev), 2) AS region_rev
            FROM nat GROUP BY region)
    SELECT n.region, n.nation, n.rev,
           round(n.rev / g.region_rev, 6) AS share_of_region,
           CAST(row_number() OVER (PARTITION BY n.region
                                   ORDER BY n.rev DESC, n.nation) AS INT)
             AS rank_in_region
    FROM nat n JOIN reg g ON n.region = g.region
    """,
)
def agg_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical share-of-parent: each nation's revenue as a fraction
    of its region's total, with the nation's rank inside the region — the
    drill-down decomposition every BI hierarchy renders.

    Plan: one fact aggregate (dims broadcast — 4× BroadcastHashJoin), then
    all further work runs on the 25-row nation relation: the parent total
    is a re-aggregate + broadcast join, the rank a window over ≤25 rows.
    Division of two already-rounded totals, rounded again — deterministic."""
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    nat = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    reg = nat.groupBy("region").agg(F.round(F.sum("rev"), 2).alias("region_rev"))
    w = Window.partitionBy("region").orderBy(F.col("rev").desc(), "nation")
    return (
        nat.join(F.broadcast(reg), "region")
        .select(
            "region",
            "nation",
            "rev",
            F.round(F.col("rev") / F.col("region_rev"), 6).alias(
                "share_of_region"
            ),
            F.row_number().over(w).cast("int").alias("rank_in_region"),
        )
    )


@query(
    "sample_kfold_assign",
    oracle="""
    WITH folds AS (
      SELECT doc_id, lang, n_chars,
             CAST((doc_id * 2654435761) % 5 AS INT) AS fold
      FROM documents
    )
    SELECT fold,
           count(*) AS n_docs,
           round(CAST(count(*) AS DOUBLE)
                 / (SELECT count(*) FROM documents), 6) AS frac,
           round(avg(n_chars), 4) AS avg_chars,
           count(DISTINCT lang) AS n_langs
    FROM folds GROUP BY fold
    """,
)
def sample_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment via the
    multiplicative-hash idiom (engine-agnostic integer arithmetic — the
    same rationale as sample_hash_repro: df.randomSplit is seed- AND
    layout-dependent, this is neither), summarized per fold with size,
    fraction, mean length, and language coverage. Folds are disjoint and
    complete by construction (a total function of doc_id).

    Plan: the fold column is row-local; one 5-group aggregate with the
    corpus count as a one-row broadcast scalar subquery. Per-fold training
    jobs downstream filter on `fold` — a pushed-down predicate, no
    materialized split copies."""
    d = load(spark, sf_dir, "documents")
    total = d.agg(F.count("*").alias("total"))  # 1-row relation, broadcast —
    # no driver-side count() action; the scalar rides the plan
    folds = d.select(
        "doc_id", "lang", "n_chars",
        ((F.col("doc_id") * 2654435761) % 5).cast("int").alias("fold"),
    )
    return (
        folds.groupBy("fold")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "fold",
            "n_docs",
            F.round(F.col("n_docs").cast("double") / F.col("total"), 6).alias(
                "frac"
            ),
            "avg_chars",
            "n_langs",
        )
    )
