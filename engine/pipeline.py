"""The capstone pipelines: every pipeline_* key, each a whole curation or
serving flow composed from the engine's operator families, as the nightly
jobs of a corpus stack run them.

- pipeline_corpus_datasheet: split → prefix dedup → quality gate →
  eval decontamination, reported as a per-language datasheet;
- pipeline_rag_index: chunk → exact chunk dedup → tf-idf score → top-50
  chunk references;
- pipeline_pretrain_mix: the per-(lang, source) pretraining-mix manifest;
- pipeline_dedup_cascade: exact → MinHash near → component dedup with a
  per-source attrition manifest;
- pipeline_ann_index_build: the persisted IVF index lifecycle (build,
  store, load, serve);
- pipeline_stream_serving: a gated, windowed stream merged into a keyed
  serving table;
- pipeline_incremental_refresh: a new batch deduped against a persisted
  index of the accepted corpus, with the index store itself (writer lock,
  generations, increments, compaction).

Each stage re-states a contract already proven by its standalone key, so
these keys verify COMPOSITION. The kernels they reuse stay in their family
modules (engine.dedup, engine.simsearch, engine.streaming).
"""

from __future__ import annotations

import contextlib
import errno
import fcntl
import glob
import os
import shutil
import tempfile
import time
import warnings
from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from engine.registry import query
from engine.streaming import merge_table, run_stream
from engine.tables import dot, fixture_dir, load, replay_fixture, sftag
from engine.tmpdirs import scratch_dir


# ---------------------------------------------------------------------------
# corpus datasheet
# ---------------------------------------------------------------------------
# The training-data stages the individual keys demonstrate in isolation —
# prefix-fingerprint dedup, quality gating, eval-set decontamination —
# chained into ONE DataFrame plan that emits the per-language datasheet
# every corpus release ships with: documents surviving each stage plus the
# final token budget. Every stage is a column or a semi-join over the same
# scan, so the whole pipeline is one job, not four.
# ---------------------------------------------------------------------------

_EVAL_MOD = 97  # doc_id % 97 == 0 → held-out eval split (~1%)
_MIN_TOKENS = 10
_MIN_DISTINCT_RATIO = 0.32
_SHINGLE = 5  # decontamination n-gram width (tokens)


@query(
    "pipeline_corpus_datasheet",
    oracle=f"""
    WITH train AS (
      SELECT doc_id, lang, text, string_split(text, ' ') AS ts
      FROM documents WHERE doc_id % {_EVAL_MOD} <> 0
    ),
    eval_sh AS (
      SELECT DISTINCT ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] || ' '
             || ts[CAST(i AS INT) + 2] || ' ' || ts[CAST(i AS INT) + 3] || ' '
             || ts[CAST(i AS INT) + 4] AS sh
      FROM (SELECT string_split(text, ' ') AS ts FROM documents
            WHERE doc_id % {_EVAL_MOD} = 0),
           UNNEST(range(1, greatest(len(ts) - {_SHINGLE - 2}, 1))) AS t(i)
    ),
    flagged AS (
      SELECT doc_id, lang,
             len(ts) AS n_tokens,
             (doc_id <> min(doc_id) OVER (PARTITION BY substring(text, 1, 40)))
               AS is_dup,
             (len(ts) >= {_MIN_TOKENS}
              AND len(list_distinct(ts)) >= {_MIN_DISTINCT_RATIO} * len(ts))
               AS quality_ok,
             EXISTS (
               SELECT 1 FROM eval_sh e,
                 UNNEST(range(1, greatest(len(ts) - {_SHINGLE - 2}, 1))) AS t(i)
               WHERE ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] || ' '
                     || ts[CAST(i AS INT) + 2] || ' ' || ts[CAST(i AS INT) + 3]
                     || ' ' || ts[CAST(i AS INT) + 4] = e.sh
             ) AS contaminated
      FROM train
    )
    SELECT lang,
           count(*) AS n_raw,
           CAST(sum(CASE WHEN NOT is_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(sum(CASE WHEN NOT is_dup AND quality_ok THEN 1 ELSE 0 END)
                AS BIGINT) AS n_quality,
           CAST(sum(CASE WHEN NOT is_dup AND quality_ok AND NOT contaminated
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clean,
           CAST(sum(CASE WHEN NOT is_dup AND quality_ok AND NOT contaminated
                         THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_clean
    FROM flagged GROUP BY lang ORDER BY lang
    """,
)
def pipeline_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pretraining-corpus pipeline as one plan, reported as a
    per-language datasheet with per-stage survival counts:

    1. **split** — doc_id % 97 == 0 is the held-out eval set; the rest is
       the training candidate pool (n_raw).
    2. **dedup** — prefix-fingerprint (first 40 chars) keep-min-doc_id, the
       cheap first-pass dedup that catches the corpus's planted
       shared-prefix near-dups before any MinHash spend (n_unique).
    3. **quality gate** — ≥10 tokens and ≥32% distinct-token ratio, the
       length/repetition heuristics of text_quality_score (n_quality).
    4. **decontamination** — drop any doc sharing a 5-token shingle with
       the eval split (text_decontaminate's semantics), via a left_semi
       mark-join against the broadcast eval shingle set (n_clean,
       tokens_clean = the final token budget).

    All stages are flags over ONE documents scan (window + expressions +
    one broadcast semi-join), aggregated once — no intermediate
    materialization.

    100 TB: stage order is the cost order — the 40-char window dedup and
    token arithmetic are near-free and shrink the doc set before the
    shingle explode (the only expensive step); the eval side is tiny by
    construction (~1%) so its distinct shingle set broadcasts. The
    per-stage counters come free from conditional aggregation, which is
    exactly how a production run reports stage losses without running
    four jobs."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", F.split("text", " ").alias("ts")
    )
    train = d.filter(F.col("doc_id") % _EVAL_MOD != 0)
    ev = d.filter(F.col("doc_id") % _EVAL_MOD == 0)

    def shingles(col: str = "ts") -> F.Column:
        # empty-array guard: sequence(1, 0) infers step -1 and yields
        # [1, 0] (then element i=0 is out of bounds) — a <SHINGLE-token
        # doc must produce NO shingles, matching the oracle's empty range.
        # Tokens via O(1) element_at, not slice() — slice inside a lambda
        # runs interpreted and copies the whole array per shingle, which
        # is O(len²) on a long doc; i..i+SHINGLE-1 are in bounds under
        # the gate.
        return F.array_distinct(
            F.transform(
                F.when(
                    F.size(col) >= _SHINGLE,
                    F.sequence(F.lit(1), F.size(col) - (_SHINGLE - 1)),
                ).otherwise(F.array().cast("array<int>")),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(F.col(col), i + j) for j in range(_SHINGLE)]
                ),
            )
        )

    eval_sh = ev.select(F.explode(shingles()).alias("sh")).distinct()
    # flags FIRST: the near-free dedup window and token arithmetic shrink
    # the pool before the shingle explode — only dedup+quality SURVIVORS
    # pay the one expensive stage (dropped docs' contamination flag is
    # never consumed downstream, so skipping them is semantics-neutral)
    w = Window.partitionBy(F.substring("text", 1, 40))
    base = train.select(
        "doc_id",
        "lang",
        "ts",
        F.size("ts").alias("n_tokens"),
        (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_dup"),
        (
            (F.size("ts") >= _MIN_TOKENS)
            & (
                F.size(F.array_distinct("ts"))
                >= _MIN_DISTINCT_RATIO * F.size("ts")
            )
        ).alias("quality_ok"),
    )
    contaminated = (
        base.filter(~F.col("is_dup") & F.col("quality_ok"))
        .select("doc_id", F.explode(shingles()).alias("sh"))
        .join(F.broadcast(eval_sh), "sh", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    flagged = (
        base.drop("ts")
        .join(contaminated, "doc_id", "left")
        .withColumn("contaminated", F.coalesce("contaminated", F.lit(False)))
    )
    keep = ~F.col("is_dup") & F.col("quality_ok") & ~F.col("contaminated")
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.sum((~F.col("is_dup")).cast("long")).alias("n_unique"),
            F.sum((~F.col("is_dup") & F.col("quality_ok")).cast("long")).alias(
                "n_quality"
            ),
            F.sum(keep.cast("long")).alias("n_clean"),
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(0)).alias(
                "tokens_clean"
            ),
        )
        .orderBy("lang")
    )

# ---------------------------------------------------------------------------
# RAG chunk index
# ---------------------------------------------------------------------------


@query(
    "pipeline_rag_index",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    ch AS (SELECT doc_id, k AS chunk_idx,
                  array_to_string(toks[(k-1)*10+1:k*10], ' ') AS chunk
           FROM d, unnest(range(1, 1 + len(toks) // 10)) AS u(k)),
    dd AS (SELECT doc_id, chunk_idx, chunk FROM (
             SELECT doc_id, chunk_idx, chunk,
                    row_number() OVER (PARTITION BY md5(chunk)
                                       ORDER BY doc_id, chunk_idx) AS rn
             FROM ch) WHERE rn = 1),
    st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                  CAST(sum(CASE WHEN list_contains(string_split(chunk, ' '), 'spark')
                           THEN 1 ELSE 0 END) AS DOUBLE) AS df1,
                  CAST(sum(CASE WHEN list_contains(string_split(chunk, ' '), 'join')
                           THEN 1 ELSE 0 END) AS DOUBLE) AS df2,
                  CAST(sum(CASE WHEN list_contains(string_split(chunk, ' '), 'fast')
                           THEN 1 ELSE 0 END) AS DOUBLE) AS df3
           FROM dd),
    sc AS (SELECT doc_id, chunk_idx,
             CAST(len(list_filter(string_split(chunk, ' '), x -> x = 'spark')) AS DOUBLE)
               * ln((SELECT n FROM st) / ((SELECT df1 FROM st) + 1.0))
             + CAST(len(list_filter(string_split(chunk, ' '), x -> x = 'join')) AS DOUBLE)
               * ln((SELECT n FROM st) / ((SELECT df2 FROM st) + 1.0))
             + CAST(len(list_filter(string_split(chunk, ' '), x -> x = 'fast')) AS DOUBLE)
               * ln((SELECT n FROM st) / ((SELECT df3 FROM st) + 1.0))
               AS score
           FROM dd)
    SELECT doc_id, chunk_idx, round(score, 6) AS score
    FROM sc WHERE score > 0
    ORDER BY round(score, 6) DESC, doc_id, chunk_idx LIMIT 50
    """,
)
def pipeline_rag_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG indexing pipeline as ONE composed plan:
    (1) cut documents into 10-token chunks, (2) exact-dedup chunks with a
    deterministic first-occurrence keeper (duplicated boilerplate must
    not dominate retrieval), (3) tf-idf score every surviving chunk
    against the fixed query {spark, join, fast} with idf from the DEDUPED
    chunk corpus, (4) emit the top-50 chunk references
    (doc_id, chunk_idx). This is the retrieval sibling of
    pipeline_corpus_datasheet: chunk → dedup → score → select, stages
    chained as views over one lazy plan so Catalyst fuses them.

    Determinism: per-term contributions sum in explicit fixed order; the
    score rounds to 6 dp before the (score DESC, doc_id, chunk_idx) cut.

    100 TB: chunking is a map-side explode; the dedup is one shuffle on
    chunk hash with a WindowGroupLimit-class rn=1 cut; corpus stats
    collapse to a one-row broadcast; scoring is a map; the final top-50
    is a TakeOrdered. The real index sink would add the inverted term
    list (text_tfidf's explode→agg shape) and the chunk embedding job
    (sim_ann_ivf's assignment shape) as parallel branches off stage 2."""
    terms = ("spark", "join", "fast")
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    n_chunks = F.floor(F.size("toks") / 10).cast("int")
    ch = d.select(
        "doc_id",
        F.posexplode(
            F.when(
                n_chunks >= 1,
                F.transform(
                    F.sequence(F.lit(1), n_chunks),
                    lambda k: F.concat_ws(
                        " ", F.slice("toks", (k - 1) * 10 + 1, 10)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "chunk"),
    ).select("doc_id", (F.col("pos") + 1).alias("chunk_idx"), "chunk")
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "chunk_idx")
    dd = (
        ch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "chunk_idx", F.split("chunk", " ").alias("ctoks"))
    )
    st = dd.agg(
        F.count("*").cast("double").alias("n"),
        *[
            F.sum(
                F.when(F.array_contains("ctoks", t), 1).otherwise(0)
            ).cast("double").alias(f"df{i + 1}")
            for i, t in enumerate(terms)
        ],
    )
    j = dd.join(F.broadcast(st))

    def _tf(term: str):
        return F.size(F.filter("ctoks", lambda x: x == F.lit(term))).cast(
            "double"
        )

    score = None
    for i, t in enumerate(terms):
        part = _tf(t) * F.log(F.col("n") / (F.col(f"df{i + 1}") + 1.0))
        score = part if score is None else score + part
    return (
        j.select("doc_id", "chunk_idx", F.round(score, 6).alias("score"))
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), "doc_id", "chunk_idx")
        .limit(50)
    )

# ---------------------------------------------------------------------------
# pretraining-mix manifest
# ---------------------------------------------------------------------------
# The full curation chain [eval split-out → quality gate → exact dedup
# keeper → n-gram decontamination → temperature mix] as ONE fused plan whose
# output is the per-(lang, source) data manifest a training run consumes:
# kept docs, kept tokens, temperature-mix rate and the resulting token
# budget. The stages re-state text_quality_logreg, dedup_cross_source's
# keeper rule, text_decontaminate's shingle overlap and
# sample_temperature's n^0.5 mix: filters chain before any shuffle, the
# dedup window and the manifest aggregate reuse one partitioning each, and
# the eval shingle set stays broadcast-sized.
#
# Determinism (SURVEY §5.3): the quality margin is raw IEEE with identical
# association; sqrt is IEEE-exact; the only order-sensitive sums are the
# ~20-term weight total (rounded to 6 before use) and integer token counts;
# the budget multiplies a pre-rounded rate by an integer then floors.
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")


@query(
    "pipeline_pretrain_mix",
    oracle="""
    WITH feats AS (
      SELECT doc_id, lang, source, text,
             4.0 * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                    / CAST(len(string_split(text, ' ')) AS DOUBLE))
           + 5.0 * (CAST(len(list_filter(string_split(text, ' '),
                      x -> x IN ('the','a','of','and','to','in','is','on','for','with')))
                    AS DOUBLE)
                    / CAST(len(string_split(text, ' ')) AS DOUBLE))
           + 0.2 * (CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                    / CAST(len(string_split(text, ' ')) AS DOUBLE))
           + 0.01 * CAST(len(string_split(text, ' ')) AS DOUBLE)
           - 3.75 AS margin
      FROM documents WHERE doc_id % 11 <> 0
    ),
    q AS (SELECT * FROM feats WHERE margin > 0),
    fps AS (
      SELECT *, md5(array_to_string(string_split(text, ' ')[1:16], ' ')) AS fp
      FROM q
    ),
    dd AS (
      SELECT * FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keeper FROM fps
      ) WHERE doc_id = keeper
    ),
    evsh AS (
      SELECT DISTINCT array_to_string(string_split(text, ' ')[i:i+4], ' ') AS sh
      FROM documents, unnest(generate_series(1, len(string_split(text, ' ')) - 4)) AS g(i)
      WHERE doc_id % 11 = 0
    ),
    contaminated AS (
      SELECT DISTINCT d.doc_id
      FROM (SELECT doc_id,
                   array_to_string(string_split(text, ' ')[i:i+4], ' ') AS sh
            FROM dd, unnest(generate_series(1, len(string_split(text, ' ')) - 4)) AS g(i)) d
      JOIN evsh ON d.sh = evsh.sh
    ),
    clean AS (
      SELECT dd.* FROM dd LEFT JOIN contaminated c ON dd.doc_id = c.doc_id
      WHERE c.doc_id IS NULL
    ),
    manifest AS (
      SELECT lang, source, count(*) AS n_kept,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok_kept,
             sqrt(CAST(count(*) AS DOUBLE)) AS w
      FROM clean GROUP BY lang, source
    ),
    tot AS (SELECT sum(w) AS sum_w, sum(tok_kept) AS total_tok FROM manifest)
    SELECT m.lang, m.source, m.n_kept, m.tok_kept,
           round(m.w / t.sum_w, 6) AS mix_rate,
           CAST(floor(round(m.w / t.sum_w, 6) * t.total_tok) AS BIGINT)
             AS tok_budget
    FROM manifest m CROSS JOIN tot t
    """,
)
def pipeline_pretrain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pretraining data manifest as one fused plan —

      eval split-out (doc_id % 11 = 0 held out)
        → frozen-model quality gate (margin > 0, zero-shuffle map)
        → exact dedup, first-occurrence keeper (one fp-window shuffle)
        → 5-token-shingle decontamination vs the eval set (explode +
          broadcast-sized eval join + anti join)
        → per-(lang, source) manifest with n^0.5 temperature-mix rates
          and floor(rate × total_tokens) budgets.

    100 TB plan audit: the quality filter and fingerprint are row-local
    and run BEFORE the first shuffle, so every survivor crosses the wire
    once; the dedup keeper is a window min on fp (no self-join); the eval
    shingle set derives from a fixed-size benchmark suite → always
    broadcastable; the manifest aggregate collapses to (lang × source)
    cells with the 2-scalar totals as a one-row cross join. No stage
    re-reads the corpus: documents is scanned twice total (corpus side +
    eval side), both column-pruned."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks).cast("double")
    margin = (
        F.lit(4.0) * (F.size(F.array_distinct(toks)).cast("double") / n_tok)
        + F.lit(5.0)
        * (
            F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))).cast("double")
            / n_tok
        )
        + F.lit(0.2)
        * ((F.length("text") - (F.size(toks) - 1)).cast("double") / n_tok)
        + F.lit(0.01) * n_tok
        - F.lit(3.75)
    )
    corpus = d.filter(F.col("doc_id") % 11 != 0)
    q = corpus.withColumn("margin", margin).filter(F.col("margin") > 0)
    fp = F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 16)))
    fps = q.withColumn("fp", fp)
    dd = (
        fps.withColumn("keeper", F.min("doc_id").over(Window.partitionBy("fp")))
        .filter(F.col("doc_id") == F.col("keeper"))
    )
    # CASE guard, not greatest(): sequence(1, 0) infers step -1 and yields
    # [1, 0] — short docs must map to an empty array.
    # Tokenize once into `t` per consumer: Catalyst does not CSE the
    # repeated split(text) across the lambda scope, so an inline form
    # re-splits every row three times inside the shingle fan-out.
    # shingle tokens via O(1) access, not slice() — slice inside a lambda
    # runs interpreted and copies the whole token array per shingle
    shingle_expr = F.expr(
        "CASE WHEN size(t) >= 5 THEN "
        "transform(sequence(1, size(t) - 4), "
        "i -> concat_ws(' ', t[i-1], t[i], t[i+1], t[i+2], t[i+3])) "
        "ELSE array() END"
    )
    evsh = (
        d.filter(F.col("doc_id") % 11 == 0)
        .select(F.split("text", " ").alias("t"))
        .select(F.explode(shingle_expr).alias("sh"))
        .distinct()
    )
    doc_sh = dd.select(
        "doc_id", F.split("text", " ").alias("t")
    ).select("doc_id", F.explode(shingle_expr).alias("sh"))
    contaminated = (
        doc_sh.join(F.broadcast(evsh), "sh").select("doc_id").distinct()
    )
    clean = dd.join(contaminated, "doc_id", "left_anti")
    manifest = clean.groupBy("lang", "source").agg(
        F.count("*").alias("n_kept"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("tok_kept"),
        F.sqrt(F.count("*").cast("double")).alias("w"),
    )
    tot = manifest.agg(
        F.sum("w").alias("sum_w"), F.sum("tok_kept").alias("total_tok")
    )
    rate = F.round(F.col("w") / F.col("sum_w"), 6)
    return (
        manifest.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_kept",
            "tok_kept",
            rate.alias("mix_rate"),
            F.floor(rate * F.col("total_tok")).cast("bigint").alias("tok_budget"),
        )
    )

# ---------------------------------------------------------------------------
# dedup cascade
# ---------------------------------------------------------------------------
# The shape every production corpus pipeline runs nightly: a re-crawl batch
# arrives (same content, new ids), exact dedup removes the verbatim
# re-ingests, near-dedup removes the boilerplate-variant survivors, and the
# manifest reports how much of each source survived each stage — the
# attrition audit that catches a crawler gone wrong before training does.
#
# The re-crawl is simulated deterministically (every doc_id % 10 == 0
# document re-ingested under doc_id + 100000, same text) so the exact stage
# has real work on this corpus (which has no verbatim dups of its own: 500
# distinct texts at sf0.01) while staying SQL-reproducible for the oracle.
# ---------------------------------------------------------------------------

_RECRAWL_SHIFT = 100000


@query(
    "pipeline_dedup_cascade",
    oracle=f"""
    WITH RECURSIVE
    ingest AS (
      SELECT doc_id, source, text FROM documents
      UNION ALL
      SELECT doc_id + {_RECRAWL_SHIFT} AS doc_id, source, text
      FROM documents WHERE doc_id % 10 = 0
    ),
    -- exact stage: ONE surviving row per distinct text, keeper = the
    -- lexicographically smallest (doc_id, source) row of the text group.
    -- r14 dup-id axis: the old min(doc_id)-key + USING(doc_id) join
    -- fanned out when a COLLIDING id carried two different texts (both
    -- groups bottom out at the same id — the join matched both), and the
    -- old manifest's LEFT JOIN ... ON doc_id fanned every colliding
    -- ingest row. All stages now carry ROW identity (rid), never doc_id.
    kept AS (
      SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id, source NULLS FIRST) AS rn
        FROM ingest) WHERE rn = 1
    ),
    kk AS (
      SELECT doc_id, source, text,
             row_number() OVER (ORDER BY doc_id, source NULLS FIRST,
                                         md5(text)) AS rid
      FROM kept
    ),
    -- zip-unnest + window-lead 5-gram shingles (r14): per-position
    -- substring is O(offset) in DuckDB and a lateral carrying the char
    -- array copies it per position — both O(len²) per doc; see
    -- dedup_near_minhash for the full rationale
    ch AS (
      SELECT rid, string_split(text, '') AS c FROM kk WHERE length(text) >= 5
    ),
    cr AS (
      SELECT rid, unnest(c) AS c1, unnest(range(1, len(c) + 1)) AS i
      FROM ch
    ),
    sh AS (
      SELECT DISTINCT rid, g FROM (
        SELECT rid,
               c1 || lead(c1, 1) OVER w || lead(c1, 2) OVER w
                  || lead(c1, 3) OVER w || lead(c1, 4) OVER w AS g
        FROM cr WINDOW w AS (PARTITION BY rid ORDER BY i)
        QUALIFY lead(c1, 4) OVER w IS NOT NULL)
      UNION
      SELECT DISTINCT rid, text AS g FROM kk WHERE length(text) < 5
    ),
    sz AS (SELECT rid, count(*) AS n FROM sh GROUP BY rid),
    inter AS (
      SELECT a.rid AS a_id, b.rid AS b_id, count(*) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.rid < b.rid
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a_id, b_id FROM inter
      JOIN sz sa ON sa.rid = a_id
      JOIN sz sb ON sb.rid = b_id
      WHERE 1.0 - i / CAST(sa.n + sb.n - i AS DOUBLE) <= 0.6
    ),
    und AS (SELECT a_id AS src, b_id AS dst FROM pairs
            UNION ALL SELECT b_id, a_id FROM pairs),
    walk(node, label) AS (
      SELECT rid, rid FROM kk
      UNION
      SELECT u.dst, w.label FROM walk w JOIN und u ON u.src = w.node
    ),
    comp AS (SELECT node AS rid, min(label) AS cluster_id
             FROM walk GROUP BY node),
    near_kept AS (
      SELECT k.rid, k.source FROM kk k
      JOIN comp c ON c.rid = k.rid AND c.cluster_id = k.rid
    ),
    im AS (SELECT source, count(*) AS n_ingested FROM ingest GROUP BY source),
    em AS (SELECT source, count(*) AS n_after_exact FROM kept GROUP BY source),
    nm AS (SELECT source, count(*) AS n_after_near FROM near_kept GROUP BY source)
    SELECT im.source, im.n_ingested,
           coalesce(em.n_after_exact, 0) AS n_after_exact,
           coalesce(nm.n_after_near, 0) AS n_after_near,
           round(CAST(coalesce(nm.n_after_near, 0) AS DOUBLE)
                 / im.n_ingested, 4) AS retention
    FROM im
    LEFT JOIN em ON im.source IS NOT DISTINCT FROM em.source
    LEFT JOIN nm ON im.source IS NOT DISTINCT FROM nm.source
    """,
)
def pipeline_dedup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cascade capstone: (re-crawl ∪ corpus) → exact md5 dedup →
    MinHash-LSH near-dedup (the dedup_near_minhash kernel, reused on the
    exact survivors) → connected-component canonicalization
    (engine.dedup.component_losers) → per-source attrition manifest
    (ingested / after-exact / after-near / retention).

    Stage plan, in 100 TB terms:
    1. EXACT — one hash shuffle on md5(text) with a partial-agg min_by;
       keeper = lexicographically smallest (doc_id, source) row per text
       group (row-level semantics that stay well-defined when a doc_id
       collides — see the stage comment). Runs FIRST because it
       is the cheapest stage and every row it kills never reaches the
       shingle explode (the expensive part). md5 here, not xxhash64: the
       oracle must compute the identical hash, and a 128-bit digest makes
       cross-text collisions a non-concern at any corpus size.
    2. NEAR — the bucketed MinHash kernel (32 perms, 16×r=2 bands,
       frequency-capped buckets: candidate work O(Σ min(|bucket|,cap)²),
       recall 1.0 on this corpus, unit-tested at the kernel level),
       keyed on the struct row-identity (doc_id, source, text-hash).
    3. COMPONENTS — near-dup pairs are a tiny edge list (25 pairs at
       sf0.01), so one bounded collect feeds a driver union-find; past
       the pair cap the distributed min-label loop takes over, with the
       same keeper. Keeper = min (doc_id, source, …) row per component,
       so a re-crawled variant can never oust an original.
    4. MANIFEST — three bounded per-source counts joined on the source
       key; output is source-cardinality, not corpus-cardinality.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    recrawl = d.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(_RECRAWL_SHIFT)
    )
    ingest = d.unionByName(recrawl)

    # Stage 1: exact dedup — ONE surviving row per distinct text, keeper =
    # lexicographically smallest (doc_id, source). Keyed on row identity,
    # not doc_id: a min(doc_id)-per-hash + left-semi-on-doc_id keeper keeps
    # BOTH texts of a colliding id (right) but also byte-identical replays
    # sharing an id (wrong), and leaves downstream stages keyed on a
    # no-longer-unique doc_id. min_by over the md5 group is one hash
    # shuffle with partial aggregation and no keeper join.
    kept = (
        ingest.groupBy(F.md5("text").alias("hkey"))
        .agg(
            F.min_by(
                F.struct("doc_id", "source", "text"),
                F.struct("doc_id", "source"),
            ).alias("k")
        )
        .select("k.doc_id", "k.source", "k.text")
    )

    # Stage 2: near-dup pairs on the exact survivors (shared kernel).
    # Kernel identity is the struct (doc_id, source, xxhash64(text)) —
    # unique (text is unique in kept), opaque to the kernel (groupBy /
    # join / '<' all order structs lexicographically), and its ordering
    # agrees with the oracle's rid ordering on the (doc_id, source)
    # prefix; the third term differs (xxhash64 vs md5) but only breaks
    # ties WITHIN a (doc_id, source) pair, which the per-source manifest
    # cannot observe.
    from engine.dedup import component_losers, minhash_near_pairs

    kid = F.struct(
        F.col("doc_id"), F.col("source"), F.xxhash64("text").alias("h")
    )
    keptk = kept.select(kid.alias("kid"), "source", "text")
    pairs = minhash_near_pairs(
        keptk.select(F.col("kid").alias("doc_id"), "text")
    ).select("a_id", "b_id")

    # Stage 3: connected components over the pair graph — only nodes that
    # appear in a pair can lose their own label; absent nodes are
    # singletons. component_losers is the one kernel both dedup capstones
    # share: under its pair cap the pairs are collected ONCE into a driver
    # union-find (a distributed min-label round costs a join+agg job, a
    # checkpoint and a probe job — 8-12 jobs of pure round-trip latency for
    # a pair list that is KBs); past the cap the distributed min-label
    # loop runs instead. Keeper semantics are IDENTICAL on both paths: the
    # component minimum under the struct (doc_id, source, h) ascending
    # order with NULLS FIRST per field.
    losers = component_losers(spark, pairs)
    near_kept = keptk.join(losers, keptk.kid == losers.node, "left_anti").select(
        "source"
    )

    # Stage 4: per-source attrition manifest. The three counts join with
    # eqNullSafe: groupBy keeps a NULL-source group, and the
    # oracle's LEFT JOIN ... GROUP BY i.source counts it like any other
    # source — a plain equi-join would zero its attrition columns.
    n_in = ingest.groupBy("source").agg(F.count(F.lit(1)).alias("n_ingested"))
    n_ex = kept.groupBy(F.col("source").alias("s_ex")).agg(
        F.count(F.lit(1)).alias("n_after_exact")
    )
    n_nr = near_kept.groupBy(F.col("source").alias("s_nr")).agg(
        F.count(F.lit(1)).alias("n_after_near")
    )
    return (
        n_in.join(n_ex, F.col("source").eqNullSafe(F.col("s_ex")), "left")
        .join(n_nr, F.col("source").eqNullSafe(F.col("s_nr")), "left")
        .select(
            "source",
            "n_ingested",
            F.coalesce("n_after_exact", F.lit(0)).alias("n_after_exact"),
            F.coalesce("n_after_near", F.lit(0)).alias("n_after_near"),
            F.round(
                F.coalesce("n_after_near", F.lit(0)).cast("double")
                / F.col("n_ingested"),
                4,
            ).alias("retention"),
        )
    )

# ---------------------------------------------------------------------------
# persisted ANN index
# ---------------------------------------------------------------------------
# sim_ann_ivf demonstrates the IVF *algorithm* in one plan; real systems
# separate BUILD (expensive, once) from SERVE (cheap, many): the index is a
# pair of parquet artifacts — a centroid table and a cluster-keyed postings
# table — and queries only ever read the probed clusters' postings. This
# capstone exercises that storage contract end-to-end.
# ---------------------------------------------------------------------------

_QUERY_IDS = [0, 50, 100, 150, 200]
_K = 5
_NPROBE = 3


@query(
    "pipeline_ann_index_build",
    # FULL oracle under the same contract as sim_ann_ivf: the stored-index
    # serve path achieves recall 1.0 on this corpus deterministically
    # (fixed centroids = 8 lowest vec_ids, clustered embeddings [DATA]);
    # the oracle is the exact brute-force top-5 per query, so any recall
    # regression in build/store/serve becomes a driver hash mismatch. The
    # recall floor is separately unit-tested.
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding FROM embeddings
      WHERE vec_id IN ({", ".join(str(i) for i in _QUERY_IDS)})
    ),
    sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_dot_product(q.embedding::DOUBLE[],
                                    e.embedding::DOUBLE[]), 4) AS sim
      FROM q JOIN embeddings e ON e.vec_id != q.query_id
      WHERE e.embedding IS NOT NULL AND len(e.embedding) = (SELECT len(embedding) FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1 ORDER BY count(*) DESC, len(embedding) LIMIT 1)
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY sim DESC, neighbor_id) AS rnk
      FROM sims
    )
    SELECT query_id, CAST(rnk AS INT) AS rnk, neighbor_id, sim
    FROM ranked WHERE rnk <= {_K}
    """,
)
def pipeline_ann_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index lifecycle capstone: BUILD (assign every vector to its
    top-3 of 8 deterministic centroids — multi-assigned postings), PERSIST
    (centroids.parquet + cluster-partitioned postings.parquet), LOAD
    (fresh reads of both artifacts), SERVE (5 fixed query vectors probe
    their nprobe=3 nearest centroids and exact-search ONLY those
    clusters' postings for the top-5 neighbors).

    Storage layout IS the query plan: postings are written
    `partitionBy(cluster)`, so a query touching 3 of 8 clusters reads 3
    directories — partition pruning does the IVF candidate narrowing at
    the STORAGE layer (the serve-side filter is `cluster IN probed`,
    plan-prunable). At 100 TB: build is one mapInPandas pass + one
    partitioned write; serving N queries batches them into one join
    against the pruned postings; nlist grows ~√n so per-cluster postings
    stay bounded. Exactly the FAISS IVF file layout, expressed as
    parquet + directories."""
    import numpy as np

    from engine.simsearch import ivf_assign, ivf_nlist
    from engine.tables import vectors

    emb = vectors(spark, sf_dir)
    # nlist scales ~sqrt(n) from footer stats, by sim_ann_ivf's rule (its
    # floor keeps every driver/test SF at exactly 8, so stored-index
    # oracle results are unchanged); here the win is serve-side read
    # amplification: probed clusters hold n·nprobe/nlist postings each, so
    # a fixed nlist makes every query scan O(n) postings while
    # sqrt-scaling keeps it O(sqrt n).
    from engine.tables import parquet_num_rows

    nlist = ivf_nlist(parquet_num_rows(f"{sf_dir}/embeddings.parquet"))
    cents_pdf = emb.orderBy("vec_id").limit(nlist).select("vec_id", "embedding").toPandas()
    if len(cents_pdf) == 0:
        # empty corpus: no index to build, no queries to serve — matches
        # the oracle's empty neighbor list
        return spark.createDataFrame(
            [], "query_id long, rnk int, neighbor_id long, sim double"
        )
    c_mat = np.stack(cents_pdf["embedding"].to_numpy()).astype(np.float64)
    bc = spark.sparkContext.broadcast(c_mat)

    base = scratch_dir(prefix=f"sg-annidx-{sftag(sf_dir)}-")

    # BUILD: multi-assignment — every vector is stored in its top-nprobe
    # clusters (postings replicated ×nprobe), which restores recall 1.0
    # here at ×nprobe storage; sim_ann_ivf runs the same kernel.
    postings = emb.mapInPandas(
        partial(ivf_assign, bc, _NPROBE),
        "cluster int, vec_id long, embedding array<float>",
    )
    # PERSIST: the index = centroids + cluster-partitioned postings.
    spark.createDataFrame(cents_pdf).write.mode("overwrite").parquet(
        f"{base}/centroids"
    )
    postings.write.mode("overwrite").partitionBy("cluster").parquet(
        f"{base}/postings"
    )

    # LOAD: fresh reads — from here on, only the stored artifacts are used.
    cents_back = spark.read.parquet(f"{base}/centroids").orderBy("vec_id").toPandas()
    c_back = np.stack(cents_back["embedding"].to_numpy()).astype(np.float64)
    post_back = spark.read.parquet(f"{base}/postings")

    # SERVE: probe nprobe nearest centroids per query, search only those
    # clusters' postings. Queries are batched into ONE pruned join.
    q_pdf = (
        emb.filter(F.col("vec_id").isin(_QUERY_IDS))
        .select("vec_id", "embedding")
        .toPandas()
    )
    q_mat = np.stack(q_pdf["embedding"].to_numpy()).astype(np.float64)
    probes = np.argsort(-(q_mat @ c_back.T), axis=1)[:, :_NPROBE]
    probe_rows = [
        (int(q_pdf["vec_id"].iloc[i]), [float(x) for x in q_mat[i]], [int(c) for c in probes[i]])
        for i in range(len(q_pdf))
    ]
    qdf = spark.createDataFrame(
        probe_rows, "query_id long, q_emb array<double>, probed array<int>"
    ).select("query_id", "q_emb", F.explode("probed").alias("cluster"))
    # Equi-join on the exploded probe list: a broadcast HASH join keyed on
    # cluster (never a nested-loop on array_contains), and the cluster key
    # is the postings' partition column — the storage layout does the IVF
    # candidate narrowing.
    cand = post_back.join(F.broadcast(qdf), "cluster").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(dot("q_emb", "embedding"), 4).alias("sim"),
    ).dropDuplicates(["query_id", "neighbor_id"])  # multi-assigned postings
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= _K)
        .select("query_id", "rnk", "neighbor_id", "sim")
    )

# ---------------------------------------------------------------------------
# streaming serving
# ---------------------------------------------------------------------------
# The ONLINE side every product analytics stack runs: a stream of events
# lands in micro-batches, bad rows are gated out, per-window aggregates are
# maintained incrementally in a keyed serving table, and dashboards read
# that table — never the raw stream.
# ---------------------------------------------------------------------------


@query(
    "pipeline_stream_serving",
    # FULL oracle: the 3-batch replay's merges are associative per
    # (window, type) key and the batch order is fixed, so the final
    # serving table equals the one-shot filtered batch aggregate.
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS cnt,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE event_type != 'error' AND value >= 0
    GROUP BY 1, 2
    """,
)
def pipeline_stream_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming serving capstone: events replayed as three micro-batches
    (event_id % 3 split, so every hourly window receives contributions
    from EVERY batch and the merge genuinely sums); each batch is
    quality-gated (drop 'error' events and negative values — the
    row-local filter runs before any state), aggregated to
    (hour, event_type) deltas, and MERGED into a keyed parquet serving
    table via foreachBatch (``merge_table``: insert-new / sum-existing,
    write-then-swap). The returned relation is what a dashboard reads:
    the serving table after the final merge — provably equal to the
    one-shot batch aggregate (the oracle).

    100 TB/day: this is THE incremental-analytics contract —
    (a) gate rows BEFORE stateful work (rejected rows never shuffle),
    (b) aggregate the batch to delta grain before touching the state
    (merge IO is O(windows), not O(events)), (c) keep the merge
    associative + idempotent-per-batch so replays and retries converge,
    (d) serve reads from the compact keyed table, never the stream.
    foreachBatch's per-batch transactionality caveat (and the
    table-format upgrade path) is documented at
    stream_foreachbatch_upsert."""
    table = f"{scratch_dir(prefix=f'sg-serving-{sftag(sf_dir)}-')}/table"
    # The three batch files are fixture prep, built once per corpus file
    # identity. Every timed run still executes a real streaming query:
    # fresh checkpoint, fresh serving table, real merges.
    src = replay_fixture(
        f"{sf_dir}/events.parquet",
        "srv-src",
        lambda: load(spark, sf_dir, "events").select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "event_type",
            "value",
        ),
        [F.col("event_id") % 3 == i for i in range(3)],
    )

    s = (
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        delta = (
            batch_df.filter((F.col("event_type") != "error") & (F.col("value") >= 0))
            .groupBy(
                F.date_trunc("hour", "ts").alias("window_start"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"))
        )
        merge_table(table, delta, ["window_start", "event_type"], 4)

    run_stream(s, merge, sf_dir)
    return spark.read.parquet(table).select(
        "window_start",
        "event_type",
        "cnt",
        F.round(F.col("sv"), 2).alias("total_value"),
    )

# ---------------------------------------------------------------------------
# incremental corpus refresh and its persisted index
# ---------------------------------------------------------------------------
# Dedup the NEWLY ARRIVED batch against the existing corpus without ever
# re-deduping the existing corpus against itself. pipeline_dedup_cascade
# is the full rebuild; production corpora refresh INCREMENTALLY: tonight's
# crawl must be checked (a) exactly and (b) near-duplicately against
# everything already accepted, plus within itself — but old-vs-old work is
# never repeated and old documents are never dropped. The asymmetry is the
# entire cost model: incremental refresh is O(new × collisions), not
# O((old+new)²).
# ---------------------------------------------------------------------------

# Broadcast the new-side band rows into the stored-index join only while
# the batch is provably small (≤ this many docs ⇒ ≤ 16× band rows ≈
# 25 MB payload); past it the new side is a growing fact relation and
# must shuffle — an unconditional broadcast OOMed the 16g local driver
# at the 100k-doc batch rehearsal.
_BROADCAST_BATCH_MAX_DOCS = 50_000


@query(
    "pipeline_incremental_refresh",
    # FULL oracle under the kernel's recall-1.0 contract (see
    # dedup_near_minhash): near-dup pairs are recomputed exactly in SQL;
    # the incremental semantics (old never dropped, new checked against
    # old then within itself with min-id keepers) are pure set algebra.
    oracle="""
    WITH RECURSIVE
    old AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 5 != 0),
    new AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 5 = 0),
    ex_drop AS (
      SELECT n.doc_id FROM new n
      WHERE md5(n.text) IN (SELECT md5(text) FROM old)
    ),
    sh AS (
      SELECT doc_id, g FROM (
        SELECT doc_id, substring(text, CAST(i AS INT), 5) AS g
        FROM documents,
             UNNEST(range(1, greatest(length(text) - 4, 1) + 1)) AS t(i)
      ) GROUP BY doc_id, g
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a_id, b_id FROM inter
      JOIN sz sa ON sa.doc_id = a_id
      JOIN sz sb ON sb.doc_id = b_id
      WHERE 1.0 - i / CAST(sa.n + sb.n - i AS DOUBLE) <= 0.6
    ),
    new1 AS (  -- new docs surviving the exact stage
      SELECT doc_id, source FROM new
      WHERE doc_id NOT IN (SELECT doc_id FROM ex_drop)
    ),
    near_old_drop AS (  -- survivor pairs with ANY old partner
      SELECT DISTINCT n.doc_id FROM new1 n
      JOIN pairs p ON (p.a_id = n.doc_id AND p.b_id IN (SELECT doc_id FROM old))
                   OR (p.b_id = n.doc_id AND p.a_id IN (SELECT doc_id FROM old))
    ),
    new2 AS (
      SELECT doc_id, source FROM new1
      WHERE doc_id NOT IN (SELECT doc_id FROM near_old_drop)
    ),
    nn AS (  -- near pairs entirely within the remaining new docs
      SELECT a_id, b_id FROM pairs
      WHERE a_id IN (SELECT doc_id FROM new2)
        AND b_id IN (SELECT doc_id FROM new2)
    ),
    und AS (SELECT a_id AS src, b_id AS dst FROM nn
            UNION ALL SELECT b_id, a_id FROM nn),
    walk(node, label) AS (
      SELECT doc_id, doc_id FROM new2
      UNION
      SELECT u.dst, w.label FROM walk w JOIN und u ON u.src = w.node
    ),
    comp AS (SELECT node AS doc_id, min(label) AS cid FROM walk GROUP BY node),
    within_drop AS (SELECT doc_id FROM comp WHERE doc_id != cid)
    SELECT n.source,
           count(*) AS n_arrived,
           CAST(count(CASE WHEN n.doc_id IN (SELECT doc_id FROM ex_drop)
                      THEN 1 END) AS BIGINT) AS drop_exact_vs_old,
           CAST(count(CASE WHEN n.doc_id IN (SELECT doc_id FROM near_old_drop)
                      THEN 1 END) AS BIGINT) AS drop_near_vs_old,
           CAST(count(CASE WHEN n.doc_id IN (SELECT doc_id FROM within_drop)
                      THEN 1 END) AS BIGINT) AS drop_within_new,
           CAST(count(*)
                - count(CASE WHEN n.doc_id IN (SELECT doc_id FROM ex_drop)
                        THEN 1 END)
                - count(CASE WHEN n.doc_id IN (SELECT doc_id FROM near_old_drop)
                        THEN 1 END)
                - count(CASE WHEN n.doc_id IN (SELECT doc_id FROM within_drop)
                        THEN 1 END) AS BIGINT) AS n_accepted
    FROM new n GROUP BY n.source
    """,
)
def pipeline_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus refresh capstone: the arriving batch (doc_id %
    5 == 0, simulating tonight's crawl) is admitted through three
    asymmetric gates — exact hash vs the EXISTING corpus, near-dup vs
    the existing corpus, then near-dup within the batch itself
    (min-id-keeper components) — and the per-source manifest accounts
    for every arrival: dropped-exact, dropped-near-vs-old,
    dropped-within-new, accepted. Old documents are never candidates for
    dropping; old-vs-old pairs are never computed into any decision.

    Scale design: the accepted corpus's dedup state is WRITTEN ONCE as
    three parquet artifacts (exact hashes, minhash signatures + shingle
    sets, capped LSH band rows — build_refresh_index), and the refresh
    path (refresh_against_index) reads ONLY those artifacts plus the new
    batch: the old side's text is never re-shingled, making refresh cost
    O(new × band collisions) instead of O(old + new) per run. Enforced by
    tests/test_pipeline6.py::test_refresh_reads_only_index_and_new_batch
    via DataFrame.inputFiles(). In this registered capstone the build
    runs first against the old split (production would have built it when
    those documents were accepted); the decision algebra — exact gate,
    asymmetric near gate, within-batch components — is unchanged."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    is_new = F.col("doc_id") % 5 == 0
    new = d.filter(is_new)
    old = d.filter(~is_new)

    # The index is the PERSISTED state of the accepted corpus — in
    # production it outlives every refresh run and is only ever appended
    # to. Model that here: build once per corpus file identity per process
    # (fixture_dir) and reuse across invocations (bench warm runs, repeated
    # driver checks); a regenerated corpus or a torn index (CURRENT gone,
    # e.g. a tmp cleaner) rebuilds.
    base = fixture_dir(
        os.path.join(sf_dir, "documents.parquet"),
        "refreshidx",
        lambda d: build_refresh_index(spark, old, d),
        lambda d: _current_gen(d) is not None,
    )
    return refresh_against_index(spark, new, base)


# Increment-aging policy (measured: scripts/refresh_rehearsal.py --aging-raw,
# table in docs/SCALE.md r08). The per-bucket candidate cap is per-increment,
# so a stored bucket's refresh fan-out grows as cap × #increments: raw creep
# measured ~+0.5 s/increment at sf0.1 on the clone-dense shape (6.6 s at 0
# increments → ~14–16 s at 13–15), while compaction is a 2.5 s signatures-only
# merge that restores the 0-increment cost exactly. So append auto-compacts
# every _AUTO_COMPACT_INCREMENTS increments (amortized ~0.3 s/batch for a
# bounded ≤ ~+1 s creep band); callers that opt out (auto_compact_after=None)
# get a warning past _COMPACT_WARN_INCREMENTS instead of silent degradation.
_AUTO_COMPACT_INCREMENTS = 8
_COMPACT_WARN_INCREMENTS = 16


def _current_gen(base: str) -> str | None:
    """Resolve the live generation directory via the CURRENT pointer file
    (same atomic-pointer idiom as sink_atomic_publish):
    returns None when the index is absent, torn, or pre-publish."""
    try:
        with open(os.path.join(base, "CURRENT")) as fh:
            gen = fh.read().strip()
    except OSError:
        return None
    p = os.path.join(base, gen)
    return p if os.path.isdir(os.path.join(p, "bands")) else None


def _increments(gen_dir: str) -> list[str]:
    """Published increments of a generation, oldest first. Only renamed
    inc-NNNNNN dirs count — a crash mid-append leaves an .inc-tmp-* dir
    that no reader ever lists (the torn-increment guarantee)."""
    return sorted(
        d
        for d in glob.glob(os.path.join(gen_dir, "inc-[0-9]*"))
        if os.path.isdir(os.path.join(d, "bands"))
    )


def _artifact_paths(gen_dir: str, name: str) -> list[str]:
    return [os.path.join(gen_dir, name)] + [
        os.path.join(inc, name) for inc in _increments(gen_dir)
    ]


# Writers (build/append/compact) serialize on an advisory flock; a writer
# that cannot acquire it within this many seconds fails loudly instead of
# deadlocking a pipeline run. Readers never take it — see _writer_lock.
_WRITER_LOCK_TIMEOUT_S = 600.0


@contextlib.contextmanager
def _writer_lock(base: str, timeout: float = _WRITER_LOCK_TIMEOUT_S):
    """Mutual exclusion for index WRITERS (build / append / compact).

    The generational protocol is atomic for any number of READERS (the
    CURRENT pointer swap + one-generation vacuum grace), but it is
    single-writer by construction: without exclusion, an append that
    resolves the live generation while a compaction is folding it lands
    its increment in the about-to-be-superseded generation, where the
    NEXT pointer swap silently vacuums it — lost accepted documents, the
    one failure mode of this layout that corrupts rather than crashes.
    (Two concurrent appends are merely crash-loud: both derive the same
    inc-NNNNNN name and the second rename dies with ENOTEMPTY.)

    So every writer takes an exclusive ``flock`` on ``base/.write.lock``
    for its whole publish sequence, and ``append_to_refresh_index``
    re-resolves the live generation only AFTER acquiring it (an append
    that waited out a compaction lands in the new generation). Readers
    (refresh_against_index / refresh_decisions) stay lock-free.

    Scope: ``flock`` is host-local advisory locking — exactly right for
    this repo's single-driver pipelines, where all writers are processes
    on the driver host. On a multi-driver deployment over an object
    store (no flock), the same layout maps onto a table format's
    optimistic-commit protocol (Delta/Iceberg style: writers prepare
    increments/generations in private dirs — already the .tmp idiom
    here — then win or retry the pointer CAS); the single-writer
    contract documented here is what that protocol enforces at scale.
    Acquisition polls LOCK_NB so a stuck peer surfaces as a loud
    TimeoutError instead of an indefinite hang."""
    os.makedirs(base, exist_ok=True)
    fd = os.open(os.path.join(base, ".write.lock"), os.O_CREAT | os.O_RDWR, 0o644)
    try:
        deadline = time.monotonic() + timeout
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except OSError as e:
                if e.errno not in (errno.EAGAIN, errno.EACCES):
                    raise
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"refresh-index writer lock at {base} not acquired "
                        f"within {timeout:.0f}s — another build/append/"
                        "compact holds it (or died without the OS reaping "
                        "it, which flock rules out for dead processes)"
                    ) from None
                time.sleep(0.05)
        yield
    finally:
        # flock releases on close even after a crash-mid-publish; the
        # torn .tmp dirs such a crash leaves are invisible to readers.
        os.close(fd)


def _publish_pointer(base: str, gen_name: str) -> None:
    tmp = os.path.join(base, ".CURRENT.tmp")
    with open(tmp, "w") as fh:
        fh.write(gen_name)
    os.replace(tmp, os.path.join(base, "CURRENT"))  # atomic commit


def _prune_generations(base: str, keep: set[str]) -> None:
    """Retention after a pointer swap: delete every published generation
    except ``keep`` = {live, just-superseded}. Keeping exactly one
    superseded generation is the table-format vacuum grace period: a
    refresh manifest PLANNED before a swap holds file references into the
    old generation, and Spark plans are lazy — immediate deletion made
    `m = refresh_against_index(...); append(...)  # auto-compacts;
    m.collect()` throw FileNotFoundException. One retained generation
    means any plan survives the next swap; only a plan held across TWO
    swaps is past retention (and fails loudly, never wrongly). Disk cost
    is bounded at ~2x the index, reclaimed at the following swap."""
    for d in glob.glob(os.path.join(base, "gen-[0-9]*")):
        if os.path.basename(d) not in keep:
            shutil.rmtree(d, ignore_errors=True)


def _next_seq(base: str, prefix: str) -> str:
    ns = [
        int(os.path.basename(d)[len(prefix):])
        for d in glob.glob(os.path.join(base, f"{prefix}[0-9]*"))
        if os.path.basename(d)[len(prefix):].isdigit()
    ]
    return f"{prefix}{max(ns, default=0) + 1:06d}"


def build_refresh_index(spark: SparkSession, accepted: DataFrame, base: str) -> None:
    """Write the accepted corpus's dedup-index artifacts under ``base`` —
    the once-per-acceptance cost that makes every later refresh O(new):

    - ``exact/``: distinct md5 text hashes (gate-1 key);
    - ``sigs/``:  minhash_signatures output (doc_id, m0..m31, hs) — the
      Jaccard-estimate columns and exact shingle sets the verify stage
      needs, so no verification ever touches accepted text again;
    - ``bands/``: (band, k1, k2, doc_id) LSH band rows with the kernel's
      bucket cap applied per stored bucket (a mega-bucket is dropped at
      build time exactly as the one-shot kernel drops it at join time).

    The only stage that reads ``accepted.text`` is the signature pass; the
    band rows are derived from the WRITTEN sigs parquet (one shingle pass
    total, and the derive is a 32-int-column projection). At 100 TB the
    artifacts grow per accepted batch (append_to_refresh_index — the
    write half of the refresh loop) — band rows partition by their (k1)
    hash prefix naturally under parquet. For batches under
    _BROADCAST_BATCH_MAX_DOCS the refresh join broadcasts the new side
    so the stored index streams through one scan with no shuffle of the
    old side; past that bound the new side is a growing fact relation
    and refresh_against_index deliberately takes the shuffle join (see
    the constant's rationale).

    Layout (the LSM/table-format shape): artifacts live under a
    GENERATION directory named by the CURRENT pointer file; appends
    publish increment subdirs inside the generation by atomic rename;
    compaction (compact_refresh_index) merges generation + increments
    into a new generation and swaps the pointer. Every publish step is a
    single rename/replace, so no reader ever observes a torn index —
    the pointer idiom sink_atomic_publish demonstrates as an operator.

    Writers serialize on ``_writer_lock`` (multi-process safety — see
    its docstring for the race it closes and the cluster-scale analog)."""
    os.makedirs(base, exist_ok=True)
    with _writer_lock(base):
        tmp = tempfile.mkdtemp(dir=base, prefix=".gen-tmp-")
        _write_index_artifacts(spark, accepted, tmp)
        gen_name = _next_seq(base, "gen-")
        os.rename(tmp, os.path.join(base, gen_name))
        old_gen = _current_gen(base)
        _publish_pointer(base, gen_name)
        keep = {gen_name} | ({os.path.basename(old_gen)} if old_gen else set())
        _prune_generations(base, keep)


def append_to_refresh_index(
    spark: SparkSession,
    accepted: DataFrame,
    base: str,
    *,
    auto_compact_after: int | None = _AUTO_COMPACT_INCREMENTS,
) -> None:
    """Append a newly ACCEPTED batch's dedup state to an existing index —
    the write half of the production refresh loop: refresh gates a batch
    against the index, then the survivors are appended so the NEXT batch
    sees them as accepted corpus. Same three artifacts written into a
    fresh increment dir and published into the live generation by ONE
    atomic rename (no rewrite of existing bytes, and a crash before the
    rename leaves an invisible .inc-tmp-* dir instead of a torn index),
    so index maintenance is O(batch) — the accepted corpus's text is
    never re-read, exactly like refresh itself.

    Bucket-cap semantics under append (the LSM trade): the cap is
    applied WITHIN each increment, so a stored bucket can exceed the cap
    across increments — candidate fan-out per refresh is then bounded by
    cap × #increments for that bucket rather than cap. Correctness is
    unaffected (verification is exact), but refresh latency creeps with
    increment count (measured ~+0.5 s/increment at sf0.1 — docs/SCALE.md
    r08 aging table), so append AUTO-COMPACTS once ``auto_compact_after``
    increments accumulate — the LSM re-merge (compact_refresh_index) that
    restores the global cap and the flat refresh cost for ~0.3 s/batch
    amortized. Pass ``auto_compact_after=None`` to manage compaction
    yourself; if increments then accumulate past _COMPACT_WARN_INCREMENTS
    (also possible with a managed threshold laxer than that bound) the
    append degrades loudly via a RuntimeWarning instead of silently.
    tests/test_pipeline6.py::test_refresh_index_append_loop drives two
    generations end-to-end; the auto-compaction policy curve is pinned by
    test_auto_compaction_bounds_increment_count.

    Writers serialize on ``_writer_lock``; the live generation is
    resolved AFTER acquiring it, so an append that waited behind a
    compaction publishes into the new generation instead of the
    about-to-be-vacuumed one (tests/test_pipeline6.py::
    test_append_waits_for_writer_lock pins both properties)."""
    with _writer_lock(base):
        gen = _current_gen(base)
        if gen is None:
            raise FileNotFoundError(
                f"no published refresh index under {base}; run build_refresh_index"
            )
        tmp = tempfile.mkdtemp(dir=gen, prefix=".inc-tmp-")
        _write_index_artifacts(spark, accepted, tmp, max_files=_INCREMENT_MAX_FILES)
        os.rename(tmp, os.path.join(gen, _next_seq(gen, "inc-")))
        n_inc = len(_increments(gen))
        if auto_compact_after is not None and n_inc >= auto_compact_after:
            _compact_impl(spark, base)
            return
    if n_inc > _COMPACT_WARN_INCREMENTS:
        # Reached only when this call did NOT fold: the caller opted out
        # (None) or chose a threshold laxer than the warn bound and the
        # fan-out has now passed the recommended degradation point.
        # Either way the creep is real, so the heads-up is legitimate —
        # a managed caller with a threshold AT OR UNDER the warn bound
        # can never land here (the first branch folds first).
        warnings.warn(
            f"refresh index at {base} has {n_inc} increments (warn bound "
            f"{_COMPACT_WARN_INCREMENTS}): per-bucket candidate fan-out "
            "and artifact file count grow with increments — run "
            "compact_refresh_index(spark, base) to re-merge",
            RuntimeWarning,
            stacklevel=2,
        )


def compact_refresh_index(spark: SparkSession, base: str) -> None:
    """LSM re-merge: fold the live generation and all its increments into
    ONE new generation and atomically swap the CURRENT pointer. Reads
    ONLY the stored artifacts — never any document text: exact hashes
    union-distinct; signatures concatenate (increments are doc-disjoint
    by construction); band rows re-derive from the merged signatures, so
    the per-bucket candidate cap becomes GLOBAL again instead of
    per-increment. Cost is O(corpus signatures) — cheaper than the
    from-scratch build by the whole shingle pass. The superseded
    generation is RETAINED through one more swap (_prune_generations:
    in-flight lazy plans keep reading it) and pruned at the following
    one; a crash at any point leaves either the old or the new
    generation fully live. Serializes with other writers on
    ``_writer_lock`` (auto-compaction inside append already holds it and
    calls ``_compact_impl`` directly)."""
    with _writer_lock(base):
        _compact_impl(spark, base)


def _compact_impl(spark: SparkSession, base: str) -> None:
    gen = _current_gen(base)
    if gen is None:
        raise FileNotFoundError(f"no published refresh index under {base}")
    from engine.dedup import capped_lsh_band_rows

    tmp = tempfile.mkdtemp(dir=base, prefix=".gen-tmp-")
    spark.read.parquet(*_artifact_paths(gen, "exact")).distinct().write.parquet(
        f"{tmp}/exact"
    )
    spark.read.parquet(*_artifact_paths(gen, "sigs")).write.parquet(f"{tmp}/sigs")
    sig_back = spark.read.parquet(f"{tmp}/sigs")
    capped_lsh_band_rows(sig_back).write.parquet(f"{tmp}/bands")
    gen_name = _next_seq(base, "gen-")
    os.rename(tmp, os.path.join(base, gen_name))
    _publish_pointer(base, gen_name)
    _prune_generations(base, {gen_name, os.path.basename(gen)})


# Append increments coalesce their artifact writes to this many part
# files each. Without it every O(batch)-sized increment inherits the
# input-split parallelism (~32 files/artifact here, ~100 tiny files per
# append) — the classic LSM small-file problem: on an object store the
# per-file listing/open/footer cost dominates long before the data
# does, and the file census grows per append until compaction. Locally
# this is preventive, not a measured win: an empty-increment probe
# (scripts/_probe_increment_overhead.py: 15 zero-row increments) adds
# no refresh latency, i.e. the local aging creep is bucket fan-out, not
# file count — but local[32] against page cache is the best possible
# case for small files, so increments bound them anyway. Generation
# (build/compact) writes keep full parallelism: they are corpus-sized.
_INCREMENT_MAX_FILES = 4


def _write_index_artifacts(
    spark: SparkSession,
    accepted: DataFrame,
    dirpath: str,
    *,
    max_files: int | None = None,
) -> None:
    """The three artifacts into a fresh (staging) dir. One shingle pass:
    sigs are written first and the band rows derive from the WRITTEN
    parquet — a 32-int-column projection read of this dir only, never of
    the wider index. ``max_files`` bounds each artifact's part-file count
    (set for O(batch) increments, None for corpus-sized generations):
    exact and bands sit just past a shuffle (distinct / the bucket-cap
    window) so a narrow coalesce only merges reduce outputs, while sigs
    is a narrow projection all the way from the text scan — a coalesce
    there would throttle the expensive shingle pass itself, so the sig
    write repartitions instead (shuffling batch-sized rows to keep the
    compute wide)."""
    from engine.dedup import capped_lsh_band_rows, minhash_signatures

    exact = accepted.select(F.md5("text").alias("h")).distinct()
    sigs = minhash_signatures(accepted)
    if max_files is not None:
        exact = exact.coalesce(max_files)
        sigs = sigs.repartition(max_files)
    exact.write.parquet(f"{dirpath}/exact")
    sigs.write.parquet(f"{dirpath}/sigs")
    sig_back = spark.read.parquet(f"{dirpath}/sigs")
    bands = capped_lsh_band_rows(sig_back)
    if max_files is not None:
        bands = bands.coalesce(max_files)
    bands.write.parquet(f"{dirpath}/bands")


def refresh_decisions(
    spark: SparkSession, new: DataFrame, base: str
) -> DataFrame:
    """Classify the ``new`` batch (doc_id, source, text) against a stored
    dedup index at ``base`` (build_refresh_index artifacts): one row per
    arrival, ``decision`` ∈ {accepted, drop_exact_vs_old,
    drop_near_vs_old, drop_within_new}. Reads ONLY the artifacts and the
    new batch — never the accepted corpus's text.

    This doc-level relation is the WRITE half's input: the production
    loop appends exactly the ``accepted`` rows back to the index
    (append_to_refresh_index), and an ingestor materializes those rows as
    the admitted corpus delta. refresh_against_index aggregates the same
    relation into the per-source audit manifest.

    Plan shape: ONE signature pass over the new batch (persisted —
    band rows, both candidate joins, and both verify sides read it), the
    cross candidates from broadcasting the new band rows against the
    stored band scan, and the within-batch candidates from a self-join of
    the same capped new band rows. Verification reuses the shared
    two-stage kernel (minhash-estimate prefilter, then exact set
    intersection) with the OLD side's sets read from sigs/ — parquet
    column pruning means the estimate stage reads only the 32 int
    columns and the exact stage only (doc_id, hs)."""
    from pyspark import StorageLevel

    from engine.dedup import (
        capped_lsh_band_rows,
        component_losers,
        lsh_self_candidates,
        minhash_signatures,
        verify_near_pairs,
    )

    gen = _current_gen(base)
    if gen is None:
        raise FileNotFoundError(
            f"no published refresh index under {base}; run build_refresh_index"
        )
    old_exact = spark.read.parquet(*_artifact_paths(gen, "exact"))
    old_sigs = spark.read.parquet(*_artifact_paths(gen, "sigs"))
    old_bands = spark.read.parquet(*_artifact_paths(gen, "bands"))

    # Gate 1: exact vs the stored hash set.
    new_h = new.withColumn("h", F.md5("text"))
    ex_drop = new_h.join(old_exact, "h", "left_semi").select("doc_id")
    new1 = new.join(ex_drop, "doc_id", "left_anti")

    new_sig = minhash_signatures(new).persist(StorageLevel.MEMORY_AND_DISK)
    # Capped band rows of the new batch: three consumers (cross broadcast,
    # self-join x/y); small (16 rows/doc), so persist rather than re-run
    # the band window per consumer.
    nb = capped_lsh_band_rows(new_sig).persist(StorageLevel.MEMORY_AND_DISK)

    # Candidates for BOTH near gates, verified in ONE tree (two separate
    # verify trees + checkpoints measured 7.0 s vs 4.6 s at sf0.1).
    # Gate-2 candidates: new band rows against one scan of the stored
    # bands/ — BROADCAST only while the batch is provably small (the
    # one-job count below vs _BROADCAST_BATCH_MAX_DOCS, read off the
    # module so tests can force the shuffle path; rationale at the
    # constant). Gate-3 candidates: pairs within the capped new band
    # rows. The a-side of every candidate is a new doc, so one verify
    # pass against (new ∪ stored) signatures covers both — doc_ids are
    # globally unique across the corpus split by construction.
    # Counting the persisted signatures (== batch docs) rather than the
    # raw batch makes the sizing job double as new_sig's cache
    # materialization — one job instead of two.
    n_batch = new_sig.count()
    nb_a = nb.withColumnRenamed("doc_id", "a_id")
    if n_batch <= _BROADCAST_BATCH_MAX_DOCS:
        nb_a = F.broadcast(nb_a)
    cross_cand = (
        old_bands.join(nb_a, ["band", "k1", "k2"])
        .select("a_id", F.col("doc_id").alias("b_id"))
        .distinct()
        .withColumn("within", F.lit(False))
    )
    # Within-batch candidates via the grouped pair-gen pass (one
    # aggregation over the already-capped persisted band rows) instead of
    # the band self-join — same pair set (lsh_self_candidates' docstring
    # proves the equivalence), one fewer BroadcastExchange per run.
    wn_cand = lsh_self_candidates(nb, pre_capped=True).withColumn(
        "within", F.lit(True)
    )
    all_sigs = new_sig.unionByName(old_sigs.select(*new_sig.columns))
    # Tiny (near-dup pairs touching the batch); ONE checkpoint job
    # materializes both gates' verified pairs so the three consumers below
    # (gate-2 anti-join, gate-3 components, manifest joins) never re-run
    # the verify subtree.
    pairs = (
        verify_near_pairs(cross_cand.unionByName(wn_cand), new_sig, all_sigs)
        .select("a_id", "b_id", "within")
        .localCheckpoint()
    )

    # Gate 2: survivor has ANY stored near-partner.
    near_old_drop = (
        pairs.filter(~F.col("within"))
        .select(F.col("a_id").alias("doc_id"))
        .distinct()
        .join(new1.select("doc_id"), "doc_id", "left_semi")
    )
    # Gate 3: components within the remaining new docs, min-id keeper.
    within_pairs = pairs.filter(F.col("within")).select("a_id", "b_id")
    # Semi-joining within_pairs against a localCheckpoint of new2's ids
    # costs a per-run materialization job over the whole gate-1/2 subtree
    # (measured 0.45-0.8 s at sf0.1), and without that checkpoint new2's
    # heavy lineage fans into the components stage twice (a driver OOM at
    # the 100×-batch rehearsal). So the filter runs the other way: a
    # within-pair endpoint d is IN new2 ⟺ d ∉ ex_drop ∪ {a_id of verified
    # cross pairs} (within-pair endpoints are batch docs by construction;
    # near_old_drop = cross_a ∩ new1, and subtracting ex_drop first makes
    # the union exact — pinned by test_pipeline6.py's gate tests and the
    # oracle). drop12 is TINY (≤ batch ids + verified cross a_ids), so
    # the components stage consumes the checkpointed pairs plus two
    # anti-joins against a small relation — the heavy batch/gates lineage
    # never feeds the collect at all.
    drop12 = ex_drop.unionByName(
        pairs.filter(~F.col("within")).select(F.col("a_id").alias("doc_id"))
    ).distinct()
    nn = (
        within_pairs.join(
            drop12, within_pairs["a_id"] == drop12["doc_id"], "left_anti"
        ).join(drop12, within_pairs["b_id"] == drop12["doc_id"], "left_anti")
    )
    # The checkpointed pair list bounds the new2 subset; its count
    # recomputes nothing, so the guard costs one trivial job.
    within_drop = component_losers(
        spark, nn.select("a_id", "b_id"), n_pairs_bound=pairs.count()
    )
    # The signature/band caches are NOT unpersisted here — deliberate,
    # same convention and rationale as minhash_near_pairs: Spark
    # deduplicates cache entries by logical plan, so repeat refreshes of
    # the SAME batch (bench warm runs, repeated driver checks) hit one
    # shared entry and skip the shingle pass — measured 7.6 s vs 2.7 s
    # warm at sf0.1 with an unpersist-after-checkpoint (tried and
    # reverted). A caller feeding MANY DISTINCT large batches through one
    # session (scripts/refresh_rehearsal.py) accumulates one
    # MEMORY_AND_DISK entry per distinct batch plan — spill-safe, and
    # such callers should spark.catalog.clearCache() between batches as
    # the rehearsal does.

    # Decisions: classify every arrival exactly once. The gates are
    # disjoint by construction (each drop set is anti-joined out before
    # the next gate runs), so the when-chain order is cosmetic.
    tag = (
        new.select("doc_id", "source")
        .join(ex_drop.withColumn("g1", F.lit(1)), "doc_id", "left")
        .join(near_old_drop.withColumn("g2", F.lit(1)), "doc_id", "left")
        .join(
            within_drop.select(F.col("node").alias("doc_id"), F.lit(1).alias("g3")),
            "doc_id",
            "left",
        )
    )
    return tag.select(
        "doc_id",
        "source",
        F.when(F.col("g1") == 1, F.lit("drop_exact_vs_old"))
        .when(F.col("g2") == 1, F.lit("drop_near_vs_old"))
        .when(F.col("g3") == 1, F.lit("drop_within_new"))
        .otherwise(F.lit("accepted"))
        .alias("decision"),
    )


def refresh_against_index(
    spark: SparkSession, new: DataFrame, base: str
) -> DataFrame:
    """The per-source refresh audit manifest — refresh_decisions rolled
    up to (source, n_arrived, drop_exact_vs_old, drop_near_vs_old,
    drop_within_new, n_accepted). Same plan as the doc-level relation
    plus one hash aggregate; see refresh_decisions for the gate design
    and scale rationale."""
    dec = refresh_decisions(spark, new, base)
    n_of = lambda name: (
        F.sum(F.when(F.col("decision") == name, 1).otherwise(0))
        .cast("long")
        .alias(name)
    )
    return dec.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_arrived"),
        n_of("drop_exact_vs_old"),
        n_of("drop_near_vs_old"),
        n_of("drop_within_new"),
        F.sum(F.when(F.col("decision") == "accepted", 1).otherwise(0))
        .cast("long")
        .alias("n_accepted"),
    )
