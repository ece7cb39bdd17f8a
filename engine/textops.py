"""Training-data text analysis operators and the shared text helpers.

Language-ID (weighted keyword profiles), quality scoring, BPE-ish token
statistics and document fingerprinting (rolling polynomial hash). All are
pure DataFrame/SQL expressions (zero Python UDFs) so every key is FULL
oracle-checkable, and all hash math uses an explicit polynomial
(base 131 mod 2^31-1) that both Spark and DuckDB evaluate identically —
engine-builtin hashes (xxhash64 vs duckdb hash) would never cross-match.

The module also holds the text helpers shared with the dedup family
(engine.dedup) and text_containment (engine.pipeops): word n-gram ids,
the exact-dup text collapse, and exact_gram_pair_counts, the inverted-index
shared-gram count with its hot-gram (df-cap) defense.

Scale note (100 TB): every operator is explode → hash-aggregate, shuffling
on (doc, token)-ish keys: linear, no cross joins anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load

# --- shared expression builders (Spark side) --------------------------------

# polynomial string hash: fold chars as (acc*131 + ascii(char)) mod (2^31-1);
# products stay < 2^39, no overflow in int64 on either engine.
_POLY = "(acc * 131 + c) % 2147483647"


def tok_hash_expr(col: str) -> str:
    """Spark SQL expr hashing a token string column. Folds over
    split(col, '') — a char array built ONCE — instead of per-index
    substring(col, j, 1), which scans from the string start every call
    (UTF8String has no O(1) char offsets), i.e. O(len²) on a long token
    (r13 long-doc fix). Empty token: split('','') = [''] and ascii('') =
    0, so the fold yields 0 — identical to the old sequence(1, 0) path
    and the oracles' list_reduce over range(1, 1) = []."""
    return (
        f"aggregate(transform(split({col}, ''), c -> ascii(c)), "
        f"cast(0 as bigint), (acc, c) -> {_POLY})"
    )


def spread_cpu(df: DataFrame, width: int | None = None) -> DataFrame:
    """Repartition ahead of a CPU-heavy per-row transform IF the scan is
    under-parallel (the sf corpora are single parquet files → 1 input split,
    so 31 of 32 local cores idle through the shingling stage; measured 20 s →
    1.6 s on text_containment at sf0.1). At 100 TB the scan already has
    thousands of splits and this is a no-op — the gate keeps the extra
    shuffle out of the plan exactly when it wouldn't pay for itself.

    width: default full core count — right for JVM-codegen transforms
    (shingling, regex), whose per-partition overhead is ~zero. For
    Python-kernel stages (mapInArrow/mapInPandas with a broadcast side) pass
    a SMALLER width (~8): each extra partition pays Arrow setup + per-worker
    broadcast deserialization, which at full width costs more than the
    parallelism buys back (measured 0.7 s → 1.8 s going 1 → 32 partitions on
    the sim_topk kernel, but 0.7 s → 0.45 s at 4–8)."""
    parts = df.rdd.getNumPartitions()
    want = width or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(want) if parts < want else df


def word_ngram_ids(d: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, s: array<bigint>) — distinct word-n-gram ids per doc, as
    xxhash64 of the space-joined gram. Set ops and join keys on int64 are
    ~10x cheaper than on gram strings (the strings only exist inside the
    lambda); collision probability over a corpus-wide gram vocabulary is
    ~|V|²/2⁶⁴ — negligible against any similarity threshold."""
    # CASE guard, not greatest(): sequence(1, 0) infers step -1 and yields
    # [1, 0], whose i=0 entry makes slice() throw — a sub-n-gram doc
    # (empty/short text) must produce an EMPTY gram set, matching the
    # oracles' range(1, 0) = [] and their NULL 0/0 exclusion (r12 fix,
    # caught by the subset-dup collapse test).
    # toks is BOUND in its own projection and grams are built from O(1)
    # ELEMENT access (r13 long-doc fix): an inline split(text) inside the
    # lambda re-tokenizes the document per gram, and even over a bound
    # array, slice() inside a lambda runs interpreted (no whole-stage
    # codegen in higher-order functions) and copies the WHOLE array per
    # call — both are O(tokens²) per doc (probe: 2k/8k/32k chars →
    # 0.9/3.3/41 s for slice vs flat 0.2-0.4 s for arr[i]). Indices are
    # provably in bounds under the size guard, so ANSI GetArrayItem never
    # throws.
    gram = ", ".join(f"toks[i + {j - 1}]" for j in range(n))
    expr = (
        f"CASE WHEN size(toks) < {n} THEN cast(array() as array<bigint>)"
        f" ELSE array_distinct(transform(sequence(1, size(toks)-{n - 1}),"
        f" i -> xxhash64(concat_ws(' ', {gram})))) END"
    )
    return (
        spread_cpu(d)
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", F.expr(expr).alias("s"))
    )


def has_word_ngrams(text: str, n: int = 3) -> Column:
    """True iff word_ngram_ids gives ``text`` a non-empty gram set; not
    true for a NULL text. The oracles exclude gramless docs by their NULL
    0/0, so they take part in no pair."""
    return F.size(F.split(text, " ")) >= n


def explode_nonempty(df: DataFrame, arr: str, out: str) -> DataFrame:
    """explode() that does NOT re-evaluate the array expression: plain
    explode(outer=false) implies a `size(arr) > 0` filter that Catalyst
    pushes into the scan, duplicating the (expensive) array computation in
    the plan; explode_outer emits one null row instead, filtered after."""
    return df.select(*[c for c in df.columns if c != arr], F.explode_outer(arr).alias(out)).filter(
        F.col(out).isNotNull()
    )


# ---------------------------------------------------------------------------
# language ID
# ---------------------------------------------------------------------------

# (lang, token, weight) profiles — the classic n-gram/keyword profile
# heuristic: score(doc, lang) = Σ weight over profile tokens present in the
# doc (with multiplicity); argmax wins, alphabetical tie-break.
_LANG_PROFILES = [
    ("en", "the", 2.0), ("en", "a", 1.0), ("en", "data", 0.5),
    ("de", "der", 2.0), ("de", "und", 2.0), ("de", "batch", 0.5),
    ("es", "el", 2.0), ("es", "los", 2.0), ("es", "row", 0.5),
    ("fr", "le", 2.0), ("fr", "les", 2.0), ("fr", "join", 0.5),
    ("zh", "scan", 0.7), ("zh", "hash", 0.6),
]


@query(
    "text_lang_id",
    oracle=f"""
    WITH prof(lang, token, w) AS (VALUES
      {", ".join(f"('{l}', '{t}', {w})" for l, t, w in _LANG_PROFILES)}),
    tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    sc AS (SELECT doc_id, lang, round(sum(w), 4) AS score
           FROM tok JOIN prof USING (token) GROUP BY 1, 2)
    SELECT doc_id, lang AS pred_lang, score FROM sc
    QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) = 1
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID by weighted keyword-profile scoring (tiny deterministic
    stand-in for the char-n-gram profile method; the corpus vocabulary is
    synthetic so the profiles are illustrative). One explode + broadcast
    lexicon join + two hash aggs — linear at any corpus size."""
    from pyspark.sql.window import Window

    d = load(spark, sf_dir, "documents")
    from engine.tables import lit_table

    prof = lit_table(spark, _LANG_PROFILES, ["lang", "token", "w"])
    # spread: the corpus is one parquet split; without it the whole
    # explode+join+partial-agg stage runs in a single task (SCALE.md rule 2).
    tok = spread_cpu(d).select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    sc = (
        tok.join(F.broadcast(prof), "token")
        .groupBy("doc_id", "lang")
        .agg(F.round(F.sum("w"), 4).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("lang").asc())
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"), "score")
    )


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------


@query(
    "text_quality_score",
    oracle="""
    WITH q AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_distinct,
             len(list_filter(string_split(text, ' '), t -> t IN ('a', 'the')))
               AS n_stop,
             length(text) AS n_char
      FROM documents)
    SELECT doc_id, n_tokens,
           round(n_distinct::DOUBLE / n_tokens, 6) AS ttr,
           round(n_stop::DOUBLE / n_tokens, 6) AS stop_ratio,
           round((n_char - n_tokens + 1)::DOUBLE / n_tokens, 6) AS avg_word_len,
           round(0.4 * least(n_tokens / 100.0, 1.0)
                 + 0.3 * (1 - n_stop::DOUBLE / n_tokens)
                 + 0.3 * (n_distinct::DOUBLE / n_tokens), 6) AS quality
    FROM q
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic doc-quality score: length term + (1 − stopword ratio) +
    type-token ratio, the standard cheap pre-filter shape for training-data
    curation. Single narrow projection — no shuffle at all."""
    d = load(spark, sf_dir, "documents")
    s = F.split("text", " ")
    n_tok = F.size(s)
    n_dis = F.size(F.array_distinct(s))
    n_stop = F.size(F.filter(s, lambda t: t.isin("a", "the")))
    n_char = F.length("text")
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(n_dis.cast("double") / n_tok, 6).alias("ttr"),
        F.round(n_stop.cast("double") / n_tok, 6).alias("stop_ratio"),
        F.round((n_char - n_tok + 1).cast("double") / n_tok, 6).alias("avg_word_len"),
        F.round(
            0.4 * F.least(n_tok / 100.0, F.lit(1.0))
            + 0.3 * (1 - n_stop.cast("double") / n_tok)
            + 0.3 * (n_dis.cast("double") / n_tok),
            6,
        ).alias("quality"),
    )


# ---------------------------------------------------------------------------
# token statistics (whitespace + BPE-ish regex)
# ---------------------------------------------------------------------------

_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]+"


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '{_BPE_RE}')) AS bpe_tokens,
           len(list_distinct(string_split(text, ' '))) AS distinct_tokens
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs / digit runs / punctuation runs — the shape of a byte-level
    BPE pre-tokenizer). Regex kept to POSIX classes so Java and RE2 agree."""
    d = load(spark, sf_dir, "documents")
    s = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(s).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).alias("bpe_tokens"),
        F.size(F.array_distinct(s)).alias("distinct_tokens"),
    )


# ---------------------------------------------------------------------------
# document fingerprinting (rolling hash)
# ---------------------------------------------------------------------------


@query(
    "text_fingerprint",
    oracle="""
    WITH codes AS MATERIALIZED (
      -- MATERIALIZED char-code array (r14, mirroring the engine's r13
      -- bound code array): substr(text, i+j, 1) inside the nested lambda
      -- is an O(offset) scan in DuckDB — O(len²) per doc (182 s on one
      -- 50k-token doc; sub-second bound)
      SELECT doc_id,
             list_transform(string_split(text, ''), c -> ascii(c)) AS cd,
             length(text) AS n
      FROM documents),
    h AS (
      SELECT doc_id,
             list_transform(range(1, greatest(n - 7, 0) + 1),
               i -> list_reduce(
                      list_prepend(0::BIGINT,
                        list_transform(range(0, 8), j -> cd[i + j])),
                      (acc, c) -> (acc * 131 + c) % 2147483647)) AS hs
      FROM codes)
    SELECT doc_id,
           list_aggregate(hs, 'min') AS fingerprint,
           len(list_distinct(hs)) AS n_distinct_windows
    FROM h
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: rolling polynomial hash over every 8-char window
    (base 131 mod 2^31−1), keeping the minimum (winnowing with one band) plus
    the distinct-window count. All JVM-side array expressions — the windows
    array never leaves the row, so memory is O(doc length) per row."""
    d = load(spark, sf_dir, "documents")
    # CASE guard, not greatest(): sequence(1, 0) is [1, 0] (step -1), which
    # hashes two phantom windows for a sub-8-char doc; the oracle's
    # range(1, 1) = [] yields NULL fingerprint + 0 windows instead (r12
    # short-text fix — array_min(empty) is null on both engines).
    # cd (the per-char code array) is BOUND in its own projection and each
    # window folds via O(1) ELEMENT access (r13 long-doc fix): per-index
    # substring(text, i + j, 1) scans from the string start every call,
    # and slice(cd, i, 8) inside a lambda runs interpreted and copies the
    # whole array per window — both O(len²) per doc. cd[i + j - 1] (ANSI
    # 0-based, provably in bounds under the size guard) is O(1).
    hs = F.expr(
        "CASE WHEN cd IS NULL OR size(cd) < 8 THEN cast(array() as array<bigint>)"
        " ELSE transform(sequence(1, size(cd) - 7),"
        " i -> aggregate(transform(sequence(0, 7), j -> cd[i + j - 1]),"
        f" cast(0 as bigint), (acc, c) -> {_POLY})) END"
    )
    return d.select(
        "doc_id",
        F.expr(
            "CASE WHEN text IS NULL OR length(text) < 8 THEN"
            " cast(NULL as array<int>)"
            " ELSE transform(split(text, ''), c -> ascii(c)) END"
        ).alias("cd"),
    ).select(
        "doc_id",
        F.array_min(hs).alias("fingerprint"),
        F.size(F.array_distinct(hs)).alias("n_distinct_windows"),
    )


# ---------------------------------------------------------------------------
# shared with the dedup family and text_containment
# ---------------------------------------------------------------------------


def text_clone_groups(spark: SparkSession, d: DataFrame, tag: str) -> DataFrame:
    """engine.tables.clone_groups over documents' text, keyed on
    struct(min doc_id, xxhash64(text)): min id alone collides when one
    doc_id carries two texts whose groups both bottom out at that id (r14
    dup-id axis), and a collision of the struct needs the same min id AND
    the same 64-bit hash."""
    from engine.tables import clone_groups

    grp = clone_groups(spark, d, "doc_id", "text", tag)
    return grp.withColumn(
        "doc_id",
        F.struct(F.col("doc_id").alias("i"), F.xxhash64("text").alias("h")),
    )


# Grams appearing in more documents than this take the HOT path (r14
# boilerplate defense). On every swept corpus the max gram df is ~25, so
# the cap never engages there and the plan is byte-identical to r13's;
# the hot-shingle rehearsal corpus (90% of docs share a header) hits
# df = 0.9n and would otherwise generate O(0.81 n² · H) candidate rows.
_NGRAM_DF_CAP = 1000
# Loud guard, not a silent fallback: this many DISTINCT hot grams means
# the corpus is not "boilerplate among content" but wholesale clone soup
# — the right tool is the exact-dup collapse prestage / MinHash, and the
# kernel refuses rather than silently running the quadratic join.
_NGRAM_HOT_MAX = 100_000
# Tiny-doc branch bound (see proof in the kernel): if more than this many
# docs are small enough to pass the threshold on hot grams alone, fall
# back to the exact full join (correct, pre-r14 shape) with a warning.
_NGRAM_TINY_MAX = 200_000


def exact_gram_pair_counts(
    sh: DataFrame, tiny_k: int, who: str = "gram-pair kernel"
) -> DataFrame:
    """EXACT unordered shared-gram counts (a_id, b_id, c), a_id < b_id,
    with the r14 hot-gram (boilerplate) defense — shared by
    _ngram_jaccard_kernel and text_containment.

    Contract: emits exact c for (1) every pair sharing >= 1 LIGHT gram
    (df <= _NGRAM_DF_CAP) and (2) every hot-gram-sharing pair where
    EITHER doc is tiny (n <= tiny_k · its own hot-gram count). Any pair
    it omits shares only hot grams between two non-tiny docs, so
    c <= min(Ha, Hb) while both sizes exceed tiny_k · hot-count — which
    the caller's threshold (whose algebra defines tiny_k) provably
    rejects. Thresholds: Jaccard >= t gives na+nb <= c(1+t)/t, so
    tiny_k = (1+t)/t and BOTH docs must be tiny (one-sided is a safe
    superset); containment c/na >= t gives na <= c/t <= Ha/t, so
    tiny_k = 1/t on the source side.

    Plan shape: the light join's volume is <= cap · Σdf (linear in the
    corpus for a fixed cap); light candidates are completed with
    ch = |hot(a) ∩ hot(b)| from per-doc hot arrays (<= H elements); the
    tiny branch joins tiny docs' hot rows against all hot rows and
    completes from full gram arrays. When no gram exceeds the cap —
    every swept corpus; max df there is ~25 — the plan is the plain
    inverted-index join, unchanged from r13."""
    inv = explode_nonempty(sh, "s", "g")
    sizes = sh.select("doc_id", F.size("s").alias("n"))
    hot = (
        inv.groupBy("g")
        .agg(F.count("*").alias("dfg"))
        .filter(F.col("dfg") > _NGRAM_DF_CAP)
    )
    n_hot = hot.count()  # one agg job over the persisted sh subtree
    if n_hot > _NGRAM_HOT_MAX:
        raise ValueError(
            f"{who}: {n_hot} grams exceed df cap {_NGRAM_DF_CAP} — this"
            " corpus is clone soup, not boilerplate over content; run the"
            " exact-dup collapse / MinHash family instead of the exact"
            " gram join."
        )

    def _pair_counts(rel):
        a = rel.select(F.col("doc_id").alias("a_id"), "g")
        b = rel.select(F.col("doc_id").alias("b_id"), "g")
        return (
            a.join(b, "g")
            .filter(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(F.count("*").alias("c"))
        )

    if n_hot == 0:
        return _pair_counts(inv)

    hotg = F.broadcast(hot.select("g"))
    inv_h = inv.join(hotg, "g", "left_semi")
    hot_sets = inv_h.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("g")).alias("hg")
    )
    empty = F.expr("cast(array() as array<bigint>)")
    ha = hot_sets.select(F.col("doc_id").alias("a_id"), F.col("hg").alias("ha"))
    hb = hot_sets.select(F.col("doc_id").alias("b_id"), F.col("hg").alias("hb"))
    ch = F.size(
        F.array_intersect(F.coalesce("ha", empty), F.coalesce("hb", empty))
    )
    light = (
        _pair_counts(inv.join(hotg, "g", "left_anti"))
        .withColumnRenamed("c", "cl")
        .join(ha, "a_id", "left")
        .join(hb, "b_id", "left")
        .select("a_id", "b_id", (F.col("cl") + ch).alias("c"))
    )

    tiny_docs = (
        hot_sets.join(sizes, "doc_id")
        .filter(F.col("n") <= tiny_k * F.size("hg"))
        .select("doc_id")
    )
    n_tiny = tiny_docs.count()
    if n_tiny > _NGRAM_TINY_MAX:
        import warnings

        warnings.warn(
            f"{who}: {n_tiny} hot-dominated tiny docs — output is"
            " near-quadratic by construction; running the exact full join."
        )
        return _pair_counts(inv)
    at = inv_h.join(tiny_docs, "doc_id", "left_semi")
    # one-sided: tiny docs' hot rows against ALL hot rows, normalized to
    # a_id < b_id (a pair of two tiny docs appears from both sides —
    # the distinct collapses it)
    cand = (
        at.select(F.col("doc_id").alias("t_id"), "g")
        .join(inv_h.select(F.col("doc_id").alias("o_id"), "g"), "g")
        .filter(F.col("t_id") != F.col("o_id"))
        .select(
            F.least("t_id", "o_id").alias("a_id"),
            F.greatest("t_id", "o_id").alias("b_id"),
        )
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("a_id"), F.col("s").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("b_id"), F.col("s").alias("sb"))
    tiny_pairs = (
        cand.join(light.select("a_id", "b_id"), ["a_id", "b_id"], "left_anti")
        .join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id", "b_id", F.size(F.array_intersect("sa", "sb")).alias("c")
        )
    )
    return light.unionByName(tiny_pairs)
