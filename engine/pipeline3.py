"""Capstone #4: the dedup cascade — exact hash dedup, MinHash near-dedup,
and connected-component canonicalization composed into ONE fused pipeline
with a per-source attrition manifest.

This is the shape every production corpus pipeline runs nightly: a
re-crawl batch arrives (same content, new ids), exact dedup removes the
verbatim re-ingests, near-dedup removes the boilerplate-variant survivors,
and the manifest reports how much of each source survived each stage —
the attrition audit that catches a crawler gone wrong before training does.

The re-crawl is simulated deterministically (every doc_id % 10 == 0
document re-ingested under doc_id + 100000, same text) so the exact stage
has real work on this corpus (which has no verbatim dups of its own: 500
distinct texts at sf0.01) while staying SQL-reproducible for the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load

_RECRAWL_SHIFT = 100000

# Shared with pipeline6's union-find gate: below this many near-dup pairs
# the component labeling runs as ONE bounded collect + driver union-find;
# above it, the distributed min-label loop (identical keeper semantics).
_UNION_FIND_MAX_PAIRS = 100_000


def _nf_key(t):
    """Total order on a (possibly NULL-field) struct tuple that mirrors
    Spark's ascending struct comparison: field by field, NULL first."""
    return tuple((v is not None, v) for v in t)


def _component_losers(spark, pairs, kid_type):
    """Connected components over (a_id, b_id) struct pairs; returns the
    LOSERS (every pair participant except its component's minimum under
    the NULLS-FIRST struct order) as a one-column ``kid`` DataFrame.

    Small graphs (≤ _UNION_FIND_MAX_PAIRS pairs — KBs of driver memory,
    bounded by construction via limit(cap+1)) collect once into a
    path-halving union-find, replacing the per-round join + checkpoint +
    convergence-collect jobs of the distributed loop (measured: the loop
    cost 3 rounds x 2 jobs of latency at sf0.1 for a ~300-pair graph).
    Past the cap the distributed min-label loop runs unchanged — the
    100 TB path, same keeper by construction."""
    import pyspark.sql.types as T

    rows = pairs.limit(_UNION_FIND_MAX_PAIRS + 1).collect()
    if len(rows) <= _UNION_FIND_MAX_PAIRS:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            a, b = tuple(r["a_id"]), tuple(r["b_id"])
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if _nf_key(ra) <= _nf_key(rb) else (rb, ra)
                parent[hi] = lo
        losers = [(x,) for x in parent if find(x) != x]
        schema = T.StructType([T.StructField("kid", kid_type)])
        return spark.createDataFrame(losers, schema)

    und = pairs.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).union(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
    und = und.cache()
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
    )
    prev_sum = None
    converged = False
    for _ in range(32):  # bound >> diameter; exits at fixpoint
        msgs = (
            und.join(labels, und.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(msgs, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        # Convergence fingerprint: labels are structs, so sum a bounded
        # hash of each label (pmod keeps the ANSI sum from overflowing).
        cur_sum = labels.agg(
            F.sum(F.pmod(F.xxhash64("label"), F.lit(10**12)))
        ).first()[0]
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        # r15 (ADVICE fix): a >100k-pair graph whose component diameter
        # exceeds the round bound would otherwise silently return
        # unconverged labels — wrong loser sets. Fail loudly; the bound
        # is far above any real near-dup component diameter, so reaching
        # this is a data anomaly worth a human look, not a fallback.
        raise RuntimeError(
            "_component_losers: min-label loop did not reach a fixpoint "
            "within 32 rounds (component diameter > 32?); refusing to "
            "return unconverged component labels"
        )
    return labels.filter(F.col("label") != F.col("node")).select(
        F.col("node").alias("kid")
    )


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
    exact survivors) → connected-component canonicalization (min-label
    propagation, dedup_cluster_components' Pregel shape) → per-source
    attrition manifest (ingested / after-exact / after-near / retention).

    Stage plan, in 100 TB terms:
    1. EXACT — one hash shuffle on md5(text) with a partial-agg min_by;
       keeper = lexicographically smallest (doc_id, source) row per text
       group (r14: row-level semantics that stay well-defined when a
       doc_id collides — see the stage comment). Runs FIRST because it
       is the cheapest stage and every row it kills never reaches the
       shingle explode (the expensive part). md5 here, not xxhash64: the
       oracle must compute the identical hash, and a 128-bit digest makes
       cross-text collisions a non-concern at any corpus size.
    2. NEAR — the bucketed MinHash kernel (32 perms, 16×r=2 bands,
       frequency-capped buckets: candidate work O(Σ min(|bucket|,cap)²),
       recall 1.0 on this corpus, unit-tested at the kernel level),
       keyed on the struct row-identity (doc_id, source, text-hash).
    3. COMPONENTS — near-dup pairs are a tiny edge list (25 pairs at
       sf0.01); min-label propagation over broadcast edges converges in
       diameter rounds, collecting one scalar per round. Keeper = min
       (doc_id, source, …) row per component, so a re-crawled variant
       can never oust an original.
    4. MANIFEST — three bounded per-source counts joined on the source
       key; output is source-cardinality, not corpus-cardinality.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    recrawl = d.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(_RECRAWL_SHIFT)
    )
    ingest = d.unionByName(recrawl)

    # Stage 1: exact dedup — ONE surviving row per distinct text, keeper =
    # lexicographically smallest (doc_id, source). r14 dup-id axis: the
    # old min(doc_id)-per-hash + left-semi-on-doc_id kept BOTH texts of a
    # colliding id (right) but also kept byte-identical replays sharing an
    # id (wrong), and downstream stages keyed on a no-longer-unique
    # doc_id. min_by over the md5 group is one hash shuffle with partial
    # aggregation, same as before but without the keeper join.
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
    from engine.dedup import minhash_near_pairs

    kid = F.struct(
        F.col("doc_id"), F.col("source"), F.xxhash64("text").alias("h")
    )
    keptk = kept.select(kid.alias("kid"), "source", "text")
    pairs = minhash_near_pairs(
        keptk.select(F.col("kid").alias("doc_id"), "text")
    ).select("a_id", "b_id")

    # Stage 3: connected components over the pair graph — only nodes that
    # appear in a pair can lose their own label; absent nodes are
    # singletons. r14 optimization (guide §5 "the driver should do almost
    # no data work" — but ALSO no per-round driver-synchronized jobs when
    # one bounded collect replaces them): the old shape broadcast the
    # edge list (so the driver already held every pair) and then ran up
    # to 32 min-label rounds, each costing a join+agg job, a
    # localCheckpoint materialization and a convergence-collect job —
    # 8-12 jobs of pure round-trip latency for a pair list that is KBs.
    # Collect the pairs ONCE under the shared _UNION_FIND_MAX_PAIRS cap
    # and union-find in the driver (pipeline_incremental_refresh's
    # accepted r07 pattern, pipeline6._within_new_losers); past the cap,
    # fall back to the identical-semantics distributed min-label loop.
    # Keeper semantics are IDENTICAL by construction: the component
    # minimum under the struct (doc_id, source, h) ascending order with
    # NULLS FIRST per field — _nf_key mirrors Spark's struct ordering.
    losers = _component_losers(spark, pairs, kid_type=keptk.schema["kid"].dataType)
    near_kept = keptk.join(losers, "kid", "left_anti").select("source")

    # Stage 4: per-source attrition manifest. The three counts join with
    # eqNullSafe (r13): groupBy keeps a NULL-source group, and the
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
