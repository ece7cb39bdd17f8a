"""Graph + iterative algorithms over derived relations: SURVEY §2 round-5
additions.

The corpus has two natural graphs: the directed, weighted nation-level trade
graph (customer nation → supplier nation, weight = lineitem count, derived
through the orders⋈lineitem spine) and the bipartite part–supplier incidence
graph (distinct (l_partkey, l_suppkey)). These four keys cover the shapes a
DataFrame engine is usually claimed to be bad at — fixed-point iteration
(PageRank, Lloyd's k-means) and multi-way self-joins (triangles) — restated
as unrolled, deterministic Spark plans with SQL oracles.

Determinism discipline (SURVEY §5.3): every per-iteration group-sum is
rounded on BOTH sides before feeding the next iteration (double addition is
order-dependent; rounding re-synchronizes the engines), while all per-row
arithmetic (divisions, dot products as ordered left-folds) stays raw IEEE.

Scale notes (100 TB):
- PageRank iterations are join+agg per step — the Pregel message-passing
  shape on the DataFrame API. The rank relation here is 25 rows (broadcast);
  at billions of nodes the same plan hash-partitions ranks and edges on the
  join key and the per-step shuffle is the classic PageRank cost. The only
  driver-side values are scalar N and the damping constant.
- Triangle counting orders each undirected edge (a < b) so every triangle is
  enumerated exactly once — the node-ordering trick that bounds the join
  fan-out by the degree distribution instead of 6× over-counting.
- k-means keeps O(k·d) state (centroids) on the driver — the canonical
  broadcast-centroids Lloyd step; assignment is a map-side expression,
  the update one shuffle keyed (cluster, dim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.session import session_memo
from engine.tables import dot, load

_EDGE_SQL = """
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
             CAST(count(*) AS DOUBLE) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed nation→nation trade edges with lineitem-count weights."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").cast("double").alias("w"))
    )


@query(
    "graph_pagerank_iter",
    oracle=f"""
    WITH e AS ({_EDGE_SQL}),
    nodes AS (SELECT DISTINCT src AS k FROM e UNION SELECT DISTINCT dst FROM e),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM nodes),
    ow AS (SELECT src, sum(w) AS ow FROM e GROUP BY 1),
    r0 AS (SELECT k, 1.0 / (SELECT cnt FROM n) AS pr FROM nodes),
    r1 AS (SELECT nodes.k,
             round(0.15 / (SELECT cnt FROM n)
                   + 0.85 * coalesce(sum(r0.pr * e.w / ow.ow), 0), 12) AS pr
           FROM nodes LEFT JOIN e ON e.dst = nodes.k
             LEFT JOIN r0 ON r0.k = e.src LEFT JOIN ow ON ow.src = e.src
           GROUP BY nodes.k),
    r2 AS (SELECT nodes.k,
             round(0.15 / (SELECT cnt FROM n)
                   + 0.85 * coalesce(sum(r1.pr * e.w / ow.ow), 0), 12) AS pr
           FROM nodes LEFT JOIN e ON e.dst = nodes.k
             LEFT JOIN r1 ON r1.k = e.src LEFT JOIN ow ON ow.src = e.src
           GROUP BY nodes.k),
    r3 AS (SELECT nodes.k,
             round(0.15 / (SELECT cnt FROM n)
                   + 0.85 * coalesce(sum(r2.pr * e.w / ow.ow), 0), 12) AS pr
           FROM nodes LEFT JOIN e ON e.dst = nodes.k
             LEFT JOIN r2 ON r2.k = e.src LEFT JOIN ow ON ow.src = e.src
           GROUP BY nodes.k)
    SELECT k AS n_nationkey, round(pr, 8) AS pagerank FROM r3
    """,
)
def graph_pagerank_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, 3 unrolled iterations) over the
    nation trade graph: PR'(v) = (1-d)/N + d·Σ_in PR(u)·w(u,v)/outw(u).
    Dangling mass is dropped (documented simplification — no node in this
    graph is dangling; the redistribution term would be one extra scalar
    agg per step). Each iteration's rank is rounded to 12 dp on both
    engines so the order-dependent group-sum re-synchronizes before it
    feeds the next step.

    100 TB: per iteration one join (ranks⋈edges on src — ranks broadcast
    here; hash-partitioned co-location at graph scale, with edges
    pre-partitioned ONCE and reused every step) + one shuffle (groupBy
    dst). N is the single driver-side scalar (one count action)."""
    e = _trade_edges(spark, sf_dir)
    nodes = (
        e.select(F.col("src").alias("k"))
        .union(e.select(F.col("dst").alias("k")))
        .distinct()
        .cache()  # iterated over: one materialization, |nations| rows
    )
    n = float(nodes.count())  # O(1) scalar: number of nations (warms cache)
    if n == 0:
        # empty graph: the oracle's nodes CTE is empty, so every rank
        # relation is too (r12 empty-corpus hardening; avoids 1/0 below)
        return spark.createDataFrame([], "n_nationkey long, pagerank double")
    ow = e.groupBy("src").agg(F.sum("w").alias("ow"))
    # cache() the normalized edge relation: without it every iteration (and
    # both sides of the final join) re-runs the 4-join derivation spine —
    # measured 54 exchanges in the uncached plan vs 3 per iteration cached.
    # The canonical iterative-algorithm idiom; at graph scale persist to
    # disk-backed storage and pre-partition by src so each iteration's join
    # is exchange-free on the edge side.
    ew = (
        e.join(ow, "src")
        .select("src", "dst", (F.col("w") / F.col("ow")).alias("share"))
        .cache()
    )
    pr = nodes.select("k", F.lit(1.0 / n).alias("pr"))
    for _ in range(3):
        contrib = (
            ew.join(F.broadcast(pr.withColumnRenamed("k", "src")), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("pr") * F.col("share")).alias("s"))
        )
        pr = nodes.join(
            F.broadcast(contrib), nodes.k == contrib.dst, "left"
        ).select(
            "k",
            F.round(
                F.lit(0.15 / n) + 0.85 * F.coalesce(F.col("s"), F.lit(0.0)), 12
            ).alias("pr"),
        )
    return pr.select(
        F.col("k").alias("n_nationkey"), F.round("pr", 8).alias("pagerank")
    )


@query(
    "graph_triangle_count",
    oracle=f"""
    WITH e AS ({_EDGE_SQL}),
    u AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b, sum(w) AS w
          FROM e WHERE src <> dst GROUP BY 1, 2),
    st AS (SELECT a, b FROM u WHERE w > 1.5 * (SELECT avg(w) FROM u)),
    tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM st e1 JOIN st e2 ON e1.b = e2.a
                       JOIN st e3 ON e1.a = e3.a AND e2.b = e3.b),
    m AS (SELECT x AS k FROM tri UNION ALL SELECT y FROM tri
          UNION ALL SELECT z FROM tri)
    SELECT k AS n_nationkey, count(*) AS n_triangles
    FROM m GROUP BY k
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation in the strong-trade graph: direction
    collapsed (least/greatest + weight sum), edges kept above 1.5× the mean
    pair weight, triangles enumerated once via the a<b<c node-ordering
    two-self-join (e1=(a,b), e2=(b,c), e3=(a,c)) — no 6× over-count, no
    post-hoc dedup.

    At this corpus's weight distribution the 1.5×-mean gate leaves no
    triangles (legitimate: strong edges are sparse), so the enumeration
    core is factored as triangle_participation() with the threshold as a
    parameter — the fixture tests pin the non-empty path on a known graph
    and on the real corpus at a looser gate.

    100 TB: the ordered enumeration bounds join fan-out by high-degree
    nodes only on their ORDERED adjacency (the classic heavy-hitter fix is
    degree-ordering instead of id-ordering; id order suffices at 25 nodes).
    Both joins are hash-equi on edge endpoints."""
    return triangle_participation(_trade_edges(spark, sf_dir), 1.5)


def triangle_participation(e: DataFrame, threshold_mult: float) -> DataFrame:
    """Triangle-membership counts per node over a directed weighted edge
    relation (src, dst, w): collapse direction, keep undirected pairs with
    summed weight > threshold_mult × mean pair weight, enumerate each
    triangle exactly once by node order. Returns (n_nationkey,
    n_triangles)."""
    u = (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
            "w",
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )
    mean_w = u.agg(F.avg("w").alias("m"))
    # cache(): st feeds three self-join branches — uncached, each branch
    # re-runs the whole edge-derivation spine (measured 42 exchanges).
    st = (
        u.join(F.broadcast(mean_w))
        .filter(F.col("w") > threshold_mult * F.col("m"))
        .select("a", "b")
        .cache()
    )
    e1 = st.alias("e1")
    e2 = st.alias("e2")
    e3 = st.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")),
        )
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
        )
    )
    members = (
        tri.select(F.col("x").alias("k"))
        .unionAll(tri.select(F.col("y").alias("k")))
        .unionAll(tri.select(F.col("z").alias("k")))
    )
    return members.groupBy(F.col("k").alias("n_nationkey")).agg(
        F.count("*").alias("n_triangles")
    )


@query(
    "graph_degree_distribution",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    pd AS (SELECT l_partkey, count(*) AS deg FROM ps GROUP BY 1),
    sd AS (SELECT l_suppkey, count(*) AS deg FROM ps GROUP BY 1)
    SELECT 'part' AS side, deg AS degree, count(*) AS n_nodes
    FROM pd GROUP BY 2
    UNION ALL
    SELECT 'supplier' AS side, deg AS degree, count(*) AS n_nodes
    FROM sd GROUP BY 2
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of both sides of the part–supplier bipartite
    incidence graph (distinct (l_partkey, l_suppkey) from lineitem): how
    many parts have exactly d suppliers and vice versa — the first
    diagnostic run on any graph before choosing join/skew strategy.

    100 TB: distinct → two cascaded aggs per side; the second agg's domain
    is |distinct degrees| (tiny). The distinct is the only full shuffle and
    is shared by both sides via an explicit persist-free plan reuse (Spark
    re-derives it per branch; at scale, checkpoint ps once)."""
    ps = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
        .cache()  # shared by both histogram branches (else 2× the shuffle)
    )
    pd_ = ps.groupBy("l_partkey").agg(F.count("*").alias("deg"))
    sd = ps.groupBy("l_suppkey").agg(F.count("*").alias("deg"))
    out_p = pd_.groupBy("deg").agg(F.count("*").alias("n_nodes")).select(
        F.lit("part").alias("side"), F.col("deg").alias("degree"), "n_nodes"
    )
    out_s = sd.groupBy("deg").agg(F.count("*").alias("n_nodes")).select(
        F.lit("supplier").alias("side"), F.col("deg").alias("degree"), "n_nodes"
    )
    return out_p.unionAll(out_s)


# The k-means CTE chain shared by the emb_kmeans_lloyd oracle and the
# dedup_semdedup oracle (SemDeDup clusters with the same Lloyd step).
_KMEANS_CTES = """
    WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
                 WHERE embedding IS NOT NULL AND len(embedding) = (SELECT len(embedding) FROM embeddings WHERE embedding IS NOT NULL GROUP BY 1 ORDER BY count(*) DESC, len(embedding) LIMIT 1)),
    c0 AS (SELECT vec_id AS cid, x AS cl FROM emb
           WHERE vec_id < (SELECT least(greatest(4, count(*) // 125), 64)
                           FROM emb)),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.x, e.x)
                          - 2 * list_dot_product(e.x, c.cl)
                          + list_dot_product(c.cl, c.cl), c.cid
               ) AS rn
        FROM emb e CROSS JOIN c0 c)
      WHERE rn = 1),
    c1m AS (
      SELECT a1.cid, u.pos, round(avg(u.v), 8) AS v
      FROM a1 JOIN emb e ON a1.vec_id = e.vec_id,
           LATERAL (SELECT unnest(e.x) AS v,
                           generate_subscripts(e.x, 1) AS pos) u
      GROUP BY a1.cid, u.pos),
    c1 AS (SELECT c0.cid,
                  coalesce(
                    (SELECT list(v ORDER BY pos) FROM c1m WHERE c1m.cid = c0.cid),
                    c0.cl) AS cl
           FROM c0),
    a2 AS (
      SELECT vec_id, cid, d2 FROM (
        SELECT e.vec_id, c.cid,
               list_dot_product(e.x, e.x) - 2 * list_dot_product(e.x, c.cl)
                 + list_dot_product(c.cl, c.cl) AS d2,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.x, e.x)
                          - 2 * list_dot_product(e.x, c.cl)
                          + list_dot_product(c.cl, c.cl), c.cid
               ) AS rn
        FROM emb e CROSS JOIN c1 c)
      WHERE rn = 1)
"""


def kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared Lloyd-step assignment pipeline: (vec_id, cid, d2) after one
    centroid update from the k lowest-vec_id seeds, k =
    clamp(n/125, 4, 64) — cluster sizes stay ~125 as the corpus grows
    (until the cap), which is what keeps dedup_semdedup's per-cluster
    pairwise work LINEAR in n instead of quadratic (measured: exponent
    1.89 → see docs/SCALE.md rehearsal; the k=4 fixed setting let
    clusters grow with the corpus). Fully relational — centroids are a
    broadcast relation, not driver-side literals, so there is no collect
    at any k. Beyond the cap, the 100 TB path swaps exact assignment for
    IVF-style approximate assignment (sim_ann_ivf's trainer); the cap is
    what keeps the n×k assignment cost linear here.

    See emb_kmeans_lloyd for the determinism contract; dedup_semdedup
    reuses these clusters as its semantic blocking structure. Both keys
    need the same deterministic fit, so the built plan is kept per session
    and corpus and the second key does not rebuild it."""
    return session_memo(spark, lambda: _kmeans_assign(spark, sf_dir), "kmeans", sf_dir)


def _kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from engine.tables import vectors

    # vectors(): NULL and wrong-dim embeddings are un-embeddable in the
    # cluster space (r13 ragged contract); k counts usable vectors only,
    # matching the oracles' filtered emb CTE
    emb = vectors(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    krel = emb.agg(
        F.least(
            F.greatest(F.lit(4), F.floor(F.count("*") / 125)), F.lit(64)
        ).alias("k")
    )
    c0 = (
        emb.crossJoin(F.broadcast(krel))
        .filter(F.col("vec_id") < F.col("k"))
        .select(F.col("vec_id").alias("cid"), F.col("x").alias("cl"))
    )
    a1 = _assign_step(emb, c0)
    c1m = (
        a1.join(emb, "vec_id")
        .select("cid", F.posexplode("x"))
        .groupBy("cid", "pos")
        .agg(F.round(F.avg("col"), 8).alias("v"))
    )
    return _assign_step(emb, _rebuild_centroids(c0, c1m))


def _assign_step(pts: DataFrame, cents: DataFrame) -> DataFrame:
    """One assignment pass: (vec_id, cid, d2) = argmin over the broadcast
    centroid relation. d2 terms in the oracle's exact order and
    association: |x|² − 2·(x·c) + |c|², every dot an ordered fold. min
    over (d2, cid) structs ≡ the oracle's row_number ORDER BY d2, cid —
    lexicographic struct ordering, partial-aggregable."""
    d2 = dot("x", "x") - 2 * dot("x", "cl") + dot("cl", "cl")
    scored = pts.select("vec_id", "x").crossJoin(F.broadcast(cents)).select(
        "vec_id", F.struct(d2.alias("d2"), F.col("cid").alias("cid")).alias("s")
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.min("s").alias("b"))
        .select(
            "vec_id",
            F.col("b.cid").alias("cid"),
            F.col("b.d2").alias("d2"),
        )
    )


def _rebuild_centroids(c0: DataFrame, c1m: DataFrame) -> DataFrame:
    """Reassemble updated centroid vectors from per-(cid, pos) means;
    empty clusters keep their seed position (the oracle's coalesce)."""
    rebuilt = c1m.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "v"))),
            lambda s: s.getField("v"),
        ).alias("cl_new")
    )
    return c0.join(rebuilt, "cid", "left").select(
        "cid", F.coalesce(F.col("cl_new"), F.col("cl")).alias("cl")
    )


def _rep_lloyd_assign(emb_full: DataFrame, reps: DataFrame) -> DataFrame:
    """The full-corpus Lloyd step evaluated at REPRESENTATIVE level
    (dedup_semdedup's r11 collapse path): identical vectors get identical
    (d2, cid) at every step, so assigning each distinct embedding once
    reproduces every member's assignment — PROVIDED k, the seeds, and the
    centroid update come from the FULL corpus:

    - k = clamp(n_full/125, 4, 64) counts members, not groups;
    - seeds are the full-corpus rows with vec_id < k (duplicate seed
      positions keep their distinct cids: ties route members to the
      lowest cid, but an empty duplicate seed RETAINS its unmoved
      position through the update and can win re-assignments, so it
      cannot be dropped);
    - the per-(cid, pos) mean weights each rep by its member count
      (sum(v·w)/sum(w) equals the member-wise avg up to FP summation
      order; the shared round-to-8dp resynchronizes, exactly as it
      already does between Spark's and DuckDB's orders).

    Residual risk (ADVICE r11, accepted + test-pinned r12): if a
    per-(cid, pos) mean lands within ~5e-9 of a x.xxxxxxx5 rounding
    boundary, the weighted and member-wise summation orders can round to
    different 8dp values and the diverged centroid feeds the second
    assignment pass. The same risk class already exists between Spark's
    and DuckDB's summation orders on the ORIGINAL path, has never fired
    across the sf corpora, and is pinned by oracle-equality tests on
    uniform 3x clones AND mixed-multiplicity corpora (one dup group /
    skewed sizes incl. a duplicated seed — test_trainops.py). If it ever
    fires: switch the update to integer-scaled exact accumulation
    (round(v*1e8) as bigint sums) on both engines.

    reps: (vec_id = group min id, x, grp_n). Returns (vec_id, cid, d2)
    at rep level."""
    krel = emb_full.agg(
        F.least(
            F.greatest(F.lit(4), F.floor(F.count("*") / 125)), F.lit(64)
        ).alias("k")
    )
    c0 = (
        emb_full.crossJoin(F.broadcast(krel))
        .filter(F.col("vec_id") < F.col("k"))
        .select(F.col("vec_id").alias("cid"), F.col("x").alias("cl"))
    )
    a1 = _assign_step(reps, c0)
    w = F.col("grp_n").cast("double")
    c1m = (
        a1.join(reps, "vec_id")
        .select("cid", w.alias("w"), F.posexplode("x"))
        .groupBy("cid", "pos")
        .agg(F.round(F.sum(F.col("col") * F.col("w")) / F.sum("w"), 8).alias("v"))
    )
    return _assign_step(reps, _rebuild_centroids(c0, c1m))


@query(
    "emb_kmeans_lloyd",
    oracle=_KMEANS_CTES
    + """
    SELECT cid AS cluster_id, count(*) AS n_members,
           round(sum(d2), 2) AS inertia
    FROM a2 GROUP BY cid
    """,
)
def emb_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd iteration of k-means plus re-assignment, fully
    deterministic: k = clamp(n/125, 4, 64); init centroids = the k lowest
    vec_ids; assignment = argmin squared distance (|x|² − 2x·c + |c|²,
    dot products as ordered folds; ties broken by lowest cluster id);
    update = per-(cluster, dim) mean rounded to 8 dp on both engines
    (re-synchronizes the order-dependent sum); empty clusters keep their
    previous centroid. Output: per-cluster membership count + inertia.

    100 TB: the canonical broadcast-centroids shape — centroids are a
    broadcast RELATION (zero driver state, no collect at any k), the
    assignment a map-side fold against it, the update ONE shuffle keyed
    (cluster, dim) with partial aggregation. More iterations = a Python
    loop over the same two steps; nothing grows with corpus size. The
    assignment pipeline lives in kmeans_assign (shared with
    dedup_semdedup, where the scaled k is what keeps pairwise dedup
    linear — measured in docs/SCALE.md's rehearsal).

    Exact-dup collapse (the engine.tables.clone_groups rule, weights
    only): taken when embeddings duplicate under unique ids. The Lloyd
    step runs once per distinct vector (_rep_lloyd_assign); n_members =
    Σ group sizes and inertia = Σ d2·size (every member's d2 equals its
    rep's; the round-to-2dp absorbs the summation order)."""
    from engine.tables import all_rows_distinct, swap_persist
    from engine.tables import vectors as _vectors

    emb_raw = _vectors(spark, sf_dir)
    path = f"{sf_dir}/embeddings.parquet"
    # Collapse-path precondition (r14 dup-id axis): the rep key is
    # min(vec_id) per distinct vector, which COLLIDES when one id carries
    # two different payloads (a re-embed under an existing id) — two reps
    # share a vec_id and every rep-keyed join fans out. Colliding ids also
    # change the contract itself: the oracle's rn=1-per-vec_id keeps only
    # the best assignment per ID, which the member-level path's
    # groupBy(vec_id) argmin reproduces exactly. So: distinct embeddings
    # OR non-unique ids -> member-level path (linear n×k either way);
    # the collapse path requires unique ids for rep-key integrity.
    if all_rows_distinct(spark, path, emb_raw, "embedding") or not (
        all_rows_distinct(spark, path, emb_raw, "vec_id")
    ):
        a2 = kmeans_assign(spark, sf_dir)
        return a2.groupBy(F.col("cid").alias("cluster_id")).agg(
            F.count("*").alias("n_members"),
            F.round(F.sum("d2"), 2).alias("inertia"),
        )
    emb = emb_raw.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    # reps feeds both _assign_step passes, the c1m join and the output
    # join, so it is persisted. Not clone_groups: this key needs no
    # member lists, and a collect_list in the persisted aggregate would
    # only add work.
    reps = swap_persist(
        spark,
        emb.groupBy("x").agg(
            F.min("vec_id").alias("vec_id"), F.count("*").alias("grp_n")
        ),
        "kmeans_reps",
    )
    a2r = _rep_lloyd_assign(emb, reps)
    w = F.col("grp_n").cast("double")
    return (
        a2r.join(reps.select("vec_id", "grp_n"), "vec_id")
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.sum("grp_n").alias("n_members"),
            F.round(F.sum(F.col("d2") * w), 2).alias("inertia"),
        )
    )


