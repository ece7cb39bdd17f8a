"""Named tests for engine/pipeline.py (pipeline_dedup_cascade):
stage monotonicity, exact-stage keeper identity, and near-stage agreement
with an independent union-find over the pair kernel's output."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def _q(name):
    from engine.registry import collect

    queries, _ = collect()
    return queries[name]


def _find(parent, x):
    while parent[x] != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x


def test_cascade_stages_and_counts(spark):
    from engine.tables import load

    rows = _q("pipeline_dedup_cascade")(spark, SF_DIR).collect()
    assert rows
    docs = load(spark, SF_DIR, "documents").select("doc_id", "source").collect()
    per_source: dict[str, int] = {}
    per_source_recrawl: dict[str, int] = {}
    for d in docs:
        per_source[d["source"]] = per_source.get(d["source"], 0) + 1
        if d["doc_id"] % 10 == 0:
            per_source_recrawl[d["source"]] = (
                per_source_recrawl.get(d["source"], 0) + 1
            )
    # Independent union-find over the near-dup pair kernel's own output
    # (the corpus has no exact dups, so exact survivors == original docs
    # and the pair set equals dedup_near_minhash's).
    pairs = [
        (r["a_id"], r["b_id"])
        for r in _q("dedup_near_minhash")(spark, SF_DIR).collect()
    ]
    parent = {}
    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = _find(parent, a), _find(parent, b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    losers = {x for x in parent if _find(parent, x) != x}
    doc_source = {d["doc_id"]: d["source"] for d in docs}
    expected_losers: dict[str, int] = {}
    for x in losers:
        expected_losers[doc_source[x]] = expected_losers.get(doc_source[x], 0) + 1

    assert {r["source"] for r in rows} == set(per_source)
    for r in rows:
        s = r["source"]
        assert r["n_ingested"] == per_source[s] + per_source_recrawl.get(s, 0)
        # exact keeps exactly the originals (min doc_id beats the +100000 copy)
        assert r["n_after_exact"] == per_source[s]
        assert r["n_after_near"] == per_source[s] - expected_losers.get(s, 0)
        assert r["n_ingested"] >= r["n_after_exact"] >= r["n_after_near"] > 0
        assert abs(r["retention"] - r["n_after_near"] / r["n_ingested"]) < 1e-3
    assert sum(len({a for a, _ in pairs} | {b for _, b in pairs}) for _ in [0]) > 0
    assert losers, "corpus is documented to contain planted near-dups"


def test_component_losers_driver_vs_distributed_paths(spark, monkeypatch):
    """component_losers' bounded driver union-find must produce exactly
    the distributed min-label loop's loser set —
    including the NULLS-FIRST struct keeper order (a NULL source beats a
    non-NULL one at equal doc_id) — on a multi-component graph with a
    chain (transitivity), an isolated pair, and a NULL-source node."""
    import pyspark.sql.functions as F
    import pyspark.sql.types as T

    from engine import dedup

    kid_t = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
            T.StructField("h", T.LongType()),
        ]
    )
    pair_t = T.StructType(
        [T.StructField("a_id", kid_t), T.StructField("b_id", kid_t)]
    )
    # component 1: chain 1-2-3 (keeper (1,'a',10)); component 2: the pair
    # (5,NULL,50)-(5,'b',51) — NULL source must win at equal doc_id.
    pairs = spark.createDataFrame(
        [
            ((1, "a", 10), (2, "b", 20)),
            ((2, "b", 20), (3, None, 30)),
            ((5, None, 50), (5, "b", 51)),
        ],
        pair_t,
    )
    fast = {tuple(r["node"]) for r in dedup.component_losers(spark, pairs).collect()}
    monkeypatch.setattr(dedup, "_UNION_FIND_MAX_PAIRS", 0)  # distributed path
    slow = {tuple(r["node"]) for r in dedup.component_losers(spark, pairs).collect()}
    assert fast == slow == {
        (2, "b", 20),
        (3, None, 30),
        (5, "b", 51),
    }


def test_min_label_components_exact_and_loud(spark, monkeypatch):
    """The min-label loop stops on an exact change count, which cannot
    overflow on large 64-bit ids (a sum of labels does), and a graph that
    has not converged within the round bound raises instead of returning
    unconverged labels."""
    import pyspark.sql.functions as F

    from engine import dedup

    def chain(base, n):
        nodes = spark.range(n).select((F.col("id") + F.lit(base)).alias("node"))
        fwd = nodes.select(
            F.col("node").alias("src"), (F.col("node") + 1).alias("dst")
        ).filter(F.col("dst") < F.lit(base + n))
        edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        return edges, nodes

    big = 2**62
    labels = dedup.min_label_components(*chain(big, 3)).collect()
    assert sorted((r["node"], r["label"]) for r in labels) == [
        (big, big),
        (big + 1, big),
        (big + 2, big),
    ]

    monkeypatch.setattr(dedup, "_MAX_LABEL_ROUNDS", 5)
    with pytest.raises(RuntimeError, match="did not reach a fixpoint"):
        dedup.min_label_components(*chain(0, 40))
