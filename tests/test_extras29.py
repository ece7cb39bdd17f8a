"""Named tests for dedup_pair_explain (engine/dedup.py): evidence-column invariants and
agreement with the kernel's pair set."""

from __future__ import annotations

from tests.conftest import SF_DIR


def _q(name):
    from engine.registry import collect

    queries, _ = collect()
    return queries[name]


def test_pair_explain_invariants(spark):
    rows = _q("dedup_pair_explain")(spark, SF_DIR).collect()
    assert rows
    kernel_pairs = {
        (r["a_id"], r["b_id"])
        for r in _q("dedup_near_minhash")(spark, SF_DIR).collect()
    }
    assert {(r["a_id"], r["b_id"]) for r in rows} == kernel_pairs
    for r in rows:
        assert r["a_id"] < r["b_id"]
        assert 0.0 <= r["jaccard_dist"] <= 0.6
        assert 0.0 < r["len_ratio"] <= 1.0
        # containment >= jaccard similarity always (min-denominator)
        sim = 1.0 - r["jaccard_dist"]
        assert r["containment"] >= sim - 1e-9
        assert r["containment"] <= 1.0 + 1e-9
    # the planted near-dups share 40-char prefixes [DATA]: most flagged
    # pairs carry the marker
    marked = sum(bool(r["prefix40_equal"]) for r in rows)
    assert marked / len(rows) >= 0.5
