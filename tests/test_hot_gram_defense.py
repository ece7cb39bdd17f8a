"""r14 hot-gram (boilerplate) defense for the exact gram-pair counter
(engine.textops.exact_gram_pair_counts): A/B equivalence of the defended
light/hot/tiny split against the plain inverted-index join, with the cap
forced low so EVERY branch (light completion, hot arrays, one-sided tiny
pairs) actually executes — the real corpora never push a gram past the
production cap, so without this test the split's exactness would only
ever be exercised on the n_hot == 0 fast path."""

from __future__ import annotations

import pytest

import engine.dedup as dd
import engine.textops as tx


@pytest.fixture()
def boiler_docs(spark):
    """Synthetic corpus: 40 docs share a 6-word boilerplate header
    (every 3-gram inside it goes hot once the cap is forced to 5), of
    which 10 are TINY (boilerplate + one word — passable on hot grams
    alone), plus 10 clean docs. Includes a near-dup pair among the
    content docs and an exact-subset tiny pair."""
    boiler = "alpha beta gamma delta epsilon zeta"
    rows = []
    for i in range(30):
        rows.append((i, f"{boiler} body{i} filler{i} unique{i} tail{i} end{i}"))
    for i in range(30, 40):  # tiny: boilerplate + 1 word
        rows.append((i, f"{boiler} solo{i % 3}"))
    for i in range(40, 50):  # clean docs, no boilerplate
        rows.append((i, f"clean{i} words{i} without{i} header{i} five{i}"))
    rows.append((100, "alpha beta gamma delta epsilon zeta body0 filler0 unique0 tail0 end0"))  # near-dup of doc 0
    return spark.createDataFrame(rows, "doc_id long, text string")


def _counts(spark, d, cap):
    old = tx._NGRAM_DF_CAP
    tx._NGRAM_DF_CAP = cap
    try:
        sh = tx.word_ngram_ids(d, 3).persist()
        sh.count()
        out = sorted(
            (r["a_id"], r["b_id"], r["c"])
            for r in tx.exact_gram_pair_counts(sh, tiny_k=6).collect()
        )
        sh.unpersist()
        return out
    finally:
        tx._NGRAM_DF_CAP = old


def test_defended_counts_equal_plain_join(spark, boiler_docs):
    plain = _counts(spark, boiler_docs, cap=10**9)  # cap never engages
    defended = _counts(spark, boiler_docs, cap=5)  # boiler grams all hot
    # the DEFENDED counter may omit pairs the threshold algebra rejects
    # (hot-only pairs between two non-tiny docs with c <= min hot-count
    # while na+nb > 6c) — so compare on the pairs it emits, and verify
    # every omitted pair is provably below the Jaccard threshold
    dmap = dict(((a, b), c) for a, b, c in defended)
    sizes = {
        r["doc_id"]: r["n"]
        for r in tx.word_ngram_ids(boiler_docs, 3)
        .selectExpr("doc_id", "size(s) as n")
        .collect()
    }
    for a, b, c in plain:
        if (a, b) in dmap:
            assert dmap[(a, b)] == c, f"count mismatch on pair {(a, b)}"
        else:
            jac = c / (sizes[a] + sizes[b] - c)
            assert jac < dd._NGRAM_JAC_T, (
                f"omitted pair {(a, b)} passes the threshold: {jac}"
            )
    assert set(dmap) <= {(a, b) for a, b, _ in plain}  # no phantom pairs


def test_defended_jaccard_output_identical(spark, boiler_docs):
    """End-to-end: the kernel's thresholded OUTPUT is exactly the plain
    join's thresholded output under the forced cap — the contract the
    DuckDB oracle checks."""

    def _jac(cap):
        old = tx._NGRAM_DF_CAP
        tx._NGRAM_DF_CAP = cap
        try:
            return sorted(
                (r["a_id"], r["b_id"], r["jaccard"])
                for r in dd._ngram_jaccard_kernel(boiler_docs).collect()
            )
        finally:
            tx._NGRAM_DF_CAP = old

    plain, defended = _jac(10**9), _jac(5)
    assert plain == defended
    assert plain, "fixture must produce at least one threshold pair"
    # tiny pairs (boiler + shared solo word) must be present — they share
    # ONLY hot grams, so they prove the tiny branch emits
    tiny_ids = {(a, b) for a, b, _ in plain if a >= 30 and b >= 30}
    assert tiny_ids, "expected tiny-doc pairs passing on hot grams alone"


def test_hot_max_guard_raises(spark, boiler_docs):
    old_cap, old_max = tx._NGRAM_DF_CAP, tx._NGRAM_HOT_MAX
    tx._NGRAM_DF_CAP, tx._NGRAM_HOT_MAX = 5, 1
    try:
        sh = tx.word_ngram_ids(boiler_docs, 3)
        with pytest.raises(ValueError, match="clone soup"):
            tx.exact_gram_pair_counts(sh, tiny_k=6).collect()
    finally:
        tx._NGRAM_DF_CAP, tx._NGRAM_HOT_MAX = old_cap, old_max
