"""Named tests for pipeline_pretrain_mix (engine/pipeline.py): stage monotonicity,
mix-rate normalization, budget conservation, and eval exclusion."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _q(name):
    from engine.registry import collect

    queries, _ = collect()
    return queries[name]


def test_pretrain_mix_invariants(spark):
    rows = _q("pipeline_pretrain_mix")(spark, SF_DIR).collect()
    assert rows
    # rates normalize (up to per-group 6-dp rounding)
    assert abs(sum(r["mix_rate"] for r in rows) - 1.0) < 1e-3
    total_tok = sum(r["tok_kept"] for r in rows)
    # each budget = floor(rate * total) — never exceeds its rate share
    for r in rows:
        assert r["tok_budget"] <= r["mix_rate"] * total_tok + 1
        assert r["n_kept"] > 0 and r["tok_kept"] > 0
    # the kept corpus is a strict subset of the non-eval corpus
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n_corpus = d.filter(F.col("doc_id") % 11 != 0).count()
    assert sum(r["n_kept"] for r in rows) < n_corpus


def test_pretrain_mix_deterministic(spark):
    a = sorted(map(tuple, _q("pipeline_pretrain_mix")(spark, SF_DIR).collect()))
    b = sorted(map(tuple, _q("pipeline_pretrain_mix")(spark, SF_DIR).collect()))
    assert a == b
