"""Named tests for engine/pipeline.py (pipeline_ann_index_build, ANN
index lifecycle): recall floor vs exact search, index artifact shape, and
the serve-side join strategy."""

from __future__ import annotations

from tests.conftest import SF_DIR


def _q(name):
    from engine.registry import collect

    queries, _ = collect()
    return queries[name]


def test_ann_index_recall_and_shape(spark):
    import numpy as np

    from engine.tables import load

    rows = _q("pipeline_ann_index_build")(spark, SF_DIR).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    from engine.pipeline import _K, _QUERY_IDS

    assert set(by_q) == set(_QUERY_IDS)
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load(spark, SF_DIR, "embeddings").collect()
    }
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, _K + 1))
        sims = [r["sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)
        # exact top-5 recall must be 1.0 (the oracle contract)
        q = emb[qid]
        exact = sorted(
            ((round(float(q @ v), 4), nid) for nid, v in emb.items() if nid != qid),
            key=lambda t: (-t[0], t[1]),
        )[:_K]
        assert {r["neighbor_id"] for r in rs} == {nid for _, nid in exact}


def test_ann_serve_is_hash_join_not_nested_loop(spark):
    df = _q("pipeline_ann_index_build")(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
