"""Named tests for engine/extras33.py: NDCG bounds + numpy recompute,
rounding-mode truth table, and sweep-line vs interval-count recompute."""

from __future__ import annotations

from tests.conftest import SF_DIR


def _q(name):
    from engine.registry import collect

    queries, _ = collect()
    return queries[name]


def test_ndcg_bounds_and_recompute(spark):
    import math

    import numpy as np

    from engine.tables import load

    rows = {r["query_id"]: r for r in _q("sim_eval_ndcg")(spark, SF_DIR).collect()}
    from engine.simsearch import _NDCG_QUERIES

    assert set(rows) == set(_NDCG_QUERIES)
    emb = {
        r["vec_id"]: (np.array(r["embedding"], dtype=np.float64), r["label"])
        for r in load(spark, SF_DIR, "embeddings").collect()
    }
    for qid, r in rows.items():
        assert 0.0 <= r["ndcg5"] <= 1.0 + 1e-9
        qv, ql = emb[qid]
        ranked = sorted(
            ((float(qv @ v), nid, lab) for nid, (v, lab) in emb.items() if nid != qid),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        rel = [1.0 if lab == ql else 0.0 for _, _, lab in ranked]
        dcg = sum(g / math.log2(i + 2) for i, g in enumerate(rel))
        n_rel = int(sum(rel))
        idcg = sum(1.0 / math.log2(k + 2) for k in range(max(n_rel, 1)))
        expect = 0.0 if n_rel == 0 else dcg / idcg
        assert r["n_relevant"] == n_rel
        assert abs(r["ndcg5"] - round(expect, 4)) <= 0.0001


def test_rounding_modes_truth_table(spark):
    rows = _q("fn_round_half_even")(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        k = int(r["v"] - 0.5)
        assert r["half_up"] == k + 1  # away from zero on positive ties
        assert r["half_even"] == (k if k % 2 == 0 else k + 1)
        assert r["modes_differ"] == (k % 2 == 0)


def test_concurrency_sweep_matches_bruteforce(spark):
    """Peak concurrency per day equals a brute-force check at event
    boundaries (concurrency only changes at ±1 events)."""
    import datetime

    from engine.tables import load

    rows = {r["day"]: r["peak_concurrent"] for r in _q("win_concurrency_sweep")(spark, SF_DIR).collect()}
    assert rows
    ev = load(spark, SF_DIR, "events").select("ts", "event_id").collect()
    deltas = []
    for e in ev:
        deltas.append((e["ts"], 1, e["event_id"]))
        deltas.append((e["ts"] + datetime.timedelta(minutes=30), -1, e["event_id"]))
    deltas.sort(key=lambda t: (t[0], t[1], t[2]))
    cur = 0
    peak: dict = {}
    for ts, d, _ in deltas:
        cur += d
        day = ts.replace(hour=0, minute=0, second=0, microsecond=0)
        peak[day] = max(peak.get(day, 0), cur)
    assert rows == peak
    assert max(rows.values()) >= 2  # sessions genuinely overlap
