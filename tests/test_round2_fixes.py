"""Round-2 regression tests for the round-1 verdict/advice items:

- tune() memoization actually skips conf round-trips on repeat calls
  (VERDICT item 3 / ADVICE: the memo must hold the session, not its id()).
- udaf_pandas_group's slope is NULL (not a TypeError) for zero-variance
  groups, matching regr_slope (ADVICE item 4).
- join_asof_forward is no longer vacuous: its probe lands inside the orders
  date domain, produces real matches, and a known (event -> next order) pair
  is pinned against an independently-computed DuckDB answer (VERDICT item 1).
- side-effecting operators scope their temp paths / sink names by sf_dir so
  a second scale factor can't poison the first scale's memoized plan
  (ADVICE medium item).
"""

from __future__ import annotations

import pandas as pd

from tests.conftest import SF_DIR


def test_tune_memo_skips_conf_roundtrips(spark):
    """Second tune() on the same session must not touch spark.conf at all."""
    from engine.session import _STORE, tune

    tune(spark)  # ensure cached (get_spark already tuned it)
    assert (spark, "tuned") in _STORE
    calls = {"n": 0}
    orig_get, orig_set = spark.conf.get, spark.conf.set

    class CountingConf:
        def get(self, *a, **k):
            calls["n"] += 1
            return orig_get(*a, **k)

        def set(self, *a, **k):
            calls["n"] += 1
            return orig_set(*a, **k)

    real_conf = spark.__class__.conf
    try:
        spark.__class__.conf = property(lambda self: CountingConf())
        tune(spark)
    finally:
        spark.__class__.conf = real_conf
    assert calls["n"] == 0, f"memoized tune() did {calls['n']} conf round-trips"


def test_slope_zero_variance_is_null():
    """Constant-quantity group -> slope NULL (regr_slope semantics), never a
    round(None) TypeError that would kill the whole query."""
    from engine.udfs import _slope

    pdf = pd.DataFrame(
        {
            "l_returnflag": ["Z", "Z", "Z"],
            "l_quantity": [5.0, 5.0, 5.0],
            "l_extendedprice": [1.0, 2.0, 3.0],
        }
    )
    out = _slope(pdf)
    assert len(out) == 1
    assert out["slope"].iloc[0] is None or pd.isna(out["slope"].iloc[0])


def test_asof_forward_not_vacuous(spark, duck):
    """The forward as-of must produce real matches AND drop some events (the
    probe spread reaches past the last order), and the pinned lowest-event
    answer must equal an independent ORDER BY/LIMIT 1 oracle formulation."""
    from engine.registry import collect

    queries, _ = collect()
    rows = queries["join_asof_forward"](spark, SF_DIR).collect()
    assert len(rows) > 0, "forward as-of matched nothing — probe outside domain?"
    n_events = duck.sql("SELECT count(*) FROM events WHERE user_id < 30").fetchone()[0]
    assert len(rows) < n_events, "no event dropped — inner-join path unexercised"

    got = min(rows, key=lambda r: r.event_id)
    want = duck.sql(
        f"""
        SELECT o.o_orderkey, o.o_orderdate
        FROM events e JOIN orders o ON o.o_custkey = e.user_id
        WHERE e.event_id = {got.event_id}
          AND o.o_orderdate > e.ts - INTERVAL 28 YEAR
                              + to_years(CAST(e.event_id % 8 AS INT))
        ORDER BY o.o_orderdate, o.o_orderkey LIMIT 1
        """
    ).fetchone()
    assert (got.next_orderkey, got.next_orderdate) == (want[0], want[1])


def test_tmp_paths_are_sf_scoped(spark):
    """Running a path-sinking operator at two sf_dirs from one session must
    keep each scale's data intact: the memoized sf0.001 plan still returns
    sf0.001 row counts after an sf0.01 run (the round-1 stale-scale hazard)."""
    from engine.registry import collect

    queries, _ = collect()
    q = queries["scan_csv_roundtrip"]
    n_small_before = q(spark, SF_DIR).count()
    q(spark, "/root/testdata/sf0.01").count()  # would overwrite a shared path
    assert q(spark, SF_DIR).count() == n_small_before


def test_broadcast_side_gate_refuses_oversize(spark, monkeypatch):
    """Past the ~1M-vector budget the broadcast-matmul keys must refuse
    loudly (pointing at the IVF path), not collect unbounded data."""
    import pytest

    import engine.llmops as llmops
    from engine.tables import load

    monkeypatch.setattr(llmops, "_MAX_BROADCAST_VECTORS", 10)
    emb = load(spark, SF_DIR, "embeddings")
    with pytest.raises(RuntimeError, match="IVF"):
        llmops._broadcast_side(spark, SF_DIR, emb)


def test_lit_table_escapes_backslash_and_rejects_nonfinite(spark):
    """ADVICE r03: backslashes must survive the VALUES literal round-trip
    (Spark treats backslash as an escape in string literals), and
    None/NaN/inf inputs must fail loudly instead of emitting mangled SQL."""
    import math

    import pytest

    from engine.tables import lit_table

    rows = [["a\\b", 1], ["it's", 2], ["plain", 3]]
    out = {r["s"]: r["n"] for r in lit_table(spark, rows, ["s", "n"]).collect()}
    assert out == {"a\\b": 1, "it's": 2, "plain": 3}
    with pytest.raises(ValueError):
        lit_table(spark, [[None, 1]], ["s", "n"])
    with pytest.raises(ValueError):
        lit_table(spark, [[float("nan")]], ["x"])
    with pytest.raises(ValueError):
        lit_table(spark, [[math.inf]], ["x"])
