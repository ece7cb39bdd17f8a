"""Unit tests for the r04 batch-19 keys (engine/timeseries.py,
engine/extras4.py, and the stream source now in engine/udfs.py) —
invariants the oracle compare can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_ewma_bounded_by_series_extremes(spark):
    """An EWMA is a convex combination of the last 12 counts — every value
    must sit within the per-type min/max hourly count."""
    from engine.registry import collect
    from engine.tables import load

    queries, _ = collect()
    out = queries["win_ewma_smoothing"](spark, SF_DIR).collect()
    e = load(spark, SF_DIR, "events")
    ext = {
        r["event_type"]: (r["lo"], r["hi"])
        for r in e.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("event_type")
        .agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
        .collect()
    }
    assert len(out) > 0
    for r in out:
        lo, hi = ext[r["event_type"]]
        assert lo - 1e-9 <= r["ewma"] <= hi + 1e-9, r


def test_gap_fill_grid_dense_and_observed_preserved(spark):
    """The output grid must be dense (one row per hour between per-type
    min/max), observed hours must keep their exact counts, and interpolated
    values must lie between their neighbors."""
    from engine.registry import collect
    from engine.tables import load

    queries, _ = collect()
    rows = queries["etl_gap_fill_interpolate"](spark, SF_DIR).collect()
    by_type: dict[str, list] = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    e = load(spark, SF_DIR, "events")
    observed = {
        (r["event_type"], r["hr"]): r["c"]
        for r in e.groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    for et, rs in by_type.items():
        rs.sort(key=lambda r: r["hr"])
        # dense hourly grid
        for a, b in zip(rs, rs[1:]):
            assert (b["hr"] - a["hr"]).total_seconds() == 3600, (et, a, b)
        for r in rs:
            if not r["was_gap"]:
                assert r["v_filled"] == observed[(et, r["hr"])], r
            else:
                assert (et, r["hr"]) not in observed
    assert any(r["was_gap"] for r in rows) or len(observed) == len(rows)


def test_xml_roundtrip_all_ok(spark):
    from engine.registry import collect

    queries, _ = collect()
    rows = queries["fn_xml_extract"](spark, SF_DIR).collect()
    assert len(rows) == 25
    assert all(r["roundtrip_ok"] for r in rows)


def test_skew_kurtosis_sane_ranges(spark):
    from engine.registry import collect

    queries, _ = collect()
    rows = queries["agg_skew_kurtosis"](spark, SF_DIR).collect()
    assert len(rows) == 3
    for r in rows:
        # price-like right-skewed distributions: finite, modest moments
        assert -10 < r["skew"] < 10
        assert -3 <= r["kurt"] < 100


def test_python_stream_source_offset_replay(spark):
    """readBetweenOffsets must re-serve a committed range identically —
    the exactly-once replay contract."""
    from engine.registry import collect

    queries, _ = collect()
    out = queries["scan_python_stream_source"](spark, SF_DIR)
    assert out.count() == 1000
    first = out.orderBy("i").limit(3).collect()
    assert [r["i"] for r in first] == [0, 1, 2]
    assert first[2]["sq"] == 4 and first[2]["tag"] == "ev-2"
