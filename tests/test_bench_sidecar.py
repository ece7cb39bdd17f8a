"""The bench sidecar's attribution surface (r09): host_calib probes and
steal-counter stamps exist and carry the fields future-round comparisons
rely on. These are the fields the claim-of-record rule reads
(docs/SCALE.md r09) — a silent rename/drop would strand the rule."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_load_note_carries_steal_counters():
    note = bench._load_note()
    assert {"loadavg_1m", "loadavg_5m", "loadavg_15m", "cpus"} <= note.keys()
    # Linux /proc/stat is present on every host this repo targets
    assert note["steal_jiffies"] >= 0
    assert note["total_jiffies"] > 0


def test_host_calibration_surface(spark, monkeypatch):
    # sized WAY down: the test pins the FIELD surface, not host speed
    monkeypatch.setenv("SPARK_GRAFT_CALIB_CODEGEN_N", "100000")
    monkeypatch.setenv("SPARK_GRAFT_CALIB_SHUFFLE_N", "10000")
    calib = bench._host_calibration(spark)
    assert {"kernel", "spark_codegen_s", "spark_shuffle_s", "duckdb_s"} <= calib.keys()
    assert calib["spark_codegen_s"] > 0
    assert calib["spark_shuffle_s"] > 0
    assert calib["duckdb_s"] > 0
    # sized-down runs must self-mark as non-comparable to standard stamps
    assert calib["nonstandard_sizes"] == [100000, 10000]


def test_git_head_stamp_is_a_short_sha():
    head = bench._git_head()
    assert head == "unknown" or (4 <= len(head) <= 16 and all(
        c in "0123456789abcdef" for c in head
    ))


def test_sweep_sidecar_guard_protects_quiet_claim(tmp_path):
    """VERDICT r10 item 4: a loaded-host sweep must not clobber a
    quiet-host BENCH_SWEEP.json — it goes to the _NONQUIET side file.
    Every other combination writes the primary sidecar."""
    import json

    primary = tmp_path / "BENCH_SWEEP.json"
    side = tmp_path / "BENCH_SWEEP_NONQUIET.json"

    # no existing record: either kind of run claims the primary path
    assert bench._sweep_sidecar_path({"quiet_host": True}, str(tmp_path)) == str(primary)
    assert bench._sweep_sidecar_path({"quiet_host": False}, str(tmp_path)) == str(primary)

    # quiet record on disk: quiet overwrites, loaded is diverted
    primary.write_text(json.dumps({"quiet_host": True, "value": 1.0}))
    assert bench._sweep_sidecar_path({"quiet_host": True}, str(tmp_path)) == str(primary)
    assert bench._sweep_sidecar_path({"quiet_host": False}, str(tmp_path)) == str(side)

    # non-quiet record on disk: a non-quiet rerun may replace it
    primary.write_text(json.dumps({"quiet_host": False, "value": 2.0}))
    assert bench._sweep_sidecar_path({"quiet_host": False}, str(tmp_path)) == str(primary)

    # corrupt record never blocks the write
    primary.write_text("{not json")
    assert bench._sweep_sidecar_path({"quiet_host": False}, str(tmp_path)) == str(primary)


def test_quiet_host_needs_low_steal_in_every_pass():
    """A quiet start is not enough: one headline pass with steal above 3%
    marks the whole run non-quiet."""
    calm = {"loadavg_1m": 0.5}
    assert bench._quiet_host(calm, {"a": [0.1, 2.9], "b": [3.0, None]})
    assert not bench._quiet_host(calm, {"a": [0.1, 0.2], "b": [3.1, 0.0]})
    assert not bench._quiet_host({"loadavg_1m": 2.5}, {"a": [0.0]})
    assert not bench._quiet_host({}, {"a": [0.0]})  # no reading: not quiet
    assert bench._quiet_host(calm, {"a": [None, None]})  # no steal counter
