"""Statistics-driven operating points (r06): the LSH signature width and
IVF cluster count read corpus size from parquet footers. These tests pin
the two load-bearing contracts: (1) the footer probe works on both storage
layouts, (2) every driver/test SF stays exactly at the parameter floor —
the oracle results and recall floors were measured there, so a formula
tweak that moves the floor would silently change driver-checked output."""

from __future__ import annotations

import math
import os

import pytest

from engine.tables import parquet_num_rows

SF1 = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.01"
SF3 = "/root/testdata/sf0.1"


def _lsh_bits(n):
    return max(8, int(math.ceil(math.log2(max(n / 8, 2)))))


def _ivf_nlist(n):
    return max(8, int(round(math.sqrt(n / 32))))


def test_footer_count_single_file():
    n = parquet_num_rows(f"{SF2}/embeddings.parquet")
    assert n == 500


def test_footer_count_directory_layout(spark, tmp_path):
    src = spark.read.parquet(f"{SF1}/embeddings.parquet")
    out = str(tmp_path / "emb_dir.parquet")
    src.repartition(3).write.mode("overwrite").parquet(out)
    assert parquet_num_rows(out) == src.count()


def test_footer_count_unreadable_returns_none(tmp_path):
    assert parquet_num_rows(str(tmp_path / "nope.parquet")) is None
    bad = tmp_path / "bad.parquet"
    bad.write_text("not parquet")
    assert parquet_num_rows(str(bad)) is None


@pytest.mark.parametrize("sf_dir", [SF1, SF2])
def test_oracle_sfs_sit_on_the_floor(sf_dir):
    """The driver compares at sf0.01 and pytest at sf0.001; both corpora
    must resolve to the floor parameters the oracles were verified at."""
    n = parquet_num_rows(f"{sf_dir}/embeddings.parquet")
    assert n is not None
    assert _lsh_bits(n) == 8
    assert _ivf_nlist(n) == 8


def test_bench_sf_keeps_measured_operating_point():
    """sf0.1 is the benchmarked corpus: the nlist calibration (sqrt(n/32))
    deliberately releases the floor just past it."""
    n = parquet_num_rows(f"{SF3}/embeddings.parquet")
    assert n is not None
    assert _ivf_nlist(n) == 8
    assert _lsh_bits(n) == 8


def test_params_scale_past_the_floor():
    assert _lsh_bits(10_000) == 11
    assert _ivf_nlist(10_000) == 18
    assert _ivf_nlist(1_000_000) == 177
    assert _lsh_bits(1_000_000) == 17


def test_formulas_match_operator_source():
    """Guard against the formulas here drifting from the operators: the
    source must contain the exact expressions these tests pin."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sim = open(os.path.join(root, "engine", "simsearch.py")).read()
    p4 = open(os.path.join(root, "engine", "pipeline4.py")).read()
    assert "max(8, int(np.ceil(np.log2(max(n_reps / 8, 2)))))" in sim
    assert "max(8, int(round(math.sqrt(_n / 32))))" in sim
    assert "int(round(math.sqrt(_n / 32)))" in p4
