"""Operator registry: maps SURVEY.md §2 keys to (spark, sf_dir) -> DataFrame
builders and their DuckDB oracle SQL.

Every operator module registers via the ``@query`` decorator; ``collect()``
imports all operator modules and returns the populated maps. Keys without an
oracle get the driver's weaker rows-only check (none since the r06
graduations — every registered key now carries a FULL oracle).
"""

from __future__ import annotations

import functools
import importlib
import os
import pkgutil
from collections.abc import Callable
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[["SparkSession", str], "DataFrame"]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under SURVEY §2 key ``name`` with optional oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        # functools.wraps also sets wrapped.__wrapped__ = fn: the unmemoized
        # original, for callers that need a genuinely fresh plan build +
        # execution per invocation (bench.py's n-run sweep medians — the
        # memoized wrapper would make run 2+ of a one-shot streaming key
        # just re-count its memory sink).
        @functools.wraps(fn)
        def wrapped(spark: "SparkSession", sf_dir: str) -> "DataFrame":
            # Plans are lazy and immutable, so a repeat call (bench warm
            # runs, repeated driver checks) reuses the built plan and skips
            # Py4J plan construction + re-analysis. The driver harness owns
            # its SparkSession: the first build applies the runtime confs
            # we rely on (ns-parquet, UTC, AQE).
            from engine.session import session_memo, tune

            return session_memo(
                spark, lambda: fn(tune(spark), sf_dir), "plan", name, sf_dir
            )

        if name in QUERIES:
            raise ValueError(f"duplicate operator key: {name}")
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


# Keys fronted in collect()'s returned dict: the capped 50-entry
# CORRECTNESS window checks keys in dict order, so this list pins exactly
# which keys get attested regardless of registration order. It is the
# output of `python scripts/next_window.py <round>` (policy in that
# script's docstring); tests/test_registry_window.py fails on a hand-edit
# that diverges from it. Re-run the script at each round boundary.
_WINDOW_ROUND = 16  # CORRECTNESS_r{N}.json this window is aimed at

_ATTEST_FIRST = [
    "text_gopher_quality_rules",
    "text_hapax_ratio",
    "text_html_strip",
    "text_ngram_novelty",
    "text_source_vocab_jaccard",
    "text_top_bigrams_per_lang",
    "tpch_q11_important_stock_adapted",
    "tpch_q12_late_shipping_adapted",
    "tpch_q20_excess_supplier_adapted",
    "tpch_q21_waiting_adapted",
    "tpch_q2_min_cost_adapted",
    "udf_mapinpandas_stream",
    "udf_python_arrow_scalar",
    "udtf_table_argument",
    "agg_ab_ttest",
    "agg_benford_digit_audit",
    "agg_covariance_matrix",
    "agg_dau_mau",
    "agg_gini_concentration",
    "agg_grouping_id",
    "agg_histogram_2d",
    "agg_hour_dow_heatmap",
    "agg_listagg_native",
    "agg_mad_robust",
    "agg_markov_transitions",
    "agg_new_vs_returning",
    "agg_percentile_cont_disc",
    "agg_rate_smoothing",
    "agg_rfm_segmentation",
    "agg_seasonality_index",
    "agg_share_of_parent",
    "agg_skyline_pareto_frontier",
    "agg_top_paths",
    "agg_weighted_moments",
    "emb_centroid_confusion",
    "emb_cosine_histogram",
    "emb_dim_variance_rank",
    "etl_anomaly_iqr_fences",
    "etl_attribution_last_touch",
    "etl_checksum_reconcile",
    "etl_conversion_latency",
    "etl_golden_record",
    "etl_incremental_agg_merge",
    "etl_interval_audit",
    "etl_multi_sink_fanout",
    "etl_ohlc_resample",
    "etl_partition_overwrite_dynamic",
    "etl_retention_cohort",
    "etl_shard_manifest",
    "etl_surrogate_hash_keys",
]


def collect() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Import every module of the engine package, which registers its keys,
    and return (queries, oracles) with _ATTEST_FIRST in front."""
    for mod in pkgutil.iter_modules([os.path.dirname(__file__)], "engine."):
        importlib.import_module(mod.name)
    missing = [k for k in _ATTEST_FIRST if k not in QUERIES]
    if missing:
        raise KeyError(f"_ATTEST_FIRST names unregistered keys: {missing}")
    q = {k: QUERIES[k] for k in _ATTEST_FIRST}
    q.update(QUERIES)
    o = {k: ORACLES[k] for k in _ATTEST_FIRST if k in ORACLES}
    o.update(ORACLES)
    return q, o
