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
from collections.abc import Callable
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[["SparkSession", str], "DataFrame"]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Which keys the driver's capped 50-entry CORRECTNESS window checks is
# controlled by _ATTEST_FIRST below (it pins the head of the returned dict
# in key-name terms) — module order here only sets the order of everything
# AFTER that list. History: r01 attested relational+aggs; r02
# llmops/textops/simsearch/multimodal/windows/functions; r03
# udfs/trainext/etl/extras/analytics/tpch_more (50/50 green); r04 fronts
# the 36 never/stale-attested keys + 4 oracle promotions + 10 of the 28
# r04-new keys. The sf0.001 pytest oracle layer covers every key every
# round regardless of the window.
_OPERATOR_MODULES = [
    "engine.pipeops",
    "engine.vecops",
    "engine.extras2",
    "engine.streaming",
    "engine.curation",
    "engine.sketches",
    "engine.extras3",
    "engine.multimodal",
    "engine.functions",
    "engine.udfs",
    "engine.trainext",
    "engine.etl",
    "engine.extras",
    "engine.analytics",
    "engine.tpch_more",
    "engine.relational",
    "engine.aggs",
    "engine.llmops",
    "engine.textops",
    "engine.simsearch",
    "engine.windows",
    # r04 additions register BELOW the 50-key attestation window on purpose
    # (window is full this round); the sf0.001 pytest oracle covers them
    # until the r05 rotation fronts them.
    "engine.datapipe",
    "engine.scaleops",
    "engine.sql4",
    "engine.timeseries",
    "engine.extras4",
    "engine.extras5",
    "engine.pipeline",
    "engine.catalogops",
    "engine.governance",
    # r05 additions (graphops/curation2/extras6 fronted by the r05 window;
    # retrieval/sql5/sinks2 registered late-round AFTER the window — the
    # r06 rotation fronts them, mirroring how the r04 batch was handled)
    "engine.graphops",
    "engine.curation2",
    "engine.extras6",
    "engine.retrieval",
    "engine.sql5",
    "engine.sinks2",
    "engine.extras7",
    "engine.extras8",
    "engine.extras9",
    "engine.extras10",
    "engine.retrieval2",
    "engine.pipeline2",
    "engine.extras11",
    "engine.extras12",
    "engine.udfs2",
    "engine.extras13",
    "engine.extras14",
    "engine.extras15",
    "engine.extras16",
    "engine.pipeline3",
    "engine.extras17",
    "engine.extras18",
    "engine.extras19",
    "engine.extras20",
    "engine.pipeline4",
    "engine.extras21",
    "engine.streaming2",
    "engine.extras22",
    "engine.extras23",
    "engine.extras24",
    "engine.pipeline5",
    "engine.extras25",
    "engine.extras26",
    "engine.extras27",
    "engine.extras28",
    "engine.extras29",
    "engine.extras30",
    "engine.extras31",
    "engine.extras32",
    "engine.extras33",
    "engine.extras34",
    "engine.pipeline6",
    "engine.extras35",
    "engine.extras36",
]


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


# Keys fronted in collect()'s returned dict — the driver's capped 50-entry
# CORRECTNESS window checks keys in dict order, so this list pins exactly
# which keys get attested regardless of module/registration order.
# History: r01 relational+aggs; r02 llmops/textops/simsearch/multimodal/
# windows/functions; r03 udfs/trainext/etl/extras/analytics/tpch_more;
# r04 the 36 never/stale keys + 4 oracle promotions + 10 sql4/datapipe/
# scaleops keys — every r01-r04 window came back green. r05 (this list):
# the 26 r04-registered keys never in any driver window, which completes
# 220/220 cumulative attestation, plus re-attests of the oldest r01
# greens filling the remaining slots.
# r06 window: 48 of the 129 keys that have never appeared in any driver
# CORRECTNESS file (VERDICT r05 item 1 — rotation coverage IS the round's
# deliverable), prioritized exactly as the r05 registry comment planned:
# all six pipeline capstones, the streaming state keys, the DECIMAL-exact
# key, the UDF/UDTF batch, the optimizer trio, the PIVOT/UNPIVOT clauses,
# the five adapted TPC-H shapes, then the largest never-attested families
# (text analysis, dedup/embedding, scans). The final 2 slots attest the
# r06 ROWS->FULL graduations (multimodal_decode_pipeline,
# scan_binary_files) so their first hash-match rows land on driver record.
# r07 window: the first 50 of the 81-key never-attested remainder — aggs
# (20), emb (3), etl (14), fn (8), join (3), and 2 of the 3 sample keys.
# Came back 50/50 green (CORRECTNESS_r07.json), bringing cumulative driver
# attestation to 333/364.
# r08 window: the remaining 31 never-attested keys — with that round,
# EVERY key in the inventory has a driver CORRECTNESS row — plus the
# first 19 staleness-rotation slots (oldest r01 greens, alphabetical).
# Came back 50/50 green (CORRECTNESS_r08.json): cumulative attestation
# 364/364 complete.
# Staleness policy: a green attestation AT LEAST 4 rounds older than the
# window's target round is eligible for a rotation slot once all keys
# have a first attestation (the boundary scripts/next_window.py encodes:
# newest_green <= target - 4); first-time attestation always outranks
# re-attestation.
#
# Window history: r08 completed first-attestation coverage (364/364);
# r09/r10 fronted the r01/r02-stale tiers; r11 fronted the 16 r02-stale
# + 34 oldest r03 greens (50/50 green, CORRECTNESS_r11.json).
#
# r12 window: continued pure staleness rotation — the 16 remaining r03
# greens (TPC-H core + udaf/udf/udtf/unpivot) then the 34 oldest r04
# greens. Came back 50/50 green (CORRECTNESS_r12.json).
#
# r13 window: the final 14 r04 greens + the 36 oldest r05 greens.
# Came back 50/50 green (CORRECTNESS_r13.json).
#
# r14 window (this list): the final 14 r05 greens (the whole remaining
# pre-r06 tier: scan_partition_prune, scan_python_stream_source,
# sink_compression_codecs, sort_multi_nulls, sql_cache/ddl/param,
# text_perplexity/quality_logreg/zipf, udaf_arrow_group,
# win_anomaly/ewma/gaps) then the 36 oldest r06 greens, alphabetical
# within each staleness tier. Derived by `python scripts/next_window.py
# 14` against the REAL on-disk CORRECTNESS_r01..r13 evidence at r14
# open (r13 came back 50/50 green, so the derivation equals the
# pre-registered rotation — verified by re-running the script, not by
# pasting). tests/test_registry_window.py pins this list == policy
# output; a hand-edit that diverges fails the suite.
# r15: the window was not swapped, so CORRECTNESS_r15 re-checked the
# r14 keys (50/50 green).
# r16 window (this list): `python scripts/next_window.py 16` — the
# remaining r06/r07 greens, oldest-green-first, alphabetical within a
# tier. Re-run the script at each boundary rather than hand-editing.
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
    for mod in _OPERATOR_MODULES:
        importlib.import_module(mod)
    missing = [k for k in _ATTEST_FIRST if k not in QUERIES]
    if missing:
        raise KeyError(f"_ATTEST_FIRST names unregistered keys: {missing}")
    q = {k: QUERIES[k] for k in _ATTEST_FIRST}
    q.update(QUERIES)
    o = {k: ORACLES[k] for k in _ATTEST_FIRST if k in ORACLES}
    o.update(ORACLES)
    return q, o
