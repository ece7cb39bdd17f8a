"""The benchmark's workloads and their output check.

An op is one registry key: its plan function ``fn(spark, sf_dir)``
followed by the workload's action. A round runs every op of the workload
once, in an order drawn from the workload seed.

- ``olap_warm`` calls the memoized registry wrappers (the plan is built once
  per session and reused) and ends each op with ``.collect()``: the warm
  read path of an analyst session. A re-run plan reuses the shuffle files
  and broadcasts of its first run, so its final stages and the Arrow
  similarity kernel do the work.
- ``etl_fresh`` calls each key's unmemoized ``__wrapped__`` function and ends
  with ``.count()``: every op builds its plan, writes its sinks and commits
  its streaming state again, as a nightly ingestion run does.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import sys
from collections.abc import Callable

# BASELINE.md's IN / NOT IN pair, which bench.py measures through its own
# `_semi_anti` function; the registry has no key for it, so its oracle lives
# here, aliased to that function's output column.
SEMI_ANTI_ORACLE = (
    "SELECT count(*) AS cnt FROM customer "
    "WHERE c_custkey IN (SELECT o_custkey FROM orders) "
    "AND c_custkey NOT IN "
    "(SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')"
)

WORKLOADS: dict[str, dict] = {
    "olap_warm": {
        "memoized": True,
        "action": "collect",
        "ops": [
            "agg_group_hash",
            "join_star_multiway",
            "win_row_number_topk",
            "stream_tumbling_1h",
            "semi_anti",
            "sim_topk_pairs",
        ],
    },
    "etl_fresh": {
        "memoized": False,
        "action": "count",
        "ops": [
            "etl_clean_coerce",
            "etl_validate_quarantine",
            "dedup_key_latest",
            "etl_merge_cdc",
            "etl_scd2_intervals",
            "etl_multi_sink_fanout",
            "sink_hive_partitioned",
            "etl_incremental_watermark",
            "stream_watermark_dedup",
        ],
    },
}


@dataclasses.dataclass
class Op:
    """One op kind: ``build`` returns the DataFrame, ``act`` runs the
    workload's action on it and returns the number of result rows."""

    name: str
    build: Callable
    act: Callable
    oracle: str


def _collect_rows(df) -> int:
    return len(df.collect())


def _count_rows(df) -> int:
    return df.count()


def make_ops(workload: str, spark, sf_dir: str, queries, oracles) -> list[Op]:
    """Bind every op of ``workload`` to ``spark`` and the corpus at
    ``sf_dir``. ``queries``/``oracles`` are ``engine.registry.collect()``."""
    import bench

    spec = WORKLOADS[workload]
    act = _collect_rows if spec["action"] == "collect" else _count_rows
    memo: dict[str, object] = {}

    def semi_anti():
        # bench._semi_anti builds a fresh plan per call; memoize it like the
        # registry wrappers so every olap_warm op reuses its plan
        if "semi_anti" not in memo:
            memo["semi_anti"] = bench._semi_anti(spark, sf_dir)
        return memo["semi_anti"]

    ops = []
    for name in spec["ops"]:
        if name == "semi_anti":
            ops.append(Op(name, semi_anti, act, SEMI_ANTI_ORACLE))
            continue
        fn = queries[name] if spec["memoized"] else queries[name].__wrapped__
        ops.append(Op(name, lambda fn=fn: fn(spark, sf_dir), act, oracles[name]))
    return ops


class OracleCheck:
    """Hash-match op results against their DuckDB oracle, with the same
    canonicalisation the driver simulator uses (scripts/driver_sim.py).

    The oracle's result depends only on the corpus and the SQL, so it is
    kept in ``cache_dir`` under a digest of both and of the DuckDB version;
    the Spark side is collected and compared on every run. (The
    sim_topk_pairs oracle alone takes ~12 s in DuckDB at sf0.1.)"""

    def __init__(self, root: str, sf_dir: str, cache_dir: str):
        import duckdb

        sys.path.insert(0, os.path.join(root, "scripts"))
        import driver_sim

        self._ds = driver_sim
        self._sf_dir = sf_dir
        self._cache_dir = cache_dir
        self._con = duckdb.connect()
        for t in driver_sim.TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    def _oracle(self, sql: str):
        import duckdb
        import pandas as pd

        ident = [os.path.basename(self._sf_dir), duckdb.__version__, sql]
        key = hashlib.sha256("\0".join(ident).encode()).hexdigest()[:24]
        path = os.path.join(self._cache_dir, f"{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)  # written by this class, below
        du = self._con.sql(sql).df()
        os.makedirs(self._cache_dir, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        du.to_pickle(tmp)
        os.replace(tmp, path)
        return du

    def collect(self, op: Op):
        """Run ``op`` once and return its result as a pandas DataFrame."""
        return self._ds.collect_pdf(op.build())

    def compare(self, op: Op, sp) -> int:
        """Compare ``op``'s result ``sp`` with its oracle and return its row
        count; raise AssertionError naming the first difference."""
        ds = self._ds
        du = self._oracle(op.oracle)
        if sorted(sp.columns) != sorted(du.columns):
            raise AssertionError(
                f"columns spark={sorted(sp.columns)} duckdb={sorted(du.columns)}"
            )
        if len(sp) != len(du):
            raise AssertionError(f"rows spark={len(sp)} duckdb={len(du)}")
        flags = ds.float_flags(sp, du)
        if ds.value_hash(sp, flags) != ds.value_hash(du, flags):
            a, b = ds.canon(sp, flags), ds.canon(du, flags)
            bad = [c for c in a.columns if sorted(a[c]) != sorted(b[c])]
            raise AssertionError(f"value hash differs in columns {bad}")
        return len(sp)

    def close(self) -> None:
        self._con.close()
