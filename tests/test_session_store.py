"""The session store (engine.session.session_memo): objects bound to a
SparkContext (built plans, table loads, persisted relations, broadcasts,
tune state) live in one store that a new context drops, and tune() says
which conf it could not set."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import warnings

from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a child interpreter: the suite's shared session cannot be stopped.
_CYCLE = textwrap.dedent(
    """
    import gc, json, sys, types
    sys.path.insert(0, sys.argv[1])
    from pyspark.core.broadcast import Broadcast
    from pyspark.sql import DataFrame, SparkSession
    from engine.registry import collect
    from engine.session import get_spark

    KEYS = ["sim_topk_pairs", "emb_kmeans_lloyd", "text_perplexity_ngram"]
    queries, _ = collect()

    def contexts(obj, depth=0):
        # SparkContexts reachable from obj through containers and closures
        if isinstance(obj, SparkSession):
            return [obj.sparkContext]
        if isinstance(obj, DataFrame):
            return [obj.sparkSession.sparkContext]
        if isinstance(obj, Broadcast):
            return [obj._sc]
        if depth > 5:
            return []
        if isinstance(obj, dict):
            obj = [*obj.keys(), *obj.values()]
        elif isinstance(obj, types.FunctionType):
            obj = [c.cell_contents for c in obj.__closure__ or ()]
        elif not isinstance(obj, (tuple, list, set, frozenset)):
            return []
        return [c for o in obj for c in contexts(o, depth + 1)]

    answers = []
    for _ in range(2):
        spark = get_spark("session-cycle", cpus="1")
        answers.append({
            k: sorted(str(tuple(r)) for r in queries[k](spark, sys.argv[2]).collect())
            for k in KEYS
        })
        if len(answers) == 1:
            spark.stop()
            del spark

    live = spark.sparkContext
    holders = {"live": set(), "stopped": set()}
    for mod in [m for n, m in sys.modules.items() if n.startswith("engine.")]:
        for name, val in vars(mod).items():
            for c in contexts(val):
                state = "live" if c is live else "stopped"
                holders[state].add(f"{mod.__name__}.{name}")
    gc.collect()
    store = getattr(sys.modules["engine.session"], "_STORE", {})
    print(json.dumps({
        "same": answers[0] == answers[1],
        "rows": {k: len(v) for k, v in answers[1].items()},
        "holders": {k: sorted(v) for k, v in holders.items()},
        "stopped_sessions": sum(
            1 for o in gc.get_objects()
            if isinstance(o, SparkSession) and o.sparkContext._jsc is None
        ),
        "tags": sorted({k[1] for k in store}),
    }))
    spark.stop()
    """
)


def test_session_cycle_leaves_no_stopped_objects(tmp_path):
    """get_spark → keys → stop() → get_spark → keys in one process: the
    answers match, and no engine module still holds a session, plan,
    persisted relation or broadcast of the stopped context."""
    script = tmp_path / "cycle.py"
    script.write_text(_CYCLE)
    out = subprocess.run(
        [sys.executable, str(script), REPO, SF_DIR],
        capture_output=True,
        text=True,
        timeout=600,
        env=dict(os.environ, SPARK_GRAFT_CPUS="1"),
        cwd=str(tmp_path),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["same"], res
    assert all(n > 0 for n in res["rows"].values()), res
    assert res["holders"]["stopped"] == [], res
    assert res["stopped_sessions"] == 0, res
    # the walk sees the store, and every kind of entry went through it
    assert res["holders"]["live"] == ["engine.session._STORE"], res
    assert {"plan", "table", "tuned", "persist", "kmeans", "side_bc"} <= set(
        res["tags"]
    ), res


class _RejectingConf:
    def __init__(self):
        self.sets = 0

    def get(self, key, default=None):
        return None

    def set(self, key, value):
        self.sets += 1
        raise RuntimeError(f"cannot modify {key}")


class _FakeSession:
    """A session whose conf rejects every set. It shares the suite's
    context, so the store is not dropped."""

    def __init__(self, spark):
        self.sparkContext = spark.sparkContext
        self.conf = _RejectingConf()


def test_tune_warns_once_per_session_on_unsettable_conf(spark):
    from engine.session import _STORE, tune

    fake = _FakeSession(spark)
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            tune(fake)
            msgs = [str(w.message) for w in caught]
            assert fake.conf.sets > 0 and len(msgs) == fake.conf.sets
            assert any(
                "spark.sql.session.timeZone='UTC'" in m
                and "RuntimeError" in m
                and "cannot modify spark.sql.session.timeZone" in m
                for m in msgs
            ), msgs
            sets = fake.conf.sets
            tune(fake)  # memoized: no conf call, no second warning
            assert fake.conf.sets == sets and len(caught) == len(msgs)
    finally:
        _STORE.pop((fake, "tuned"), None)


def test_swap_persist_unpersists_the_replaced_relation(spark):
    from engine.session import _STORE
    from engine.tables import swap_persist

    a = spark.range(10)
    b = spark.range(20)
    assert swap_persist(spark, a, "store_test") is a
    assert a.storageLevel.useMemory
    assert swap_persist(spark, a, "store_test") is a  # same relation: kept
    assert a.storageLevel.useMemory
    assert swap_persist(spark, b, "store_test") is b
    assert not a.storageLevel.useMemory and b.storageLevel.useMemory
    b.unpersist()
    _STORE.pop((spark, "persist", "store_test"))
