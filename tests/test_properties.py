"""Algebraic invariants (SURVEY §5.4): laws that need no oracle. Spark-side
laws use a few parametrized points (each example costs a Spark job); the
pure-Python kernels get full Hypothesis treatment."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.conftest import SF_DIR


@pytest.mark.parametrize("status", ["F", "O", "P"])
def test_semi_anti_partition_law(spark, status):
    """left_semi ∪ left_anti == left, disjointly, for any predicate side."""
    from engine.tables import load
    import pyspark.sql.functions as F

    cust = load(spark, SF_DIR, "customer")
    orders = load(spark, SF_DIR, "orders").filter(F.col("o_orderstatus") == status)
    cond = cust.c_custkey == orders.o_custkey
    n_semi = cust.join(orders, cond, "left_semi").count()
    n_anti = cust.join(orders, cond, "left_anti").count()
    assert n_semi + n_anti == cust.count()


def test_dedup_idempotent(spark):
    from engine.registry import collect

    queries, _ = collect()
    out = queries["dedup_key_latest"](spark, SF_DIR)
    once = out.count()
    # applying the same key-latest rule to its own output changes nothing
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    twice = (
        out.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).count()
    )
    assert once == twice


def test_union_except_counting_law(spark):
    """|A ∪all B| = |A| + |B| and |A \\all B| = |A| - |A ∩all B| on bags."""
    from engine.tables import load

    a = load(spark, SF_DIR, "orders").select("o_custkey").filter("o_custkey % 3 = 0")
    b = load(spark, SF_DIR, "orders").select("o_custkey").filter("o_custkey % 2 = 0")
    assert a.unionAll(b).count() == a.count() + b.count()
    assert a.exceptAll(b).count() == a.count() - a.intersectAll(b).count()


def test_window_sum_matches_group_sum(spark):
    """The last running-sum value per key == the group total."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window
    from engine.tables import load

    o = load(spark, SF_DIR, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = o.select(
        "o_custkey", F.round(F.sum("o_totalprice").over(w), 2).alias("r")
    ).groupBy("o_custkey").agg(F.max("r").alias("last_run"))
    grp = o.groupBy("o_custkey").agg(F.round(F.sum("o_totalprice"), 2).alias("tot"))
    bad = (
        run.join(grp, "o_custkey")
        .filter(F.abs(F.col("last_run") - F.col("tot")) > 0.011)
        .count()
    )
    assert bad == 0


def test_session_count_monotone_in_gap(spark):
    """Fewer (or equal) sessions as the inactivity gap grows."""
    import pyspark.sql.functions as F
    from engine.tables import load

    e = load(spark, SF_DIR, "events")
    counts = []
    for gap in ["5 minutes", "30 minutes", "3 hours"]:
        counts.append(
            e.groupBy(F.session_window("ts", gap), "user_id").count().count()
        )
    assert counts[0] >= counts[1] >= counts[2]


# --- pure-Python kernels: full Hypothesis ----------------------------------


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=512), st.integers(min_value=1, max_value=64))
def test_fake_decode_total(buf, n_cells):
    """_decode_fake is total: fixed length, finite floats, deterministic."""
    from engine.multimodal import _decode_fake

    out = _decode_fake(buf, n_cells)
    assert len(out) == n_cells
    assert all(0.0 <= v <= 255.0 for v in out)
    assert out == _decode_fake(buf, n_cells)


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40))
def test_poly_hash_range(s):
    """The cross-engine polynomial hash stays in [0, 2^31) for any ASCII
    token — the invariant that keeps (acc*131+c) overflow-free in int64."""
    h = 0
    for ch in s:
        h = (h * 131 + ord(ch)) % 2147483647
    assert 0 <= h < 2147483647


def test_approx_distinct_within_5pct_of_exact(spark):
    """The HLL++ estimate itself (not just the key's self-validation flag)
    stays within 5% of the exact distinct count per group — the bound the
    agg_approx_distinct docstring cites."""
    from pyspark.sql import functions as F

    from engine.tables import load
    from tests.conftest import SF_DIR

    li = load(spark, SF_DIR, "lineitem")
    rows = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
            F.count_distinct("l_partkey").alias("exact"),
        )
        .collect()
    )
    assert len(rows) > 0
    for r in rows:
        assert abs(r["approx"] - r["exact"]) <= 0.05 * r["exact"], r


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=7), min_size=1, max_size=6),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=300, deadline=None)
def test_dup_collapse_member_truncation_law(sizes, seed):
    """The r07 rp-lsh collapse claims: truncating each exact-dup group's
    member list to its k+1 smallest ids is decision-preserving for the
    global top-k under (sim desc, a_id, b_id) ordering — both for
    cross-group blocks (every member pair carries the block's sim) and
    intra-group blocks. Pure-python model of the expansion, sims drawn
    from a tiny value set so ties across blocks are the COMMON case, not
    the rare one."""
    import itertools
    import random

    rng = random.Random(seed)
    k = 3  # smaller k than production stresses the bound harder
    # disjoint sorted member lists with irregular gaps
    ids = iter(range(0, 10_000, rng.choice([1, 3, 7])))
    groups = [sorted(itertools.islice(ids, n)) for n in sizes]
    sim_values = [0.9, 0.5, 0.5, 0.1]  # duplicates force cross-block ties

    def pairs_from(gs):
        out = []
        for gi, gj in itertools.combinations(range(len(gs)), 2):
            s = rng.choice(sim_values)
            for a in gs[gi]:
                for b in gs[gj]:
                    out.append((-s, min(a, b), max(a, b)))
        for g in gs:
            if len(g) >= 2:
                s = rng.choice(sim_values)
                for a, b in itertools.combinations(g, 2):
                    out.append((-s, a, b))
        return out

    rng_state = rng.getstate()
    full = sorted(pairs_from(groups))[:k]
    rng.setstate(rng_state)  # identical block sims for the truncated run
    trunc = sorted(pairs_from([g[: k + 1] for g in groups]))[:k]
    assert full == trunc


@given(
    la=st.integers(min_value=0, max_value=10_000),
    delta=st.integers(min_value=-8, max_value=8),
    k=st.integers(min_value=1, max_value=8),
)
@settings(max_examples=500, deadline=None)
def test_length_band_cover_law(la, delta, k):
    """Losslessness of length_band_candidate_pairs' banding: whenever
    |len(a)-len(b)| <= k (NECESSARY for lev <= k), b's single home band
    trunc(len_b/(k+1)) must appear in a's 3-band explosion
    {trunc((len_a-k)/(k+1)), trunc(len_a/(k+1)), trunc((len_a+k)/(k+1))}
    — int() matches Spark's cast("int") truncation toward zero, covering
    the len_a < k negative-numerator corner. If this ever fails, the
    band equi-join silently drops a true levenshtein pair."""
    if abs(delta) > k:
        return  # pair not required to meet: length filter excludes it
    lb = la + delta
    if lb < 0:
        return
    explosion = {int((la - k) / (k + 1)), int(la / (k + 1)), int((la + k) / (k + 1))}
    assert int(lb / (k + 1)) in explosion


def test_length_band_pairs_match_brute_force(spark):
    """End-to-end exactness of the shared banded candidate join: the pair
    set over the sf0.01 part-name vocabulary equals the brute-force
    all-pairs levenshtein filter (one deliberate crossJoin at test
    scale)."""
    import pyspark.sql.functions as F

    from engine.tables import load
    from engine.dedup import length_band_candidate_pairs

    vocab = (
        load(spark, SF_DIR, "part")
        .groupBy("p_name")
        .agg(F.min("p_partkey").alias("rep_key"))
    )
    banded = {
        (r["a_rep_key"], r["b_rep_key"])
        for r in length_band_candidate_pairs(vocab, "p_name", "rep_key", k=2)
        .select("a_rep_key", "b_rep_key")
        .collect()
    }
    a = vocab.select(F.col("p_name").alias("na"), F.col("rep_key").alias("ka"))
    b = vocab.select(F.col("p_name").alias("nb"), F.col("rep_key").alias("kb"))
    brute = {
        (r["ka"], r["kb"])
        for r in a.crossJoin(b)
        .filter((F.col("ka") < F.col("kb")) & (F.levenshtein("na", "nb") <= 2))
        .select("ka", "kb")
        .collect()
    }
    assert banded == brute and brute  # equal and non-trivial


@given(
    k=st.integers(min_value=0, max_value=200),
    offsets=st.lists(
        st.integers(min_value=-40, max_value=40), min_size=2, max_size=6
    ),
    weights=st.lists(st.integers(min_value=1, max_value=10), min_size=2, max_size=6),
    perm_seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=2000, deadline=None)
def test_weighted_centroid_round8_boundary_law(k, offsets, weights, perm_seed):
    """ADVICE r11 escalation hunt (closed r13): the semdedup/kmeans
    collapse path computes per-(cid, pos) centroid means at REP level as
    sum(v*w)/sum(w) and claims round(.., 8) resynchronizes it with the
    member-wise sum(v)/n the oracle computes. The documented residual
    risk: a mean within ~5e-9 of an x.xxxxxxx5 HALF_UP boundary could
    round differently under the two summation orders. This test hunts
    that regime directly: float32-quantized components placed AT 8-dp
    boundaries (k*1e-8 + 5e-9 + tiny offsets, the densest float32
    lattice around a boundary), adversarial integer multiplicities, and
    randomized member orders (Spark's partial-agg order is
    nondeterministic). Both engines round DOUBLEs via exact-binary-value
    HALF_UP (Spark BigDecimal, DuckDB), emulated here with Decimal.

    Directed numpy searches (400k boundary-jittered trials + 40k
    realistic-regime rows) found zero divergences before this was
    committed; if Hypothesis ever shrinks one out, the pinned escalation
    in engine/graphops.py applies: switch the update to integer-scaled
    exact accumulation (round(v*1e8) AS BIGINT sums) on both engines."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    def round8(x: float) -> Decimal:
        return (Decimal(x) / Decimal("1e-8")).to_integral_value(
            rounding=ROUND_HALF_UP
        )

    n = min(len(offsets), len(weights))
    base = k * 1e-8 + 5e-9
    v = np.array(
        [np.float32(base + o * 1e-15) for o in offsets[:n]], dtype=np.float64
    )
    w = np.array(weights[:n], dtype=np.float64)
    weighted = float((v * w).sum() / w.sum())
    members = np.repeat(v, weights[:n]).tolist()
    random.Random(perm_seed).shuffle(members)
    acc = 0.0
    for m in members:
        acc += m
    member_wise = acc / len(members)
    assert round8(weighted) == round8(member_wise), (
        f"8dp divergence: weighted={weighted!r} member={member_wise!r}"
    )
