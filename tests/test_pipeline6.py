"""Named tests for engine/pipeline6.py (capstone #7, incremental
refresh): conservation, old-side immunity, and gate precedence."""

from __future__ import annotations

import os

from tests.conftest import SF_DIR


def _q(name):
    from engine.registry import collect

    queries, _ = collect()
    return queries[name]


def test_incremental_refresh_accounting(spark):
    from engine.tables import load
    from pyspark.sql import functions as F

    rows = _q("pipeline_incremental_refresh")(spark, SF_DIR).collect()
    assert rows
    d = load(spark, SF_DIR, "documents")
    new = d.filter(F.col("doc_id") % 5 == 0)
    per_source = {
        r["source"]: r["n"]
        for r in new.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total_dropped = 0
    for r in rows:
        # every arrival classified exactly once
        assert (
            r["drop_exact_vs_old"]
            + r["drop_near_vs_old"]
            + r["drop_within_new"]
            + r["n_accepted"]
            == r["n_arrived"]
        )
        assert r["n_arrived"] == per_source[r["source"]]
        assert r["n_accepted"] >= 0
        total_dropped += (
            r["drop_exact_vs_old"] + r["drop_near_vs_old"] + r["drop_within_new"]
        )
    # the corpus has planted near-dups spanning the old/new split, so the
    # near-vs-old gate must actually fire somewhere
    assert sum(r["drop_near_vs_old"] for r in rows) > 0
    # no exact dups exist in this corpus (500 distinct texts), so the
    # exact gate correctly drops nothing
    assert sum(r["drop_exact_vs_old"] for r in rows) == 0
    # and most arrivals are accepted
    assert sum(r["n_accepted"] for r in rows) > total_dropped


def test_within_new_losers_distributed_matches_union_find(spark):
    """r06 hardening: a pathological 10k-pair batch must route through the
    distributed Pregel path with keepers identical to the union-find path.
    Graph: 1000 chains of 10 nodes (9 edges each) + 1000 extra random
    intra-chain edges + a 100-node clique (4950 pairs) — 14,950 pairs,
    components with nontrivial diameter, min-id keeper per component."""
    from pyspark.sql import functions as F

    from engine.pipeline6 import _UNION_FIND_MAX_PAIRS, _within_new_losers

    chain = spark.range(1000 * 9).select(
        (F.col("id") % F.lit(9) + (F.col("id") / 9).cast("long") * 10).alias("a_id"),
        (F.col("id") % F.lit(9) + (F.col("id") / 9).cast("long") * 10 + 1).alias(
            "b_id"
        ),
    )
    extra = spark.range(1000).select(
        (F.col("id") * 10).alias("a_id"),
        (F.col("id") * 10 + 1 + F.pmod(F.xxhash64("id"), F.lit(9))).alias("b_id"),
    )
    base = 100_000
    clique = (
        spark.range(100)
        .select((F.col("id") + base).alias("a_id"))
        .join(spark.range(100).select((F.col("id") + base).alias("b_id")))
        .filter(F.col("a_id") < F.col("b_id"))
    )
    nn = chain.union(extra).union(clique).localCheckpoint()
    n_pairs = nn.count()
    assert n_pairs > 10_000  # genuinely a large batch
    got_uf = sorted(
        r["doc_id"] for r in _within_new_losers(spark, nn).collect()
    )
    got_dist = sorted(
        r["doc_id"]
        for r in _within_new_losers(spark, nn, force_distributed=True).collect()
    )
    assert got_uf == got_dist
    # ground truth: chains of 10 lose 9 of 10 per chain; clique loses 99
    assert len(got_dist) == 1000 * 9 + 99
    # with the guard lowered the SAME call takes the distributed path —
    # prove the threshold actually gates (monkeypatch-free: count check)
    assert n_pairs < _UNION_FIND_MAX_PAIRS  # default path was union-find


def test_refresh_reads_only_index_and_new_batch(spark, tmp_path):
    """The r07 incremental contract: refresh_against_index is closed over
    (new batch, stored artifacts) — the accepted corpus's parquet (and so
    its text) is NEVER an input of the refresh plan. The new batch is
    written to its own parquet so the assert is airtight at the file
    level: every file the refresh result reads must live under either
    the index base or the new-batch directory."""
    from pyspark.sql import functions as F

    from engine.pipeline6 import build_refresh_index, refresh_against_index
    from engine.tables import load

    d = load(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    is_new = F.col("doc_id") % 5 == 0
    base = str(tmp_path / "idx")
    new_path = str(tmp_path / "new_batch")
    build_refresh_index(spark, d.filter(~is_new), base)
    d.filter(is_new).write.parquet(new_path)

    new = spark.read.parquet(new_path)
    manifest = refresh_against_index(spark, new, base)
    allowed = (os.path.realpath(base), os.path.realpath(new_path))
    offending = [
        f
        for f in manifest.inputFiles()
        if not os.path.realpath(f.removeprefix("file:")).startswith(allowed)
    ]
    assert not offending, f"refresh scans non-index inputs: {offending}"
    # and the manifest itself is still the full decision algebra
    rows = manifest.collect()
    assert rows
    for r in rows:
        assert (
            r["drop_exact_vs_old"]
            + r["drop_near_vs_old"]
            + r["drop_within_new"]
            + r["n_accepted"]
            == r["n_arrived"]
        )
    assert sum(r["drop_near_vs_old"] for r in rows) > 0


def test_refresh_against_index_matches_monolithic_oracle(spark, duck):
    """The stored-index refresh must produce the identical manifest the
    monolithic old∪new kernel produced (the pre-r07 shape, still the
    registered oracle): same gates, same counts, per source."""
    from tests.conftest import run_compare

    run_compare(spark, duck, "pipeline_incremental_refresh")


def test_decisions_partition_batch_and_roll_up_to_manifest(spark, tmp_path):
    """The doc-level/manifest contract: refresh_decisions assigns every
    arrival EXACTLY one decision from the four labels, and
    refresh_against_index is exactly its per-source rollup — if a future
    edit lets the two surfaces drift (a gate added to one but not the
    other), the production loop would append rows the manifest never
    accounted for."""
    from collections import Counter

    from pyspark.sql import functions as F

    from engine.pipeline6 import (
        build_refresh_index,
        refresh_against_index,
        refresh_decisions,
    )
    from engine.tables import load

    d = load(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    is_new = F.col("doc_id") % 5 == 0
    base = str(tmp_path / "idx")
    build_refresh_index(spark, d.filter(~is_new), base)
    new = d.filter(is_new)

    dec = refresh_decisions(spark, new, base).collect()
    batch_ids = sorted(r["doc_id"] for r in new.select("doc_id").collect())
    assert sorted(r["doc_id"] for r in dec) == batch_ids  # one row each
    labels = {
        "accepted",
        "drop_exact_vs_old",
        "drop_near_vs_old",
        "drop_within_new",
    }
    assert {r["decision"] for r in dec} <= labels
    assert len({r["decision"] for r in dec}) > 1  # fixture exercises gates

    rollup = Counter((r["source"], r["decision"]) for r in dec)
    for m in refresh_against_index(spark, new, base).collect():
        s = m["source"]
        assert m["n_accepted"] == rollup[(s, "accepted")]
        assert m["drop_exact_vs_old"] == rollup[(s, "drop_exact_vs_old")]
        assert m["drop_near_vs_old"] == rollup[(s, "drop_near_vs_old")]
        assert m["drop_within_new"] == rollup[(s, "drop_within_new")]
        assert m["n_arrived"] == sum(
            v for (src, _), v in rollup.items() if src == s
        )


def test_refresh_matches_reference_algebra_across_splits(spark, tmp_path):
    """Beyond the registered %5 oracle: for several split moduli, the
    stored-index refresh manifest must equal a reference computed
    independently in Python from the monolithic pair kernel + plain set
    algebra (exact gate, any-old-partner gate, min-id-keeper components).
    Catches any asymmetry the index path could introduce for batch
    shapes the driver never exercises."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from engine.dedup import minhash_near_pairs
    from engine.pipeline6 import build_refresh_index, refresh_against_index
    from engine.tables import load

    d = load(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    meta = {
        r["doc_id"]: (r["source"], r["h"])
        for r in d.withColumn("h", F.md5("text")).drop("text").collect()
    }
    pairs = [
        (r["a_id"], r["b_id"])
        for r in minhash_near_pairs(d).select("a_id", "b_id").collect()
    ]

    for m in (2, 3, 7):
        new_ids = {i for i in meta if i % m == 0}
        old_ids = set(meta) - new_ids
        old_hashes = {meta[i][1] for i in old_ids}

        ex_drop = {i for i in new_ids if meta[i][1] in old_hashes}
        new1 = new_ids - ex_drop
        near = defaultdict(set)
        for a, b in pairs:
            near[a].add(b)
            near[b].add(a)
        near_old = {i for i in new1 if near[i] & old_ids}
        new2 = new1 - near_old
        parent = {i: i for i in new2}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            if a in new2 and b in new2:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        within = {i for i in new2 if find(i) != i}

        want = defaultdict(lambda: [0, 0, 0, 0, 0])
        for i in new_ids:
            row = want[meta[i][0]]
            row[0] += 1
            if i in ex_drop:
                row[1] += 1
            elif i in near_old:
                row[2] += 1
            elif i in within:
                row[3] += 1
            else:
                row[4] += 1

        base = str(tmp_path / f"idx{m}")
        build_refresh_index(spark, d.filter(F.col("doc_id") % m != 0), base)
        got = {
            r["source"]: [
                r["n_arrived"],
                r["drop_exact_vs_old"],
                r["drop_near_vs_old"],
                r["drop_within_new"],
                r["n_accepted"],
            ]
            for r in refresh_against_index(
                spark, d.filter(F.col("doc_id") % m == 0), base
            ).collect()
        }
        assert got == dict(want), f"modulus {m}: {got} != {dict(want)}"


def test_refresh_shuffle_path_matches_broadcast_path(spark, tmp_path, monkeypatch):
    """Large batches take the shuffle join instead of broadcasting the
    new-side band rows (the unconditional broadcast OOMed at the
    100k-doc rehearsal). Force the threshold to 0 and require the
    manifest to be identical to the broadcast path's."""
    from pyspark.sql import functions as F

    import engine.pipeline6 as p6
    from engine.tables import load

    d = load(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    is_new = F.col("doc_id") % 5 == 0
    base = str(tmp_path / "idx")
    p6.build_refresh_index(spark, d.filter(~is_new), base)

    def manifest():
        return sorted(
            tuple(r) for r in p6.refresh_against_index(
                spark, d.filter(is_new), base
            ).collect()
        )

    via_broadcast = manifest()
    monkeypatch.setattr(p6, "_BROADCAST_BATCH_MAX_DOCS", 0)
    via_shuffle = manifest()
    assert via_broadcast == via_shuffle
    # row = (source, n_arrived, drop_exact, drop_near_vs_old, ...)
    assert sum(r[3] for r in via_broadcast) > 0  # near-vs-old gate fired


def test_refresh_index_append_loop(spark, tmp_path):
    """The full production loop across two generations: refresh batch A
    against the base index, APPEND A's accepted docs to the index, then
    refresh batch B — B's docs that near-duplicate A-accepted docs must
    now drop at the near-vs-old gate, and B's manifest must equal the
    one a from-scratch rebuild over (old ∪ accepted-A) produces."""
    from pyspark.sql import functions as F

    import engine.pipeline6 as p6
    from engine.tables import load

    d = load(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    m5 = F.col("doc_id") % 5
    old, batch_a, batch_b = d.filter(m5 > 1), d.filter(m5 == 0), d.filter(m5 == 1)

    base = str(tmp_path / "idx")
    p6.build_refresh_index(spark, old, base)
    # materialize A's manifest before the index it reads is mutated
    man_a = p6.refresh_against_index(spark, batch_a, base).collect()
    assert man_a
    # The manifest aggregates per source; reconstruct A's doc-level
    # accepted set independently (same set algebra as the cross-split
    # reference test) to know exactly which docs to append.
    from engine.dedup import minhash_near_pairs

    pairs = [
        (r["a_id"], r["b_id"])
        for r in minhash_near_pairs(d).select("a_id", "b_id").collect()
    ]
    ids = lambda df: {r["doc_id"] for r in df.select("doc_id").collect()}
    old_ids, a_ids = ids(old), ids(batch_a)
    import collections

    near = collections.defaultdict(set)
    for a, b in pairs:
        near[a].add(b)
        near[b].add(a)
    # no exact dups in this corpus, so gate 1 drops nothing
    near_old_a = {i for i in a_ids if near[i] & old_ids}
    rest = sorted(a_ids - near_old_a)
    parent = {i: i for i in rest}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    accepted_ids = sorted((a_ids - near_old_a) - {i for i in rest if find(i) != i})

    # the doc-level API must agree with the independent reconstruction,
    # and the production loop appends ITS accepted rows (not a test-side
    # re-derivation)
    dec = p6.refresh_decisions(spark, batch_a, base)
    api_accepted = sorted(
        r["doc_id"]
        for r in dec.filter(F.col("decision") == "accepted")
        .select("doc_id")
        .collect()
    )
    assert api_accepted == accepted_ids
    accepted_a = batch_a.join(
        dec.filter(F.col("decision") == "accepted").select("doc_id"),
        "doc_id",
        "left_semi",
    )

    # generation 2: append accepted-A, refresh B against the grown index
    p6.append_to_refresh_index(spark, accepted_a, base)
    got = sorted(
        tuple(r) for r in p6.refresh_against_index(spark, batch_b, base).collect()
    )

    # reference: a from-scratch index over old ∪ accepted-A
    base2 = str(tmp_path / "idx2")
    p6.build_refresh_index(spark, old.unionByName(accepted_a), base2)
    want = sorted(
        tuple(r) for r in p6.refresh_against_index(spark, batch_b, base2).collect()
    )
    assert got == want
    # and the appended generation actually changes B's outcome: some B doc
    # must near-dup an A-accepted doc (the corpus plants near-dup chains)
    b_ids = ids(batch_b)
    assert any(near[i] & set(accepted_ids) for i in b_ids)


def test_increment_artifacts_are_file_bounded(spark, tmp_path):
    """Appended increments must write at most _INCREMENT_MAX_FILES part
    files per artifact: without the bound each O(batch) increment
    inherits the input-split parallelism (~32 files per artifact, ~100
    tiny files per append) — the LSM small-file problem that dominates
    on object stores. Generation builds are corpus-sized and keep full
    parallelism, so only increments are bounded (rationale at the
    constant, engine/pipeline6.py)."""
    import glob
    import os

    from pyspark.sql import functions as F

    import engine.pipeline6 as p6
    from engine.tables import load

    d = load(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    m5 = F.col("doc_id") % 5
    base = str(tmp_path / "idx")
    p6.build_refresh_index(spark, d.filter(m5 > 1), base)
    p6.append_to_refresh_index(spark, d.filter(m5 == 0), base)
    gen = p6._current_gen(base)
    (inc,) = p6._increments(gen)
    for artifact in ("exact", "sigs", "bands"):
        parts = glob.glob(os.path.join(inc, artifact, "part-*"))
        assert parts, f"{artifact}: increment artifact missing"
        assert len(parts) <= p6._INCREMENT_MAX_FILES, (
            f"{artifact}: {len(parts)} part files in increment "
            f"(bound {p6._INCREMENT_MAX_FILES})"
        )


def test_torn_append_is_invisible_to_readers(spark, tmp_path):
    """A crash mid-append leaves only an unpublished .inc-tmp-* staging
    dir (the atomic-rename contract): readers must produce the identical
    manifest with the wreckage present, and never list its files."""
    import os

    from pyspark.sql import functions as F

    import engine.pipeline6 as p6
    from engine.tables import load

    d = load(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    m5 = F.col("doc_id") % 5
    base = str(tmp_path / "idx")
    p6.build_refresh_index(spark, d.filter(m5 > 1), base)
    batch = d.filter(m5 == 0)
    before = sorted(
        tuple(r) for r in p6.refresh_against_index(spark, batch, base).collect()
    )

    # simulate the crash: full artifact set written, rename never ran
    gen = p6._current_gen(base)
    torn = os.path.join(gen, ".inc-tmp-crashed")
    p6._write_index_artifacts(spark, d.filter(m5 == 1), torn)
    assert p6._increments(gen) == []  # unpublished ⇒ not an increment

    after_df = p6.refresh_against_index(spark, batch, base)
    assert sorted(tuple(r) for r in after_df.collect()) == before
    assert not any(".inc-tmp-" in f for f in after_df.inputFiles())


def test_compaction_restores_fresh_build_exactly(spark, tmp_path):
    """After N appends, compact_refresh_index must leave the index
    row-equivalent to a from-scratch build over the union — identical
    band rows (the global bucket cap is restored, not just approximated),
    identical exact-hash set, and the refresh manifest unchanged — with
    all increments folded away and the superseded generation RETAINED
    for one swap (vacuum grace for in-flight lazy plans) then pruned."""
    import glob as g
    import os

    from pyspark.sql import functions as F

    import engine.pipeline6 as p6
    from engine.tables import load

    d = load(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    m5 = F.col("doc_id") % 5
    base = str(tmp_path / "idx")
    p6.build_refresh_index(spark, d.filter(m5 > 2), base)
    p6.append_to_refresh_index(spark, d.filter(m5 == 2), base)
    p6.append_to_refresh_index(spark, d.filter(m5 == 1), base)
    batch = d.filter(m5 == 0)
    before = sorted(
        tuple(r) for r in p6.refresh_against_index(spark, batch, base).collect()
    )
    old_gen = p6._current_gen(base)
    assert len(p6._increments(old_gen)) == 2

    p6.compact_refresh_index(spark, base)
    gen = p6._current_gen(base)
    assert gen != old_gen and os.path.isdir(old_gen)  # retained one swap
    assert p6._increments(gen) == []
    assert sorted(g.glob(os.path.join(base, "gen-*"))) == sorted([old_gen, gen])

    # a second compaction prunes the generation superseded two swaps ago
    p6.compact_refresh_index(spark, base)
    assert not os.path.isdir(old_gen)
    assert len(g.glob(os.path.join(base, "gen-*"))) == 2

    after = sorted(
        tuple(r) for r in p6.refresh_against_index(spark, batch, base).collect()
    )
    assert after == before

    # row-level equivalence vs a from-scratch build over the same corpus
    fresh = str(tmp_path / "fresh")
    p6.build_refresh_index(spark, d.filter(m5 > 0), fresh)
    fgen = p6._current_gen(fresh)

    def rows(b, name):
        return sorted(
            tuple(r) for r in spark.read.parquet(f"{b}/{name}").collect()
        )

    assert rows(gen, "exact") == rows(fgen, "exact")
    assert rows(gen, "bands") == rows(fgen, "bands")


def test_manifest_survives_one_compaction(spark, tmp_path):
    """Spark plans are lazy: a refresh manifest held un-collected across
    an auto-compacting append still references the superseded
    generation's files at execution time. Generation retention (one
    superseded generation survives each swap) must keep that collect
    working — immediate deletion made exactly this sequence throw
    FileNotFoundException."""
    from pyspark.sql import functions as F

    import engine.pipeline6 as p6
    from engine.tables import load

    d = load(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    m5 = F.col("doc_id") % 5
    base = str(tmp_path / "idx")
    p6.build_refresh_index(spark, d.filter(m5 > 1), base)
    bound_gen = p6._current_gen(base)
    held = p6.refresh_against_index(spark, d.filter(m5 == 0), base)
    # auto_compact_after=1: this append compacts immediately, swapping
    # the generation the held plan was bound to
    p6.append_to_refresh_index(
        spark, d.filter(m5 == 1), base, auto_compact_after=1
    )
    assert p6._current_gen(base) != bound_gen  # the swap really happened
    assert held.collect()  # reads the retained superseded generation


def test_append_warns_past_compaction_bound(spark, tmp_path, monkeypatch):
    """Increment aging must not degrade silently: past the warn bound the
    append emits a RuntimeWarning naming compact_refresh_index."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    import engine.pipeline6 as p6
    from engine.tables import load

    d = load(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    base = str(tmp_path / "idx")
    p6.build_refresh_index(spark, d.filter(F.col("doc_id") % 5 > 2), base)
    monkeypatch.setattr(p6, "_COMPACT_WARN_INCREMENTS", 1)
    p6.append_to_refresh_index(spark, d.filter(F.col("doc_id") % 5 == 2), base)
    with _pytest.warns(RuntimeWarning, match="compact_refresh_index"):
        p6.append_to_refresh_index(spark, d.filter(F.col("doc_id") % 5 == 1), base)


def test_auto_compaction_bounds_increment_count(spark, tmp_path):
    """The LSM policy: with auto_compact_after=2, sequential appends keep
    the published increment count under the bound (folding into a new
    generation automatically), and the refresh manifest stays identical
    to a never-compacted index over the same appends."""
    import glob as g
    import os

    from pyspark.sql import functions as F

    import engine.pipeline6 as p6
    from engine.tables import load

    d = load(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    m5 = F.col("doc_id") % 5
    auto_base = str(tmp_path / "auto")
    raw_base = str(tmp_path / "raw")
    for b in (auto_base, raw_base):
        p6.build_refresh_index(spark, d.filter(m5 == 4), b)
    for mod in (3, 2, 1):
        batch = d.filter(m5 == mod)
        p6.append_to_refresh_index(spark, batch, auto_base, auto_compact_after=2)
        p6.append_to_refresh_index(spark, batch, raw_base, auto_compact_after=None)

    # appends 1,2 fold at the bound (2 -> compact -> 0), append 3 leaves 1
    gen = p6._current_gen(auto_base)
    assert len(p6._increments(gen)) == 1
    # one compaction happened: live + one retained superseded generation
    assert len(g.glob(os.path.join(auto_base, "gen-*"))) == 2
    assert len(p6._increments(p6._current_gen(raw_base))) == 3

    batch0 = d.filter(m5 == 0)
    man = lambda b: sorted(
        tuple(r) for r in p6.refresh_against_index(spark, batch0, b).collect()
    )
    assert man(auto_base) == man(raw_base)


def test_failed_index_build_leaves_no_tmp_dir(spark, monkeypatch):
    """A build_refresh_index failure (disk full, killed job) must not
    leak the freshly-created index dir: it never reaches the corpus memo,
    so neither superseded-eviction nor a later rebuild would ever see it
    — the cleanup has to happen on the failure path itself
    (engine.tables.fixture_dir). The check records the dirs THIS call
    creates (wrapping scratch_dir) rather than globbing /tmp, which raced
    concurrent test/bench processes creating their own index dirs."""
    import pytest as _pytest

    import engine.pipeline6 as p6
    import engine.tables as tables
    from engine.tmpdirs import scratch_dir as real_scratch

    monkeypatch.setattr(tables, "_MEMO", {})
    created: list[str] = []

    def recording_scratch(prefix):
        d = real_scratch(prefix)
        created.append(d)
        return d

    monkeypatch.setattr(tables, "scratch_dir", recording_scratch)

    def boom(*a, **k):
        raise RuntimeError("simulated build failure")

    monkeypatch.setattr(p6, "build_refresh_index", boom)
    # __wrapped__: the @query wrapper memoizes the plan per (session,
    # sf_dir), so after any earlier test ran the capstone the wrapped
    # call would return the cached plan without executing the body
    with _pytest.raises(RuntimeError, match="simulated build failure"):
        p6.pipeline_incremental_refresh.__wrapped__(spark, SF_DIR)
    assert created, "pipeline never allocated an index dir?"
    assert not any(os.path.exists(d) for d in created)
    assert tables._MEMO == {}


def test_torn_cache_entry_is_evicted_but_kept_on_disk(spark, monkeypatch, tmp_path):
    """A memoized index dir whose CURRENT pointer vanished (e.g. a /tmp
    cleaner) must be EVICTED from the memo (or the rebuild overwrites
    the only reference) but NOT rmtree'd: a manifest returned before the
    tear may still lazily read the surviving parquet — the same grace the
    superseded-retention gives. No leak results: memoized dirs are always
    scratch_dir allocations, removed by the exit sweep."""
    import shutil as _shutil

    import engine.pipeline6 as p6
    import engine.tables as tables
    from engine import tmpdirs

    torn = tmp_path / "torn-idx"
    (torn / "gen-000001").mkdir(parents=True)  # subdir survives, CURRENT gone
    src = os.path.join(SF_DIR, "documents.parquet")
    key = ("refreshidx", os.path.realpath(src))
    monkeypatch.setattr(
        tables, "_MEMO", {key: (tables.file_identity(src), (str(torn), None))}
    )
    try:
        # __wrapped__ bypasses the @query plan memo (see previous test)
        assert p6.pipeline_incremental_refresh.__wrapped__(spark, SF_DIR).count() > 0
        assert torn.exists()  # lazy-plan grace: surviving files untouched
        new_base = tables._MEMO[key][1][0]
        assert new_base is not None and new_base != str(torn)
        # the rebuilt dir is exit-sweep managed, so nothing leaks past exit
        assert new_base in tmpdirs._SCRATCH
    finally:
        # monkeypatch restores the original memo on exit, so the rebuilt
        # dir would linger until process exit without removal here
        if key in tables._MEMO:
            _shutil.rmtree(tables._MEMO[key][1][0], ignore_errors=True)


_LOCK_HOLDER = """
import fcntl, os, shutil, sys, time
base, newgen, marker, hold = sys.argv[1], sys.argv[2], sys.argv[3], float(sys.argv[4])
fd = os.open(os.path.join(base, ".write.lock"), os.O_CREAT | os.O_RDWR)
fcntl.flock(fd, fcntl.LOCK_EX)
open(marker, "w").write("locked")
time.sleep(hold)
if newgen != "-":
    # simulate a racing compaction's pointer swap while the lock is held
    cur = open(os.path.join(base, "CURRENT")).read().strip()
    shutil.copytree(os.path.join(base, cur), os.path.join(base, newgen))
    tmp = os.path.join(base, ".CURRENT.tmp")
    open(tmp, "w").write(newgen)
    os.replace(tmp, os.path.join(base, "CURRENT"))
os.close(fd)
"""


def _hold_lock_in_subprocess(base, newgen, marker, hold):
    import subprocess
    import sys
    import time

    proc = subprocess.Popen(
        [sys.executable, "-c", _LOCK_HOLDER, base, newgen, marker, str(hold)]
    )
    deadline = time.monotonic() + 15
    while not os.path.exists(marker):
        assert proc.poll() is None, "lock-holder subprocess died early"
        assert time.monotonic() < deadline, "lock-holder never acquired"
        time.sleep(0.02)
    return proc


def test_append_waits_for_writer_lock(spark, tmp_path):
    """Two-PROCESS rehearsal of the writer-lock contract (VERDICT r08
    item 5). A peer process holds the writer flock and — while holding
    it — swaps the CURRENT pointer to a new generation, exactly what a
    racing compaction does. An append invoked while the OLD generation
    is still live must (a) block until the lock is released and (b)
    publish its increment into the NEW generation: before the lock, the
    unserialized interleaving landed the increment in the superseded
    generation, where the next swap's vacuum silently deleted it."""
    import time

    from pyspark.sql import functions as F

    import engine.pipeline6 as p6
    from engine.tables import load

    d = load(spark, SF_DIR, "documents").select("doc_id", "source", "text")
    m5 = F.col("doc_id") % 5
    base = str(tmp_path / "idx")
    p6.build_refresh_index(spark, d.filter(m5 > 2), base)
    old_gen = p6._current_gen(base)

    marker = str(tmp_path / "holder.locked")
    proc = _hold_lock_in_subprocess(base, "gen-000099", marker, hold=2.0)
    try:
        # invoked NOW, while CURRENT still names old_gen
        assert p6._current_gen(base) == old_gen
        t0 = time.monotonic()
        p6.append_to_refresh_index(spark, d.filter(m5 == 2), base)
        elapsed = time.monotonic() - t0
    finally:
        proc.wait(timeout=15)
    assert proc.returncode == 0
    # (a) the append waited out the holder instead of racing it
    assert elapsed >= 1.5, f"append did not block on the writer lock ({elapsed:.2f}s)"
    # (b) the increment landed in the post-swap generation, not the
    # superseded one the next vacuum would delete
    new_gen = os.path.join(base, "gen-000099")
    assert p6._current_gen(base) == new_gen
    assert len(p6._increments(new_gen)) == 1
    assert p6._increments(old_gen) == []


def test_writer_lock_times_out_loudly(tmp_path):
    """A writer that cannot acquire the lock fails with TimeoutError
    after its bound — never an indefinite hang (no Spark needed: this
    pins the lock primitive itself against a real second process)."""
    import pytest

    import engine.pipeline6 as p6

    base = str(tmp_path / "idx")
    os.makedirs(base)
    marker = str(tmp_path / "holder.locked")
    proc = _hold_lock_in_subprocess(base, "-", marker, hold=3.0)
    try:
        with pytest.raises(TimeoutError, match="writer lock"):
            with p6._writer_lock(base, timeout=0.3):
                pass
    finally:
        proc.wait(timeout=15)
    # and after release the lock is acquirable again
    with p6._writer_lock(base, timeout=5.0):
        pass
