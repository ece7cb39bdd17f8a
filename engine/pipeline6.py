"""Capstone #7: incremental corpus refresh — dedup the NEWLY ARRIVED
batch against the existing corpus without ever re-deduping the existing
corpus against itself.

pipeline_dedup_cascade is the full-rebuild pipeline; production corpora
refresh INCREMENTALLY: tonight's crawl must be checked (a) exactly and
(b) near-duplicately against everything already accepted, plus within
itself — but old-vs-old work is never repeated and old documents are
never dropped. The asymmetry is the entire cost model: incremental
refresh is O(new × collisions), not O((old+new)²).
"""

from __future__ import annotations

import contextlib
import errno
import fcntl
import glob
import os
import shutil
import tempfile
import time
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import fixture_dir, load


# Above this many within-new near-dup pairs, components run distributed
# (Pregel min-label) instead of as a driver-side union-find. A typical
# refresh yields tens of pairs, but a pathological batch (recrawl of a
# mirror site) can produce O(batch²) pairs that would OOM the driver if
# collected — the guard makes the capstone total-safe at any batch shape.
_UNION_FIND_MAX_PAIRS = 100_000

# Broadcast the new-side band rows into the stored-index join only while
# the batch is provably small (≤ this many docs ⇒ ≤ 16× band rows ≈
# 25 MB payload); past it the new side is a growing fact relation and
# must shuffle — an unconditional broadcast OOMed the 16g local driver
# at the 100k-doc batch rehearsal.
_BROADCAST_BATCH_MAX_DOCS = 50_000


def _within_new_losers(
    spark: SparkSession,
    nn: DataFrame,
    *,
    n_pairs_bound: int | None = None,
    force_distributed: bool = False,
) -> DataFrame:
    """Connected components over the within-new near-dup pairs (columns
    a_id, b_id), returning the LOSERS (every member except the min-id
    keeper of its component) as a doc_id DataFrame.

    Two paths with identical keeper semantics, chosen by pair count:
    small graphs collect once into a driver union-find (path-halving;
    cheaper than 1+ distributed rounds when the pair list is KBs); past
    _UNION_FIND_MAX_PAIRS the pairs are never fully collected — the
    shared Pregel min-label kernel (engine.dedup.min_label_components,
    the dedup_cluster_components engine) labels them in O(diameter)
    shuffles. Guard mechanics: ``n_pairs_bound`` is a caller-provided
    UPPER bound on nn's row count (pipeline_incremental_refresh passes a
    count of the already-localCheckpoint'd superset pair list — a free
    job that recomputes nothing), letting the small case run ONE plain
    collect. Without a bound the guard is limit(cap+1).collect(): driver
    memory stays bounded by construction and an under-cap result is
    provably the complete set, at the cost of CollectLimit's incremental
    partition waves (r06 A/B: a separate count() doubled the capstone at
    sf0.1; the bound path matches the unguarded shape exactly)."""
    rows = None
    if not force_distributed:
        if n_pairs_bound is not None and n_pairs_bound <= _UNION_FIND_MAX_PAIRS:
            rows = nn.collect()
        elif n_pairs_bound is None:
            rows = nn.limit(_UNION_FIND_MAX_PAIRS + 1).collect()
    if rows is not None and len(rows) <= _UNION_FIND_MAX_PAIRS:
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            a, b = r["a_id"], r["b_id"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        losers = [x for x in parent if find(x) != x]
        if losers:
            return spark.createDataFrame([(x,) for x in losers], "doc_id long")
        return spark.createDataFrame([], "doc_id long")

    from engine.dedup import min_label_components

    # Truncate the gate lineage before iterating: min_label_components
    # re-reads its edge relation EVERY round, and nn's plan hangs the
    # whole gate-1/2 subtree (batch union scan, semi-joins) under it —
    # at a 25x-batch rehearsal the uncheckpointed recompute piled up to
    # a driver OOM. The pair list itself is row-tiny (2 int64s/row).
    nn = nn.localCheckpoint()
    edges = nn.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).union(nn.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
    # Only pair participants can lose; singletons keep themselves trivially.
    nodes = (
        nn.select(F.col("a_id").alias("node"))
        .union(nn.select(F.col("b_id").alias("node")))
        .distinct()
    )
    labels = min_label_components(edges, nodes)
    return labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id")
    )


@query(
    "pipeline_incremental_refresh",
    # FULL oracle under the kernel's recall-1.0 contract (see
    # dedup_near_minhash): near-dup pairs are recomputed exactly in SQL;
    # the incremental semantics (old never dropped, new checked against
    # old then within itself with min-id keepers) are pure set algebra.
    oracle="""
    WITH RECURSIVE
    old AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 5 != 0),
    new AS (SELECT doc_id, source, text FROM documents WHERE doc_id % 5 = 0),
    ex_drop AS (
      SELECT n.doc_id FROM new n
      WHERE md5(n.text) IN (SELECT md5(text) FROM old)
    ),
    sh AS (
      SELECT doc_id, g FROM (
        SELECT doc_id, substring(text, CAST(i AS INT), 5) AS g
        FROM documents,
             UNNEST(range(1, greatest(length(text) - 4, 1) + 1)) AS t(i)
      ) GROUP BY doc_id, g
    ),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a_id, b_id FROM inter
      JOIN sz sa ON sa.doc_id = a_id
      JOIN sz sb ON sb.doc_id = b_id
      WHERE 1.0 - i / CAST(sa.n + sb.n - i AS DOUBLE) <= 0.6
    ),
    new1 AS (  -- new docs surviving the exact stage
      SELECT doc_id, source FROM new
      WHERE doc_id NOT IN (SELECT doc_id FROM ex_drop)
    ),
    near_old_drop AS (  -- survivor pairs with ANY old partner
      SELECT DISTINCT n.doc_id FROM new1 n
      JOIN pairs p ON (p.a_id = n.doc_id AND p.b_id IN (SELECT doc_id FROM old))
                   OR (p.b_id = n.doc_id AND p.a_id IN (SELECT doc_id FROM old))
    ),
    new2 AS (
      SELECT doc_id, source FROM new1
      WHERE doc_id NOT IN (SELECT doc_id FROM near_old_drop)
    ),
    nn AS (  -- near pairs entirely within the remaining new docs
      SELECT a_id, b_id FROM pairs
      WHERE a_id IN (SELECT doc_id FROM new2)
        AND b_id IN (SELECT doc_id FROM new2)
    ),
    und AS (SELECT a_id AS src, b_id AS dst FROM nn
            UNION ALL SELECT b_id, a_id FROM nn),
    walk(node, label) AS (
      SELECT doc_id, doc_id FROM new2
      UNION
      SELECT u.dst, w.label FROM walk w JOIN und u ON u.src = w.node
    ),
    comp AS (SELECT node AS doc_id, min(label) AS cid FROM walk GROUP BY node),
    within_drop AS (SELECT doc_id FROM comp WHERE doc_id != cid)
    SELECT n.source,
           count(*) AS n_arrived,
           CAST(count(CASE WHEN n.doc_id IN (SELECT doc_id FROM ex_drop)
                      THEN 1 END) AS BIGINT) AS drop_exact_vs_old,
           CAST(count(CASE WHEN n.doc_id IN (SELECT doc_id FROM near_old_drop)
                      THEN 1 END) AS BIGINT) AS drop_near_vs_old,
           CAST(count(CASE WHEN n.doc_id IN (SELECT doc_id FROM within_drop)
                      THEN 1 END) AS BIGINT) AS drop_within_new,
           CAST(count(*)
                - count(CASE WHEN n.doc_id IN (SELECT doc_id FROM ex_drop)
                        THEN 1 END)
                - count(CASE WHEN n.doc_id IN (SELECT doc_id FROM near_old_drop)
                        THEN 1 END)
                - count(CASE WHEN n.doc_id IN (SELECT doc_id FROM within_drop)
                        THEN 1 END) AS BIGINT) AS n_accepted
    FROM new n GROUP BY n.source
    """,
)
def pipeline_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus refresh capstone: the arriving batch (doc_id %
    5 == 0, simulating tonight's crawl) is admitted through three
    asymmetric gates — exact hash vs the EXISTING corpus, near-dup vs
    the existing corpus, then near-dup within the batch itself
    (min-id-keeper components) — and the per-source manifest accounts
    for every arrival: dropped-exact, dropped-near-vs-old,
    dropped-within-new, accepted. Old documents are never candidates for
    dropping; old-vs-old pairs are never computed into any decision.

    Scale design (r07 — the persisted index this docstring previously
    only promised): the accepted corpus's dedup state is WRITTEN ONCE as
    three parquet artifacts (exact hashes, minhash signatures + shingle
    sets, capped LSH band rows — build_refresh_index), and the refresh
    path (refresh_against_index) reads ONLY those artifacts plus the new
    batch: the old side's text is never re-shingled, making refresh cost
    O(new × band collisions) instead of O(old + new) per run. Enforced by
    tests/test_pipeline6.py::test_refresh_reads_only_index_and_new_batch
    via DataFrame.inputFiles(). In this registered capstone the build
    runs first against the old split (production would have built it when
    those documents were accepted); the decision algebra — exact gate,
    asymmetric near gate, within-batch components — is unchanged."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    is_new = F.col("doc_id") % 5 == 0
    new = d.filter(is_new)
    old = d.filter(~is_new)

    # The index is the PERSISTED state of the accepted corpus — in
    # production it outlives every refresh run and is only ever appended
    # to. Model that here: build once per corpus file identity per process
    # (fixture_dir) and reuse across invocations (bench warm runs, repeated
    # driver checks); a regenerated corpus or a torn index (CURRENT gone,
    # e.g. a tmp cleaner) rebuilds.
    base = fixture_dir(
        os.path.join(sf_dir, "documents.parquet"),
        "refreshidx",
        lambda d: build_refresh_index(spark, old, d),
        lambda d: _current_gen(d) is not None,
    )
    return refresh_against_index(spark, new, base)


# Increment-aging policy (measured: scripts/refresh_rehearsal.py --aging-raw,
# table in docs/SCALE.md r08). The per-bucket candidate cap is per-increment,
# so a stored bucket's refresh fan-out grows as cap × #increments: raw creep
# measured ~+0.5 s/increment at sf0.1 on the clone-dense shape (6.6 s at 0
# increments → ~14–16 s at 13–15), while compaction is a 2.5 s signatures-only
# merge that restores the 0-increment cost exactly. So append auto-compacts
# every _AUTO_COMPACT_INCREMENTS increments (amortized ~0.3 s/batch for a
# bounded ≤ ~+1 s creep band); callers that opt out (auto_compact_after=None)
# get a warning past _COMPACT_WARN_INCREMENTS instead of silent degradation.
_AUTO_COMPACT_INCREMENTS = 8
_COMPACT_WARN_INCREMENTS = 16


def _current_gen(base: str) -> str | None:
    """Resolve the live generation directory via the CURRENT pointer file
    (same atomic-pointer idiom as sink_atomic_publish, engine/extras28.py):
    returns None when the index is absent, torn, or pre-publish."""
    try:
        with open(os.path.join(base, "CURRENT")) as fh:
            gen = fh.read().strip()
    except OSError:
        return None
    p = os.path.join(base, gen)
    return p if os.path.isdir(os.path.join(p, "bands")) else None


def _increments(gen_dir: str) -> list[str]:
    """Published increments of a generation, oldest first. Only renamed
    inc-NNNNNN dirs count — a crash mid-append leaves an .inc-tmp-* dir
    that no reader ever lists (the torn-increment guarantee)."""
    return sorted(
        d
        for d in glob.glob(os.path.join(gen_dir, "inc-[0-9]*"))
        if os.path.isdir(os.path.join(d, "bands"))
    )


def _artifact_paths(gen_dir: str, name: str) -> list[str]:
    return [os.path.join(gen_dir, name)] + [
        os.path.join(inc, name) for inc in _increments(gen_dir)
    ]


# Writers (build/append/compact) serialize on an advisory flock; a writer
# that cannot acquire it within this many seconds fails loudly instead of
# deadlocking a pipeline run. Readers never take it — see _writer_lock.
_WRITER_LOCK_TIMEOUT_S = 600.0


@contextlib.contextmanager
def _writer_lock(base: str, timeout: float = _WRITER_LOCK_TIMEOUT_S):
    """Mutual exclusion for index WRITERS (build / append / compact).

    The generational protocol is atomic for any number of READERS (the
    CURRENT pointer swap + one-generation vacuum grace), but it is
    single-writer by construction: without exclusion, an append that
    resolves the live generation while a compaction is folding it lands
    its increment in the about-to-be-superseded generation, where the
    NEXT pointer swap silently vacuums it — lost accepted documents, the
    one failure mode of this layout that corrupts rather than crashes.
    (Two concurrent appends are merely crash-loud: both derive the same
    inc-NNNNNN name and the second rename dies with ENOTEMPTY.)

    So every writer takes an exclusive ``flock`` on ``base/.write.lock``
    for its whole publish sequence, and ``append_to_refresh_index``
    re-resolves the live generation only AFTER acquiring it (an append
    that waited out a compaction lands in the new generation). Readers
    (refresh_against_index / refresh_decisions) stay lock-free.

    Scope: ``flock`` is host-local advisory locking — exactly right for
    this repo's single-driver pipelines, where all writers are processes
    on the driver host. On a multi-driver deployment over an object
    store (no flock), the same layout maps onto a table format's
    optimistic-commit protocol (Delta/Iceberg style: writers prepare
    increments/generations in private dirs — already the .tmp idiom
    here — then win or retry the pointer CAS); the single-writer
    contract documented here is what that protocol enforces at scale.
    Acquisition polls LOCK_NB so a stuck peer surfaces as a loud
    TimeoutError instead of an indefinite hang."""
    os.makedirs(base, exist_ok=True)
    fd = os.open(os.path.join(base, ".write.lock"), os.O_CREAT | os.O_RDWR, 0o644)
    try:
        deadline = time.monotonic() + timeout
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except OSError as e:
                if e.errno not in (errno.EAGAIN, errno.EACCES):
                    raise
                if time.monotonic() >= deadline:
                    raise TimeoutError(
                        f"refresh-index writer lock at {base} not acquired "
                        f"within {timeout:.0f}s — another build/append/"
                        "compact holds it (or died without the OS reaping "
                        "it, which flock rules out for dead processes)"
                    ) from None
                time.sleep(0.05)
        yield
    finally:
        # flock releases on close even after a crash-mid-publish; the
        # torn .tmp dirs such a crash leaves are invisible to readers.
        os.close(fd)


def _publish_pointer(base: str, gen_name: str) -> None:
    tmp = os.path.join(base, ".CURRENT.tmp")
    with open(tmp, "w") as fh:
        fh.write(gen_name)
    os.replace(tmp, os.path.join(base, "CURRENT"))  # atomic commit


def _prune_generations(base: str, keep: set[str]) -> None:
    """Retention after a pointer swap: delete every published generation
    except ``keep`` = {live, just-superseded}. Keeping exactly one
    superseded generation is the table-format vacuum grace period: a
    refresh manifest PLANNED before a swap holds file references into the
    old generation, and Spark plans are lazy — immediate deletion made
    `m = refresh_against_index(...); append(...)  # auto-compacts;
    m.collect()` throw FileNotFoundException. One retained generation
    means any plan survives the next swap; only a plan held across TWO
    swaps is past retention (and fails loudly, never wrongly). Disk cost
    is bounded at ~2x the index, reclaimed at the following swap."""
    for d in glob.glob(os.path.join(base, "gen-[0-9]*")):
        if os.path.basename(d) not in keep:
            shutil.rmtree(d, ignore_errors=True)


def _next_seq(base: str, prefix: str) -> str:
    ns = [
        int(os.path.basename(d)[len(prefix):])
        for d in glob.glob(os.path.join(base, f"{prefix}[0-9]*"))
        if os.path.basename(d)[len(prefix):].isdigit()
    ]
    return f"{prefix}{max(ns, default=0) + 1:06d}"


def build_refresh_index(spark: SparkSession, accepted: DataFrame, base: str) -> None:
    """Write the accepted corpus's dedup-index artifacts under ``base`` —
    the once-per-acceptance cost that makes every later refresh O(new):

    - ``exact/``: distinct md5 text hashes (gate-1 key);
    - ``sigs/``:  minhash_signatures output (doc_id, m0..m31, hs) — the
      Jaccard-estimate columns and exact shingle sets the verify stage
      needs, so no verification ever touches accepted text again;
    - ``bands/``: (band, k1, k2, doc_id) LSH band rows with the kernel's
      bucket cap applied per stored bucket (a mega-bucket is dropped at
      build time exactly as the one-shot kernel drops it at join time).

    The only stage that reads ``accepted.text`` is the signature pass; the
    band rows are derived from the WRITTEN sigs parquet (one shingle pass
    total, and the derive is a 32-int-column projection). At 100 TB the
    artifacts grow per accepted batch (append_to_refresh_index — the
    write half of the refresh loop) — band rows partition by their (k1)
    hash prefix naturally under parquet. For batches under
    _BROADCAST_BATCH_MAX_DOCS the refresh join broadcasts the new side
    so the stored index streams through one scan with no shuffle of the
    old side; past that bound the new side is a growing fact relation
    and refresh_against_index deliberately takes the shuffle join (see
    the constant's rationale).

    Layout (r08, the LSM/table-format shape): artifacts live under a
    GENERATION directory named by the CURRENT pointer file; appends
    publish increment subdirs inside the generation by atomic rename;
    compaction (compact_refresh_index) merges generation + increments
    into a new generation and swaps the pointer. Every publish step is a
    single rename/replace, so no reader ever observes a torn index —
    the pointer idiom sink_atomic_publish demonstrates as an operator.

    Writers serialize on ``_writer_lock`` (multi-process safety — see
    its docstring for the race it closes and the cluster-scale analog)."""
    os.makedirs(base, exist_ok=True)
    with _writer_lock(base):
        tmp = tempfile.mkdtemp(dir=base, prefix=".gen-tmp-")
        _write_index_artifacts(spark, accepted, tmp)
        gen_name = _next_seq(base, "gen-")
        os.rename(tmp, os.path.join(base, gen_name))
        old_gen = _current_gen(base)
        _publish_pointer(base, gen_name)
        keep = {gen_name} | ({os.path.basename(old_gen)} if old_gen else set())
        _prune_generations(base, keep)


def append_to_refresh_index(
    spark: SparkSession,
    accepted: DataFrame,
    base: str,
    *,
    auto_compact_after: int | None = _AUTO_COMPACT_INCREMENTS,
) -> None:
    """Append a newly ACCEPTED batch's dedup state to an existing index —
    the write half of the production refresh loop: refresh gates a batch
    against the index, then the survivors are appended so the NEXT batch
    sees them as accepted corpus. Same three artifacts written into a
    fresh increment dir and published into the live generation by ONE
    atomic rename (no rewrite of existing bytes, and a crash before the
    rename leaves an invisible .inc-tmp-* dir instead of a torn index),
    so index maintenance is O(batch) — the accepted corpus's text is
    never re-read, exactly like refresh itself.

    Bucket-cap semantics under append (the LSM trade): the cap is
    applied WITHIN each increment, so a stored bucket can exceed the cap
    across increments — candidate fan-out per refresh is then bounded by
    cap × #increments for that bucket rather than cap. Correctness is
    unaffected (verification is exact), but refresh latency creeps with
    increment count (measured ~+0.5 s/increment at sf0.1 — docs/SCALE.md
    r08 aging table), so append AUTO-COMPACTS once ``auto_compact_after``
    increments accumulate — the LSM re-merge (compact_refresh_index) that
    restores the global cap and the flat refresh cost for ~0.3 s/batch
    amortized. Pass ``auto_compact_after=None`` to manage compaction
    yourself; if increments then accumulate past _COMPACT_WARN_INCREMENTS
    (also possible with a managed threshold laxer than that bound) the
    append degrades loudly via a RuntimeWarning instead of silently.
    tests/test_pipeline6.py::test_refresh_index_append_loop drives two
    generations end-to-end; the auto-compaction policy curve is pinned by
    test_auto_compaction_bounds_increment_count.

    Writers serialize on ``_writer_lock``; the live generation is
    resolved AFTER acquiring it, so an append that waited behind a
    compaction publishes into the new generation instead of the
    about-to-be-vacuumed one (tests/test_pipeline6.py::
    test_append_waits_for_writer_lock pins both properties)."""
    with _writer_lock(base):
        gen = _current_gen(base)
        if gen is None:
            raise FileNotFoundError(
                f"no published refresh index under {base}; run build_refresh_index"
            )
        tmp = tempfile.mkdtemp(dir=gen, prefix=".inc-tmp-")
        _write_index_artifacts(spark, accepted, tmp, max_files=_INCREMENT_MAX_FILES)
        os.rename(tmp, os.path.join(gen, _next_seq(gen, "inc-")))
        n_inc = len(_increments(gen))
        if auto_compact_after is not None and n_inc >= auto_compact_after:
            _compact_impl(spark, base)
            return
    if n_inc > _COMPACT_WARN_INCREMENTS:
        # Reached only when this call did NOT fold: the caller opted out
        # (None) or chose a threshold laxer than the warn bound and the
        # fan-out has now passed the recommended degradation point.
        # Either way the creep is real, so the heads-up is legitimate —
        # a managed caller with a threshold AT OR UNDER the warn bound
        # can never land here (the first branch folds first).
        warnings.warn(
            f"refresh index at {base} has {n_inc} increments (warn bound "
            f"{_COMPACT_WARN_INCREMENTS}): per-bucket candidate fan-out "
            "and artifact file count grow with increments — run "
            "compact_refresh_index(spark, base) to re-merge",
            RuntimeWarning,
            stacklevel=2,
        )


def compact_refresh_index(spark: SparkSession, base: str) -> None:
    """LSM re-merge: fold the live generation and all its increments into
    ONE new generation and atomically swap the CURRENT pointer. Reads
    ONLY the stored artifacts — never any document text: exact hashes
    union-distinct; signatures concatenate (increments are doc-disjoint
    by construction); band rows re-derive from the merged signatures, so
    the per-bucket candidate cap becomes GLOBAL again instead of
    per-increment. Cost is O(corpus signatures) — cheaper than the
    from-scratch build by the whole shingle pass. The superseded
    generation is RETAINED through one more swap (_prune_generations:
    in-flight lazy plans keep reading it) and pruned at the following
    one; a crash at any point leaves either the old or the new
    generation fully live. Serializes with other writers on
    ``_writer_lock`` (auto-compaction inside append already holds it and
    calls ``_compact_impl`` directly)."""
    with _writer_lock(base):
        _compact_impl(spark, base)


def _compact_impl(spark: SparkSession, base: str) -> None:
    gen = _current_gen(base)
    if gen is None:
        raise FileNotFoundError(f"no published refresh index under {base}")
    from engine.dedup import capped_lsh_band_rows

    tmp = tempfile.mkdtemp(dir=base, prefix=".gen-tmp-")
    spark.read.parquet(*_artifact_paths(gen, "exact")).distinct().write.parquet(
        f"{tmp}/exact"
    )
    spark.read.parquet(*_artifact_paths(gen, "sigs")).write.parquet(f"{tmp}/sigs")
    sig_back = spark.read.parquet(f"{tmp}/sigs")
    capped_lsh_band_rows(sig_back).write.parquet(f"{tmp}/bands")
    gen_name = _next_seq(base, "gen-")
    os.rename(tmp, os.path.join(base, gen_name))
    _publish_pointer(base, gen_name)
    _prune_generations(base, {gen_name, os.path.basename(gen)})


# Append increments coalesce their artifact writes to this many part
# files each. Without it every O(batch)-sized increment inherits the
# input-split parallelism (~32 files/artifact here, ~100 tiny files per
# append) — the classic LSM small-file problem: on an object store the
# per-file listing/open/footer cost dominates long before the data
# does, and the file census grows per append until compaction. Locally
# this is preventive, not a measured win: an empty-increment probe
# (scripts/_probe_increment_overhead.py: 15 zero-row increments) adds
# no refresh latency, i.e. the local aging creep is bucket fan-out, not
# file count — but local[32] against page cache is the best possible
# case for small files, so increments bound them anyway. Generation
# (build/compact) writes keep full parallelism: they are corpus-sized.
_INCREMENT_MAX_FILES = 4


def _write_index_artifacts(
    spark: SparkSession,
    accepted: DataFrame,
    dirpath: str,
    *,
    max_files: int | None = None,
) -> None:
    """The three artifacts into a fresh (staging) dir. One shingle pass:
    sigs are written first and the band rows derive from the WRITTEN
    parquet — a 32-int-column projection read of this dir only, never of
    the wider index. ``max_files`` bounds each artifact's part-file count
    (set for O(batch) increments, None for corpus-sized generations):
    exact and bands sit just past a shuffle (distinct / the bucket-cap
    window) so a narrow coalesce only merges reduce outputs, while sigs
    is a narrow projection all the way from the text scan — a coalesce
    there would throttle the expensive shingle pass itself, so the sig
    write repartitions instead (shuffling batch-sized rows to keep the
    compute wide)."""
    from engine.dedup import capped_lsh_band_rows, minhash_signatures

    exact = accepted.select(F.md5("text").alias("h")).distinct()
    sigs = minhash_signatures(accepted)
    if max_files is not None:
        exact = exact.coalesce(max_files)
        sigs = sigs.repartition(max_files)
    exact.write.parquet(f"{dirpath}/exact")
    sigs.write.parquet(f"{dirpath}/sigs")
    sig_back = spark.read.parquet(f"{dirpath}/sigs")
    bands = capped_lsh_band_rows(sig_back)
    if max_files is not None:
        bands = bands.coalesce(max_files)
    bands.write.parquet(f"{dirpath}/bands")


def refresh_decisions(
    spark: SparkSession, new: DataFrame, base: str
) -> DataFrame:
    """Classify the ``new`` batch (doc_id, source, text) against a stored
    dedup index at ``base`` (build_refresh_index artifacts): one row per
    arrival, ``decision`` ∈ {accepted, drop_exact_vs_old,
    drop_near_vs_old, drop_within_new}. Reads ONLY the artifacts and the
    new batch — never the accepted corpus's text.

    This doc-level relation is the WRITE half's input: the production
    loop appends exactly the ``accepted`` rows back to the index
    (append_to_refresh_index), and an ingestor materializes those rows as
    the admitted corpus delta. refresh_against_index aggregates the same
    relation into the per-source audit manifest.

    Plan shape: ONE signature pass over the new batch (persisted —
    band rows, both candidate joins, and both verify sides read it), the
    cross candidates from broadcasting the new band rows against the
    stored band scan, and the within-batch candidates from a self-join of
    the same capped new band rows. Verification reuses the shared
    two-stage kernel (minhash-estimate prefilter, then exact set
    intersection) with the OLD side's sets read from sigs/ — parquet
    column pruning means the estimate stage reads only the 32 int
    columns and the exact stage only (doc_id, hs)."""
    from pyspark import StorageLevel

    from engine.dedup import (
        capped_lsh_band_rows,
        lsh_self_candidates,
        minhash_signatures,
        verify_near_pairs,
    )

    gen = _current_gen(base)
    if gen is None:
        raise FileNotFoundError(
            f"no published refresh index under {base}; run build_refresh_index"
        )
    old_exact = spark.read.parquet(*_artifact_paths(gen, "exact"))
    old_sigs = spark.read.parquet(*_artifact_paths(gen, "sigs"))
    old_bands = spark.read.parquet(*_artifact_paths(gen, "bands"))

    # Gate 1: exact vs the stored hash set.
    new_h = new.withColumn("h", F.md5("text"))
    ex_drop = new_h.join(old_exact, "h", "left_semi").select("doc_id")
    new1 = new.join(ex_drop, "doc_id", "left_anti")

    new_sig = minhash_signatures(new).persist(StorageLevel.MEMORY_AND_DISK)
    # Capped band rows of the new batch: three consumers (cross broadcast,
    # self-join x/y); small (16 rows/doc), so persist rather than re-run
    # the band window per consumer.
    nb = capped_lsh_band_rows(new_sig).persist(StorageLevel.MEMORY_AND_DISK)

    # Candidates for BOTH near gates, verified in ONE tree (r07 fusion:
    # two separate verify trees + checkpoints measured 7.0 s vs 4.6 s at
    # sf0.1). Gate-2 candidates: new band rows against one scan of the
    # stored bands/ — BROADCAST only while the batch is provably small
    # (the one-job count below vs _BROADCAST_BATCH_MAX_DOCS, read off
    # the module so tests can force the shuffle path; rationale at the
    # constant). Gate-3 candidates: self-join of the capped new band
    # rows. The a-side of every candidate is a new doc, so one verify
    # pass against (new ∪ stored) signatures covers both — doc_ids are
    # globally unique across the corpus split by construction.
    # Counting the persisted signatures (== batch docs) rather than the
    # raw batch makes the sizing job double as new_sig's cache
    # materialization — one job instead of two.
    n_batch = new_sig.count()
    nb_a = nb.withColumnRenamed("doc_id", "a_id")
    if n_batch <= _BROADCAST_BATCH_MAX_DOCS:
        nb_a = F.broadcast(nb_a)
    cross_cand = (
        old_bands.join(nb_a, ["band", "k1", "k2"])
        .select("a_id", F.col("doc_id").alias("b_id"))
        .distinct()
        .withColumn("within", F.lit(False))
    )
    # r15: within-batch candidates via the grouped pair-gen pass (one
    # aggregation over the already-capped persisted band rows) instead of
    # the band self-join — same pair set (lsh_self_candidates' docstring
    # proves the equivalence), one fewer BroadcastExchange per run.
    wn_cand = lsh_self_candidates(nb, pre_capped=True).withColumn(
        "within", F.lit(True)
    )
    all_sigs = new_sig.unionByName(old_sigs.select(*new_sig.columns))
    # Tiny (near-dup pairs touching the batch); ONE checkpoint job
    # materializes both gates' verified pairs so the three consumers below
    # (gate-2 anti-join, gate-3 components, manifest joins) never re-run
    # the verify subtree.
    pairs = (
        verify_near_pairs(cross_cand.unionByName(wn_cand), new_sig, all_sigs)
        .select("a_id", "b_id", "within")
        .localCheckpoint()
    )

    # Gate 2: survivor has ANY stored near-partner.
    near_old_drop = (
        pairs.filter(~F.col("within"))
        .select(F.col("a_id").alias("doc_id"))
        .distinct()
        .join(new1.select("doc_id"), "doc_id", "left_semi")
    )
    # Gate 3: components within the remaining new docs, min-id keeper.
    within_pairs = pairs.filter(F.col("within")).select("a_id", "b_id")
    # r15 (fusing VERDICT r14 item 2): the old shape semi-joined
    # within_pairs against a localCheckpoint of new2's ids — a per-run
    # materialization job over the whole gate-1/2 subtree (measured
    # 0.45-0.8 s at sf0.1; it existed because new2's heavy lineage fanned
    # into the components stage twice and OOMed the 16g driver at the
    # 100×-batch rehearsal). Flip the filter direction instead: a
    # within-pair endpoint d is IN new2 ⟺ d ∉ ex_drop ∪ {a_id of verified
    # cross pairs} (within-pair endpoints are batch docs by construction;
    # near_old_drop = cross_a ∩ new1, and subtracting ex_drop first makes
    # the union exact — pinned by test_pipeline6.py's gate tests and the
    # oracle). drop12 is TINY (≤ batch ids + verified cross a_ids), so
    # the components stage now consumes the checkpointed pairs plus two
    # anti-joins against a small relation — the heavy batch/gates lineage
    # no longer feeds the collect at all, which is strictly safer than
    # the checkpoint it replaces.
    drop12 = ex_drop.unionByName(
        pairs.filter(~F.col("within")).select(F.col("a_id").alias("doc_id"))
    ).distinct()
    nn = (
        within_pairs.join(
            drop12, within_pairs["a_id"] == drop12["doc_id"], "left_anti"
        ).join(drop12, within_pairs["b_id"] == drop12["doc_id"], "left_anti")
    )
    # The checkpointed pair list bounds the new2 subset; its count
    # recomputes nothing, so the guard costs one trivial job.
    within_drop = _within_new_losers(
        spark, nn.select("a_id", "b_id"), n_pairs_bound=pairs.count()
    )
    # The signature/band caches are NOT unpersisted here — deliberate,
    # same convention and rationale as minhash_near_pairs: Spark
    # deduplicates cache entries by logical plan, so repeat refreshes of
    # the SAME batch (bench warm runs, repeated driver checks) hit one
    # shared entry and skip the shingle pass — measured 7.6 s vs 2.7 s
    # warm at sf0.1 with an unpersist-after-checkpoint (tried r07,
    # reverted). A caller feeding MANY DISTINCT large batches through one
    # session (scripts/refresh_rehearsal.py) accumulates one
    # MEMORY_AND_DISK entry per distinct batch plan — spill-safe, and
    # such callers should spark.catalog.clearCache() between batches as
    # the rehearsal does.

    # Decisions: classify every arrival exactly once. The gates are
    # disjoint by construction (each drop set is anti-joined out before
    # the next gate runs), so the when-chain order is cosmetic.
    tag = (
        new.select("doc_id", "source")
        .join(ex_drop.withColumn("g1", F.lit(1)), "doc_id", "left")
        .join(near_old_drop.withColumn("g2", F.lit(1)), "doc_id", "left")
        .join(within_drop.withColumn("g3", F.lit(1)), "doc_id", "left")
    )
    return tag.select(
        "doc_id",
        "source",
        F.when(F.col("g1") == 1, F.lit("drop_exact_vs_old"))
        .when(F.col("g2") == 1, F.lit("drop_near_vs_old"))
        .when(F.col("g3") == 1, F.lit("drop_within_new"))
        .otherwise(F.lit("accepted"))
        .alias("decision"),
    )


def refresh_against_index(
    spark: SparkSession, new: DataFrame, base: str
) -> DataFrame:
    """The per-source refresh audit manifest — refresh_decisions rolled
    up to (source, n_arrived, drop_exact_vs_old, drop_near_vs_old,
    drop_within_new, n_accepted). Same plan as the doc-level relation
    plus one hash aggregate; see refresh_decisions for the gate design
    and scale rationale."""
    dec = refresh_decisions(spark, new, base)
    n_of = lambda name: (
        F.sum(F.when(F.col("decision") == name, 1).otherwise(0))
        .cast("long")
        .alias(name)
    )
    return dec.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_arrived"),
        n_of("drop_exact_vs_old"),
        n_of("drop_near_vs_old"),
        n_of("drop_within_new"),
        F.sum(F.when(F.col("decision") == "accepted", 1).otherwise(0))
        .cast("long")
        .alias("n_accepted"),
    )
