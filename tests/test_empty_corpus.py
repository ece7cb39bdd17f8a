"""r12 empty-corpus hardening: a 100 TB pipeline routinely meets empty
sources (an empty incremental batch, a filtered-out shard, a fresh
partition), and the fixed sf corpora never exercise that shape. The r12
sweep of all 364 keys against an all-empty (0-row, schema-correct) corpus
found 24 failures; these tests pin the fixed ones — partitioned-write
read-backs, driver-side constants (np.stack / first()[0] / 1/n), and
NULL-aggregate parity — against the same DuckDB oracles on the same empty
corpus.

Known, documented exclusions (engine semantics, not bugs — see
docs/SCALE.md r12):
- agg_cube / agg_rollup / agg_grouping_sets / agg_grouping_id /
  agg_ab_ttest: Spark's GROUPING SETS on empty input emit 0 rows even for
  the () set; DuckDB follows the SQL standard and emits the grand-total
  row. Verified directly: `df.cube(...).agg(...)` on range(0) -> [].
- scan_binary_files: oracle hardcodes the sf0.01 directory (static-oracle
  driver contract), so it cannot be retargeted at a synthetic corpus.
"""

from __future__ import annotations

import duckdb
import pyarrow.parquet as pq
import pytest

from engine.tables import TABLES
from tests.conftest import SF_DIR, assert_frames_match

# every key fixed (or proven already-green) by the r12 empty-corpus sweep
EMPTY_SAFE_KEYS = [
    # partitioned-write read-backs (explicit schema / absent-dir guards)
    "sink_parquet_roundtrip",
    "scan_partition_prune",
    "sink_hive_partitioned",
    "join_dynamic_partition_prune",
    "etl_partition_overwrite_dynamic",
    "etl_targeted_erasure",
    # driver-side constants over empty input
    "sim_topk_pairs",
    "dedup_embedding_cosine",
    "sim_knn_query",
    "sim_ann_ivf",
    "sim_ann_rp_lsh",
    "pipeline_ann_index_build",
    "emb_pca_project",
    "emb_isotropy_audit",
    "plan_observe_metrics",
    "graph_bfs_hops",
    "graph_pagerank_iter",
    # NULL-aggregate parity
    "dedup_exact_embedding",
    "scan_metadata_columns",
]


@pytest.fixture(scope="module")
def empty_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("sg_empty")
    for t in TABLES:
        schema = pq.read_schema(f"{SF_DIR}/{t}.parquet")
        pq.write_table(schema.empty_table(), str(out / f"{t}.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def empty_duck(empty_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{empty_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("key", EMPTY_SAFE_KEYS)
def test_empty_corpus_oracle_parity(spark, empty_dir, empty_duck, key):
    from engine.registry import collect

    queries, oracles = collect()
    fn = getattr(queries[key], "__wrapped__", queries[key])
    sp = fn(spark, empty_dir).toPandas()
    du = empty_duck.sql(oracles[key]).df()
    assert_frames_match(sp, du, key)


# keys the r12 ONE-ROW sweep crashed or diverged (a single-row table /
# zero-variance group / sub-k collect group is routine inside any filtered
# shard at scale) — plus the ANSI discovery: the session runs Spark 4's
# ANSI mode, so x/0 on a degenerate group KILLS the job instead of
# emitting NULL. Each fix reproduces the oracle's NULL/saturation
# semantics (DuckDB's x/0 is NULL; least() skips NULLs).
ONE_ROW_KEYS = [
    "agg_rate_smoothing",       # zero-view prior: b/0 -> NULL smoothing
    "agg_topk_collect",         # sub-k group: try_element_at NULL slots
    "emb_isotropy_audit",       # n=1: no pairs, NULL mean cosine
    "emb_pca_project",          # zero-variance corpus: trace 0 guard
    "emb_scalar_quantize",      # constant dim: mx==mn saturates to 255
    "win_anomaly_zscore",       # zero-variance type: z NULL, row dropped
    "sql_pivot_clause",         # missing pivot cell: count 0, not NULL
    "scan_metadata_columns",    # n<4 rows -> n files (least(4, n) oracle)
    "sim_ann_ivf",              # 1 centroid < nprobe: probe width clamps
    "pipeline_ann_index_build", # same clamp in the build/serve kernels
    # r13 quantile-bucket rewrites: 1 row -> all 63 splits equal, bkt=63
    "agg_weighted_percentile",
    "text_pack_sequences",
]


@pytest.fixture(scope="module")
def one_row_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("sg_one")
    for t in TABLES:
        tb = pq.read_table(f"{SF_DIR}/{t}.parquet")
        pq.write_table(tb.slice(0, 1), str(out / f"{t}.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def one_row_duck(one_row_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{one_row_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("key", ONE_ROW_KEYS)
def test_one_row_corpus_oracle_parity(spark, one_row_dir, one_row_duck, key):
    from engine.registry import collect

    queries, oracles = collect()
    fn = getattr(queries[key], "__wrapped__", queries[key])
    sp = fn(spark, one_row_dir).toPandas()
    du = one_row_duck.sql(oracles[key]).df()
    assert_frames_match(sp, du, key)


# keys the r12 NULL-TEXT sweep crashed or diverged (NULL text/lang rows are
# the routine ingestion-corruption shape). Two asymmetry classes: Python
# kernels receiving None (mapInPandas/UDTF/fake decode), and Spark
# expressions that DON'T null-propagate where the oracle's do —
# concat_ws skips NULL args, xxhash64(NULL) returns the seed constant
# (so NULL docs all shared one shingle and paired as near-dups), and
# greatest() skips NULLs into a live sequence().
NULL_TEXT_KEYS = [
    "dedup_cross_source",        # fp md5(NULL) now NULL, groups NULL texts
    "dedup_near_minhash",        # NULL doc -> empty shingle set, no pairs
    "dedup_pair_explain",        # same shingle kernel
    "multimodal_decode_pipeline",  # NULL payload -> NULL meta + features
    "scan_text_lines",           # NULL survives the text-file round-trip
    "text_fingerprint",          # NULL text -> no windows
    "text_pack_sequences",       # all-NULL bucket sums coalesce to 0
    "udf_mapinpandas_stream",    # pandas .str NULL-propagation
    "udtf_python",               # eval(None) yields no tokens
]


@pytest.fixture(scope="module")
def null_text_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.compute as pc

    out = tmp_path_factory.mktemp("sg_nulls")
    for t in TABLES:
        tb = pq.read_table(f"{SF_DIR}/{t}.parquet")
        if t == "documents":
            mask = pc.is_in(tb.column("doc_id"), value_set=pa.array([7, 8, 9]))
            cols = {}
            for name in tb.column_names:
                col = tb.column(name)
                if name in ("text", "lang"):
                    cols[name] = pc.if_else(mask, pa.nulls(len(tb), col.type), col)
                else:
                    cols[name] = col
            tb = pa.table(cols)
        pq.write_table(tb, str(out / f"{t}.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def null_text_duck(null_text_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{null_text_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("key", NULL_TEXT_KEYS)
def test_null_text_corpus_oracle_parity(spark, null_text_dir, null_text_duck, key):
    from engine.registry import collect

    queries, oracles = collect()
    fn = getattr(queries[key], "__wrapped__", queries[key])
    sp = fn(spark, null_text_dir).toPandas()
    du = null_text_duck.sql(oracles[key]).df()
    assert_frames_match(sp, du, key)


# keys the r12 NULL-EMBEDDING sweep crashed or diverged (a left-join
# enrichment miss / failed inference produces NULL vectors). The contract
# (engine.tables.vectors + `embedding IS NOT NULL` in the oracles): vector
# math ignores NULL embeddings the way SQL aggregates ignore NULL scalars.
# Notable crash class: pyarrow's flatten() silently DROPS null lists, so
# the np reshape misaligned ids against vectors before raising.
NULL_EMB_KEYS = [
    "dedup_embedding_cosine",
    "emb_isotropy_audit",
    "emb_norm_profile",
    "emb_pca_project",
    "emb_random_projection_jl",
    "sim_ann_ivf",
    "sim_ann_rp_lsh",
    "sim_hybrid_rrf_fusion",
    "sim_knn_query",
    "sim_topk_pairs",
]


@pytest.fixture(scope="module")
def null_emb_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.compute as pc

    out = tmp_path_factory.mktemp("sg_nullemb")
    for t in TABLES:
        tb = pq.read_table(f"{SF_DIR}/{t}.parquet")
        if t == "embeddings":
            mask = pc.is_in(tb.column("vec_id"), value_set=pa.array([7, 8, 9]))
            cols = {
                n: (
                    pc.if_else(mask, pa.nulls(len(tb), tb.column(n).type), tb.column(n))
                    if n == "embedding"
                    else tb.column(n)
                )
                for n in tb.column_names
            }
            tb = pa.table(cols)
        pq.write_table(tb, str(out / f"{t}.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def null_emb_duck(null_emb_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{null_emb_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("key", NULL_EMB_KEYS)
def test_null_emb_corpus_oracle_parity(spark, null_emb_dir, null_emb_duck, key):
    from engine.registry import collect

    queries, oracles = collect()
    fn = getattr(queries[key], "__wrapped__", queries[key])
    sp = fn(spark, null_emb_dir).toPandas()
    du = null_emb_duck.sql(oracles[key]).df()
    assert_frames_match(sp, du, key)


# the COMBINATION corpus (r12): dup groups + NULL text/lang + NULL
# embeddings + a duplicated NULL-text group + a duplicated sub-n-gram
# group, all at once — the interaction regime (collapse paths meeting
# NULLs) none of the single-axis fixtures exercise. The full 364-key
# sweep at r12 found three interaction bugs pinned here: array_join of a
# NULL match list ('' on DuckDB via coalesce), sequence(0, -1, 4) being
# an ERROR where generate_series is empty (sub-frame payloads), and
# LATERAL VIEW OUTER emitting a (NULL, NULL) row for NULL token arrays
# where unnest(NULL) emits nothing.
COMBO_KEYS = [
    "fn_regexp_extract_all",
    "multimodal_frame_sample",
    "sql_lateral_view",
    # dup-collapse x NULL interaction pins (passed the sweep; keep green)
    "dedup_near_minhash",
    "text_containment",
    "dedup_ngram_jaccard",
    "dedup_semdedup",
    "emb_kmeans_lloyd",
    "sim_ann_ivf",
    "dedup_cross_source",
]


@pytest.fixture(scope="module")
def combo_dir(tmp_path_factory):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    out = tmp_path_factory.mktemp("sg_combo")
    for t in TABLES:
        tb = pq.read_table(f"{SF_DIR}/{t}.parquet")
        if t == "documents":
            mask = pc.is_in(tb.column("doc_id"), value_set=pa.array([7, 8, 9]))
            cols = {
                n: (
                    pc.if_else(mask, pa.nulls(len(tb), tb.column(n).type), tb.column(n))
                    if n in ("text", "lang")
                    else tb.column(n)
                )
                for n in tb.column_names
            }
            df = pa.table(cols).to_pandas()
            extra = df[df.doc_id < 5].copy()
            extra["doc_id"] += 1_000_000
            nulldup = df[df.doc_id == 7]
            nd2 = pd.concat(
                [nulldup.assign(doc_id=2_000_000), nulldup.assign(doc_id=2_000_001)]
            )
            short = df[df.doc_id == 10]
            sh2 = pd.concat(
                [
                    short.assign(doc_id=3_000_000, text="two words"),
                    short.assign(doc_id=3_000_001, text="two words"),
                ]
            )
            tb = pa.Table.from_pandas(
                pd.concat([df, extra, nd2, sh2], ignore_index=True),
                preserve_index=False,
            )
        if t == "embeddings":
            mask = pc.is_in(tb.column("vec_id"), value_set=pa.array([7, 8, 9]))
            cols = {
                n: (
                    pc.if_else(mask, pa.nulls(len(tb), tb.column(n).type), tb.column(n))
                    if n == "embedding"
                    else tb.column(n)
                )
                for n in tb.column_names
            }
            df = pa.table(cols).to_pandas()
            extra = df[df.vec_id < 3].copy()
            extra["vec_id"] += 1_000_000
            tb = pa.Table.from_pandas(
                pd.concat([df, extra], ignore_index=True), preserve_index=False
            )
        pq.write_table(tb, str(out / f"{t}.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def combo_duck(combo_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{combo_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("key", COMBO_KEYS)
def test_combo_corpus_oracle_parity(spark, combo_dir, combo_duck, key):
    from engine.registry import collect

    queries, oracles = collect()
    fn = getattr(queries[key], "__wrapped__", queries[key])
    sp = fn(spark, combo_dir).toPandas()
    du = combo_duck.sql(oracles[key]).df()
    assert_frames_match(sp, du, key)


def test_null_emb_ann_index_build_no_crash(spark, null_emb_dir):
    """pipeline_ann_index_build is excluded from oracle parity on this
    corpus BY DESIGN: its FULL oracle relies on the IVF serve path's
    recall being exactly 1.0 on the UNMODIFIED corpus (fixed centroids +
    clustered data); removing 3 vectors shifts cluster membership and a
    true neighbor can land in an unprobed cluster. The r12 fix under test
    is the crash (ids misaligned against a null-dropping flatten) — the
    build/serve must now run and return the full 5x5 result."""
    from engine.registry import collect

    queries, _ = collect()
    fn = getattr(
        queries["pipeline_ann_index_build"],
        "__wrapped__",
        queries["pipeline_ann_index_build"],
    )
    rows = fn(spark, null_emb_dir).collect()
    assert len(rows) == 25 and all(r["sim"] is not None for r in rows)


# keys the r13 NULL-SOURCE sweep fixed or keep-green-pins (ADVICE r12: the
# degenerate corpora nulled text/lang/embedding but never source, leaving
# the source-bucketing joins unexercised). Sweep of all 364 keys against a
# 15-NULL-source corpus: 362 PASS, 2 FAIL — pipeline_dedup_cascade (its
# manifest equi-joins on source zeroed the NULL group's attrition counts;
# now eqNullSafe) and scan_binary_files (the documented static-oracle
# exclusion, not a bug). text_pack_sequences / sample_source_mix shipped
# eqNullSafe in the same round before the sweep and pass here.
NULL_SOURCE_KEYS = [
    "pipeline_dedup_cascade",   # manifest joins now eqNullSafe on source
    "text_pack_sequences",      # bucket-stats joins eqNullSafe (ADVICE)
    "sample_source_mix",        # bucket-stats joins eqNullSafe (ADVICE)
    # keep-green pins: source-grouped keys that already keep NULL groups
    "dedup_cross_source",
    "sample_balanced_lang",
    "text_source_vocab_jaccard",
]


@pytest.fixture(scope="module")
def null_source_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.compute as pc

    out = tmp_path_factory.mktemp("sg_nullsource")
    for t in TABLES:
        tb = pq.read_table(f"{SF_DIR}/{t}.parquet")
        if t == "documents":
            # a MULTI-row NULL group (15 docs) so it spans buckets and
            # windows, unlike a 1-row degenerate group
            mask = pc.and_(
                pc.greater_equal(tb.column("doc_id"), pa.scalar(11)),
                pc.less_equal(tb.column("doc_id"), pa.scalar(25)),
            )
            cols = {
                n: (
                    pc.if_else(mask, pa.nulls(len(tb), tb.column(n).type), tb.column(n))
                    if n == "source"
                    else tb.column(n)
                )
                for n in tb.column_names
            }
            tb = pa.table(cols)
        pq.write_table(tb, str(out / f"{t}.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def null_source_duck(null_source_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{null_source_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("key", NULL_SOURCE_KEYS)
def test_null_source_corpus_oracle_parity(
    spark, null_source_dir, null_source_duck, key
):
    from engine.registry import collect

    queries, oracles = collect()
    fn = getattr(queries[key], "__wrapped__", queries[key])
    sp = fn(spark, null_source_dir).toPandas()
    du = null_source_duck.sql(oracles[key]).df()
    assert_frames_match(sp, du, key)


# r13 UNICODE corpus (sixth axis, VERDICT r12 item 4): multibyte UTF-8,
# combining marks, astral-plane emoji/math chars, RTL scripts, Turkish
# dotted/dotless i, full-width forms, ZWJ sequences. Sweep of all 364
# keys: 360 PASS, 4 FAIL — multimodal_decode_pipeline (oracle summed raw
# code points, == byte sum only for ASCII; now maps each code point to
# its UTF-8 byte-sum arithmetically), text_normalize_stopwords (engine
# divergence pinned below, not masked), pipeline_dedup_cascade (the
# r13 NULL-source fix mid-edit, passes now) and scan_binary_files (the
# documented static-oracle exclusion).
UNICODE_KEYS = [
    "multimodal_decode_pipeline",  # UTF-8 byte-sum oracle fix (r13)
    "pipeline_dedup_cascade",
    # keep-green pins: char-vs-byte-sensitive text kernels
    "multimodal_frame_sample",     # char-offset frames both engines
    "text_token_counts",
    "text_fingerprint",
    "dedup_near_minhash",
    "text_chunk_overlap",
    "fn_string_core",
]

_UNI_DOCS = {
    30: "café café naïve NAÏVE résumé",
    31: "日本語テスト 中文分析 한국어 日本語テスト",
    32: "\U0001F600 \U0001F469‍\U0001F4BB \U0001F1FA\U0001F1F8 \U0001D518\U0001D52B\U0001D526",
    33: "مرحبا بالعالم שלום עולם",
    34: "İstanbul İstanbul istanbul ıstanbul",
    35: "ＨＥＬＬＯ ｗｏｒｌｄ tab\there",
    36: "á̂̃stack è́ combining̈marḱ zero​width",
    37: "ß sharp STRASSE straße ẞ",
    38: "\U0010FFFF edge � replacement   line sep",
    39: "日本語テスト 中文分析 한국어 日本語テスト",  # dup of 31
    40: "café café naïve NAÏVE résumé",              # dup of 30
}


@pytest.fixture(scope="module")
def unicode_dir(tmp_path_factory):
    import pyarrow as pa

    out = tmp_path_factory.mktemp("sg_unicode")
    for t in TABLES:
        tb = pq.read_table(f"{SF_DIR}/{t}.parquet")
        if t == "documents":
            df = tb.to_pandas()
            for did, txt in _UNI_DOCS.items():
                df.loc[df.doc_id == did, "text"] = txt
            tb = pa.Table.from_pandas(df, schema=tb.schema, preserve_index=False)
        pq.write_table(tb, str(out / f"{t}.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def unicode_duck(unicode_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{unicode_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("key", UNICODE_KEYS)
def test_unicode_corpus_oracle_parity(spark, unicode_dir, unicode_duck, key):
    from engine.registry import collect

    queries, oracles = collect()
    fn = getattr(queries[key], "__wrapped__", queries[key])
    sp = fn(spark, unicode_dir).toPandas()
    du = unicode_duck.sql(oracles[key]).df()
    assert_frames_match(sp, du, key)


def test_unicode_case_mapping_divergence_pinned(spark, unicode_dir, unicode_duck):
    """text_normalize_stopwords is EXCLUDED from unicode oracle parity BY
    DESIGN (the only lower()-output key the r13 sweep failed): Spark's
    lower() is Java's full Unicode case mapping — lower('İ') = 'i' +
    U+0307 combining dot (two code points) — while DuckDB's utf8proc
    simple mapping gives plain 'i'. Both are conformant; a user switching
    engines sees Spark's own documented behavior, same policy as the
    grouping-sets-on-empty divergence (docs/SCALE.md r12/r13). This test
    pins BOTH semantics so a silent change in either engine surfaces."""
    from engine.registry import collect

    queries, _ = collect()
    fn = getattr(
        queries["text_normalize_stopwords"],
        "__wrapped__",
        queries["text_normalize_stopwords"],
    )
    sp = {
        r["doc_id"]: r["normalized"]
        for r in fn(spark, unicode_dir).filter("doc_id = 34").collect()
    }
    assert sp[34] == "i̇stanbul i̇stanbul istanbul ıstanbul"
    du = unicode_duck.sql(
        "SELECT array_to_string(list_filter(string_split(lower(text), ' '),"
        " t -> length(t) > 1), ' ') AS n FROM documents WHERE doc_id = 34"
    ).fetchone()[0]
    assert du == "istanbul istanbul istanbul ıstanbul"


# r13 LONG-DOCUMENT corpus (seventh axis): heavy-tailed doc lengths are
# the real crawl shape (one multi-MB concatenated dump among normal
# docs). An engine-side sweep with a 1M-token / 5 MB doc found a whole
# QUADRATIC-in-doc-length class: per-index substring(text, i, k) scans
# from the string start every call (no O(1) char offsets on UTF8String),
# split(text) referenced inside a lambda re-tokenizes per element, and
# slice(arr, i, k) inside a lambda runs interpreted (no codegen in
# higher-order functions) and copies the WHOLE array per call — plus
# join-inferred isnotnull filters pushing BELOW the gram projection and
# re-inlining split() into the lambda (fixed with a persist barrier).
# Eight kernels hung or ground for minutes on ONE such doc; all now run
# the 1M-token corpus in seconds (docs/SCALE.md r13). r14 raised this
# fixture 5k -> 50k tokens by fixing the ORACLES' own quadratic class
# (the mirror of the engine's): string_split inside a list_transform
# lambda re-splits per element, substr(text, i, k) is an O(offset) scan
# in DuckDB too, and a lateral UNNEST over positions copies the whole
# token/char ARRAY into every generated row. The linear shapes —
# materialized bound arrays, a per-row code array, zip-unnest to rows +
# window leads for shingles — cut the worst oracles 172 s -> 3.6 s /
# 242 s -> 0.5 s / 63 s -> 7 s on the 50k fixture (measured, SCALE.md
# r14). The 1M-token corpus remains engine-timing evidence only.
LONG_DOC_KEYS = [
    "dedup_minhash_signature",   # element_at shingles, inner char fold
    "dedup_near_minhash",        # bound char-array 5-gram shingles
    "dedup_ngram_jaccard",       # persist barrier vs filter re-inline
    "text_containment",          # same kernel + persist barrier
    "text_fingerprint",          # bound code array, O(1) window folds
    "text_decontaminate",        # element_at shingles
    "text_chunk_overlap",        # struct-array explode, no toks copy
    "multimodal_frame_sample",   # struct-array explode, O(1) frame chars
    "multimodal_signal_energy",  # bound code array, O(1) frame folds
    "multimodal_decode_pipeline",  # 8dp + per-block round: ~1.6 GB envelope
    "dedup_simhash",             # char-array token hash
    "pipeline_dedup_cascade",    # composes the fixed minhash kernel
]


@pytest.fixture(scope="module")
def long_doc_dir(tmp_path_factory):
    import random

    import pyarrow as pa

    out = tmp_path_factory.mktemp("sg_longdoc")
    rng = random.Random(13)
    vocab = [f"w{i:03d}" for i in range(500)]
    long_text = " ".join(rng.choice(vocab) for _ in range(50_000))
    mid_text = " ".join(rng.choice(vocab) for _ in range(20_000))
    for t in TABLES:
        tb = pq.read_table(f"{SF_DIR}/{t}.parquet")
        if t == "documents":
            df = tb.to_pandas()
            df.loc[df.doc_id == 50, "text"] = long_text
            df.loc[df.doc_id == 51, "text"] = mid_text
            df.loc[df.doc_id == 52, "text"] = mid_text  # dup long pair
            tb = pa.Table.from_pandas(df, schema=tb.schema, preserve_index=False)
        pq.write_table(tb, str(out / f"{t}.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def long_doc_duck(long_doc_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{long_doc_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("key", LONG_DOC_KEYS)
def test_long_doc_corpus_oracle_parity(spark, long_doc_dir, long_doc_duck, key):
    from engine.registry import collect

    queries, oracles = collect()
    fn = getattr(queries[key], "__wrapped__", queries[key])
    sp = fn(spark, long_doc_dir).toPandas()
    if key not in oracles:
        assert len(sp) > 0  # ROWS-only key (xxhash64 banding)
        return
    du = long_doc_duck.sql(oracles[key]).df()
    assert_frames_match(sp, du, key)


# r13 RAGGED-EMBEDDING corpus (eighth axis): wrong-dimension vectors from
# failed/partial inference — the enrichment-corruption shape the
# NULL-embedding axis doesn't cover. Sweep of all 364 keys with dims
# 32/32/1 injected among 64s: 12 keys crashed (np.stack "all input arrays
# must have the same shape", reshape misalignment, ANSI element_at OOB)
# or died in the ORACLE (DuckDB list_inner_product rejects mismatched
# dims). Contract (engine.tables.vectors, extending the r12 NULL rule):
# a wrong-dim vector is un-embeddable in the corpus's vector space — the
# vector table IS the modal-dim subspace (ties to the smaller dim; one
# cached probe job per corpus; oracles carry the matching
# len(embedding) = <modal subquery> predicate, structurally BEFORE any
# list_dot_product so DuckDB cannot reorder the conjuncts into a crash).
RAGGED_EMB_KEYS = [
    "dedup_embedding_cosine",
    "dedup_semdedup",
    "emb_binary_quantize",
    "emb_cosine_histogram",
    "emb_kmeans_lloyd",
    "emb_pca_project",
    "emb_random_projection_jl",
    "sim_ann_ivf",
    "sim_ann_rp_lsh",
    "sim_eval_ndcg",
    "sim_knn_query",
    "sim_topk_pairs",
]


@pytest.fixture(scope="module")
def ragged_emb_dir(tmp_path_factory):
    import pyarrow as pa

    out = tmp_path_factory.mktemp("sg_ragged")
    for t in TABLES:
        tb = pq.read_table(f"{SF_DIR}/{t}.parquet")
        if t == "embeddings":
            df = tb.to_pandas()
            for vid, keep in ((11, 32), (12, 32), (13, 1)):
                df.loc[df.vec_id == vid, "embedding"] = df.loc[
                    df.vec_id == vid, "embedding"
                ].map(lambda v, k=keep: v[:k])
            tb = pa.Table.from_pandas(df, schema=tb.schema, preserve_index=False)
        pq.write_table(tb, str(out / f"{t}.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def ragged_emb_duck(ragged_emb_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{ragged_emb_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("key", RAGGED_EMB_KEYS)
def test_ragged_emb_corpus_oracle_parity(
    spark, ragged_emb_dir, ragged_emb_duck, key
):
    from engine.registry import collect

    queries, oracles = collect()
    fn = getattr(queries[key], "__wrapped__", queries[key])
    sp = fn(spark, ragged_emb_dir).toPandas()
    du = ragged_emb_duck.sql(oracles[key]).df()
    assert_frames_match(sp, du, key)

# r14 DUPLICATE/COLLIDING-ID corpus (ninth axis): a re-crawl or retried
# ingest batch delivers the same doc_id / vec_id / event_id / o_orderkey
# again with a DIFFERENT payload (recrawled text, re-embedded vector,
# corrected order) or an identical one (exact replay), plus doc_id↔vec_id
# misalignment (docs without vectors, vectors without docs). Sweep of all
# 364 keys on the sf0.01-derived corpus (scripts/dup_id_corpus.py): 12
# real findings, all fixed —
# - rep/entity keys that COLLIDE: emb_kmeans_lloyd's collapse rep
#   (min vec_id per distinct vector) and dedup_ngram_jaccard's collapse
#   rep (min doc_id per distinct text) each fanned every rep-keyed join;
# - joins that fan out on a no-longer-unique key: emb_pca_project's
#   Bessel-check join (now a joinless single pass);
# - oracles that GROUP BY a colliding id: emb_binary_quantize /
#   emb_random_projection_jl (merged two vectors' bits/terms — now
#   per-row list folds), multimodal_signal_energy (now rid-keyed);
# - defensive dedupes keyed on an id: join_range_binned's
#   dropDuplicates(s_suppkey, bucket) dropped a collided supplier's rows;
# - tie-breaks that stopped being total: etl_ohlc_resample (ts, event_id),
#   sample_negative_pairs (h, neg_id), text_pack_sequences (doc_id) — each
#   extended with payload columns on both sides;
# - arithmetic that modeled key<>key as "the diagonal": join_interval's
#   self-pair subtraction is now an exact (key, date)-level term;
# - pipeline_dedup_cascade: the oracle's min(doc_id)-per-hash keeper +
#   USING(doc_id) join and manifest LEFT JOINs all fanned out under a
#   colliding id — both sides rewritten to row-identity semantics (one
#   survivor per distinct text, keeper = min (doc_id, source); the near
#   stage keys on a struct row id; the manifest counts per source
#   directly, IS NOT DISTINCT FROM / eqNullSafe on both sides).
# stream_watermark_dedup is pinned as an engine-semantics divergence (the
# property test below), and scan_binary_files is the documented
# static-oracle exclusion.
DUP_ID_KEYS = [
    "dedup_ngram_jaccard",
    "emb_binary_quantize",
    "emb_kmeans_lloyd",
    "emb_pca_project",
    "emb_random_projection_jl",
    "etl_ohlc_resample",
    "join_interval",
    "join_range_binned",
    "multimodal_signal_energy",
    "pipeline_dedup_cascade",
    "sample_negative_pairs",
    "text_pack_sequences",
    # keep-green pins: keeper contracts + id joins that already survive
    "dedup_exact",
    "dedup_key_latest",
    "multimodal_join",
    "join_asof",
    "dedup_semdedup",
]


@pytest.fixture(scope="module")
def dup_id_dir(tmp_path_factory):
    from scripts.dup_id_corpus import build

    # sf0.01-derived: EXACTLY the corpus the r14 sweep ran (SF_DIR_MID),
    # so these pins re-execute the swept evidence
    from tests.conftest import SF_DIR_MID

    out = tmp_path_factory.mktemp("sg_dupid")
    return build(str(out), SF_DIR_MID)


@pytest.fixture(scope="module")
def dup_id_duck(dup_id_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{dup_id_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("key", DUP_ID_KEYS)
def test_dup_id_corpus_oracle_parity(spark, dup_id_dir, dup_id_duck, key):
    from engine.registry import collect

    queries, oracles = collect()
    fn = getattr(queries[key], "__wrapped__", queries[key])
    sp = fn(spark, dup_id_dir).toPandas()
    du = dup_id_duck.sql(oracles[key]).df()
    assert_frames_match(sp, du, key)


def test_dup_id_watermark_dedup_divergence_pinned(spark, dup_id_dir, dup_id_duck):
    """stream_watermark_dedup is EXCLUDED from dup-id oracle parity BY
    DESIGN, not masked: its FULL oracle is the identity projection, valid
    under its documented unique-event_id precondition. On colliding ids
    the ENGINE's dedup is the correct behavior — but Spark's
    dropDuplicatesWithinWatermark keeps whichever colliding row its
    partition order surfaces first, so the survivor's PAYLOAD is
    arrival-order-dependent by Spark's own contract and no deterministic
    SQL oracle can name it. Pinned properties instead: exactly one row
    per event_id, and every survivor's payload is one of that id's
    candidate payloads."""
    from engine.registry import collect

    queries, _ = collect()
    fn = getattr(
        queries["stream_watermark_dedup"],
        "__wrapped__",
        queries["stream_watermark_dedup"],
    )
    sp = fn(spark, dup_id_dir).toPandas()
    du = dup_id_duck.sql(
        "SELECT event_id, user_id, event_type FROM events"
    ).df()
    n_ids = dup_id_duck.sql(
        "SELECT count(DISTINCT event_id) FROM events"
    ).fetchone()[0]
    assert len(sp) == n_ids  # exactly one survivor per id
    assert sp.event_id.is_unique
    cand = {
        (int(r.event_id), int(r.user_id), r.event_type)
        for r in du.itertuples()
    }
    got = {
        (int(r.event_id), int(r.user_id), r.event_type)
        for r in sp.itertuples()
    }
    assert got <= cand  # every survivor is a real payload of its id

# r14 ADVERSARIAL-TIMESTAMP corpus (tenth axis): pre-1970 epochs, a
# year-9999 "never expires" sentinel (plus one exact-max-timestamp row),
# identical-microsecond tie bursts, and boundary-exact stamps (epoch zero,
# month/week/hour seams) through the window / streaming / as-of / session /
# resample families — the only column family no prior axis had touched.
# Sweep of all 364 keys on the sf0.01-derived corpus
# (scripts/adv_ts_corpus.py): 7 findings, all fixed —
# - etl_gap_fill_interpolate: the unconditional min..max hourly grid built
#   a ~70M-element sequence() array in ONE task off the year-9999 sentinel
#   and OOM'd the executor; both sides now carry a 720-hour fill limit
#   (gaps wider than the limit are discontinuities — no synthesis).
# - fn_ulid_sortable_id: 14 hex digits of epoch-µs overflow at year ~4253
#   and Spark's lpad silently TRUNCATED; pre-1970 two's-complement hex
#   sorted after every positive epoch. Now 16 digits of sign-bit-flipped
#   µs (the standard order-preserving int64 key encoding) on both sides.
# - stream_stateful_counter / stream_event_time_timeout: grouped rows
#   cross the applyInPandasWithState boundary as datetime64[ns], which
#   cannot hold a beyond-2262 stamp — the Arrow conversion killed the
#   task. Counter now projects to the key before the boundary; the
#   timeout key clamps event time into [_TS_FLOOR, _TS_HORIZON] at
#   ingest (oracle mirrored).
# - stream_watermark_dedup: Structured Streaming's initial watermark is
#   epoch ZERO with a strict late filter — the 5 pre-1970 rows and the
#   exactly-epoch row were silently dropped from the first batch. Same
#   clamp guard; the year-9999 sentinel also can no longer poison the
#   watermark (evicting all dedup state) on a multi-batch replay.
# - harness: pandas' ns epoch caps at 2262, so far-future RESULTS cannot
#   be collected as datetime64 at all — scripts/driver_sim.collect_pdf
#   falls back to Spark-side canonical stringification (etl_compact_
#   small_files, win_concurrency_sweep were collection-only failures).
# scan_binary_files remains the documented static-oracle exclusion.
ADV_TS_KEYS = [
    "etl_gap_fill_interpolate",
    "fn_ulid_sortable_id",
    "stream_stateful_counter",
    "stream_event_time_timeout",
    "stream_watermark_dedup",
    "etl_compact_small_files",
    "win_concurrency_sweep",
    # keep-green pins across the timestamp families
    "etl_ohlc_resample",
    "join_asof",
    "stream_tumbling_1h",
    "stream_late_data",
    "stream_session_30m",
    "etl_sessionize_path",
    "win_time_weighted_avg",
    "win_ewma_smoothing",
    "win_gaps_islands",
    "agg_hour_dow_heatmap",
    "fn_date_core",
    "fn_unix_epoch",
    "etl_scd2_intervals",
    "fn_timestamp_multiformat_parse",
]


@pytest.fixture(scope="module")
def adv_ts_dir(tmp_path_factory):
    from scripts.adv_ts_corpus import build
    from tests.conftest import SF_DIR_MID

    # sf0.01-derived: EXACTLY the corpus the r14 sweep ran, so these pins
    # re-execute the swept evidence
    out = tmp_path_factory.mktemp("sg_advts")
    return build(str(out), SF_DIR_MID)


@pytest.fixture(scope="module")
def adv_ts_duck(adv_ts_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{adv_ts_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("key", ADV_TS_KEYS)
def test_adv_ts_corpus_oracle_parity(spark, adv_ts_dir, adv_ts_duck, key):
    from engine.registry import collect
    from scripts.driver_sim import collect_pdf

    queries, oracles = collect()
    fn = getattr(queries[key], "__wrapped__", queries[key])
    # collect_pdf, not toPandas: far-future result stamps exceed pandas'
    # ns range and need the Spark-side stringification fallback
    sp = collect_pdf(fn(spark, adv_ts_dir))
    du = adv_ts_duck.sql(oracles[key]).df()
    assert_frames_match(sp, du, key)


def test_adv_ts_ulid_order_covers_extremes(spark, adv_ts_dir):
    """The sign-bit-flip prefix encoding is exactly order-preserving over
    pre-1970, epoch-zero, modern, and year-9999 stamps."""
    from engine.registry import collect

    queries, _ = collect()
    fn = getattr(
        queries["fn_ulid_sortable_id"], "__wrapped__",
        queries["fn_ulid_sortable_id"],
    )
    sp = fn(spark, adv_ts_dir).select("event_id", "sid").toPandas()
    con = duckdb.connect()  # hold the ref: a chained connect().sql() can
    ts = (  # close the connection before the lazy relation materializes
        con.sql(
            "SELECT event_id, epoch_us(ts) AS us FROM "
            f"'{adv_ts_dir}/events.parquet'"
        )
        .df()
        .set_index("event_id")["us"]
    )
    con.close()
    sp = sp.sort_values("sid")
    order = [int(ts[e]) for e in sp.event_id]
    assert order == sorted(order)
    assert sp.sid.str.len().nunique() == 1  # constant width, no truncation
