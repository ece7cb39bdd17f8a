"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The corpus has no image/audio files, so the binary payloads here are the
UTF-8 bytes of each document (deterministic, driver-provided data only — we
never synthesize external inputs). The POINT is the Spark-side plumbing a
100 TB multimodal pipeline needs, and that part is real and tested:

- binary columns (`BinaryType`) with a typed metadata struct carried beside
  the payload (mime, n_bytes, checksum);
- Arrow-batched decode / feature-extract via ``mapInPandas`` with a stable
  output schema (`array<float>` features), the exact shape a real
  image-decode (PIL/torchvision) or audio-decode (soundfile) UDF drops into;
- the real decoders are gated behind try-imports and raise a clearly-marked
  NotImplementedError in this container (libs absent); a deterministic fake
  decode (byte-block means, "4×4 thumbnail") keeps the pipeline executable
  and testable end-to-end.

Scale notes (100 TB): payloads stay in the row as binary — never collected,
never exploded; metadata-only queries prune the payload column entirely at
the parquet scan (column pruning), which is the reason metadata lives in
separate scalar columns instead of inside the blob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.registry import query
from engine.tables import load

THUMB = 4  # fake "thumbnail" is a 4×4 grid of byte-block means


def binary_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, payload binary, meta struct<mime,n_bytes,md5>)."""
    d = load(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    return d.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("text/plain;fake-image").alias("mime"),
            F.octet_length(payload).alias("n_bytes"),
            F.md5(payload).alias("checksum"),
        ).alias("meta"),
    )


@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS checksum,
           'text/plain;fake-image' AS mime
    FROM documents
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata projection over the binary table: byte length + MD5 checksum
    + mime. The payload column is pruned out of the parquet scan (only
    metadata is touched) — the access pattern that keeps metadata queries
    cheap when payloads are megabytes each."""
    b = binary_table(spark, sf_dir)
    return b.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.checksum").alias("checksum"),
        F.col("meta.mime").alias("mime"),
    )


def _decode_real(payload: bytes) -> "object":
    """Real decoder — unavailable in this container (no image/audio libs)."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "real image decode needs PIL/pillow, absent in this container; "
            "the deterministic fake path (_decode_fake) exercises the same "
            "Spark plumbing"
        ) from exc
    raise NotImplementedError("wire Image.open(BytesIO(payload)) here")


def _decode_fake(buf: "bytes", n_cells: int) -> "list[float]":
    """Deterministic fake decode: split the payload into n_cells byte blocks
    and emit each block's mean — a stand-in 'thumbnail' with fixed shape."""
    import numpy as np

    a = np.frombuffer(buf, dtype=np.uint8).astype(np.float64)
    if len(a) == 0:
        return [0.0] * n_cells
    pads = (-len(a)) % n_cells
    a = np.pad(a, (0, pads), constant_values=0)
    # 8 dp (r13): 4 dp capped the integer-exact byte_sum reconstruction at
    # ~10 KB payloads; 8 dp + per-block rounding extends it to ~1.6 GB
    return np.round(a.reshape(n_cells, -1).mean(axis=1), 8).tolist()


def _decode_batches(batches):
    import pandas as pd

    for pb in batches:
        # a NULL payload (NULL source text / failed fetch) decodes to
        # NULL metadata + NULL features — the downstream byte_sum
        # arithmetic NULL-propagates exactly like the oracle's
        feats = [
            None
            if buf is None
            else ",".join(f"{v:.8f}" for v in _decode_fake(buf, THUMB * THUMB))
            for buf in pb["payload"]
        ]
        yield pd.DataFrame(
            {
                "doc_id": pb["doc_id"],
                "width": THUMB,
                "height": THUMB,
                "n_bytes": [None if buf is None else len(buf) for buf in pb["payload"]],
                "features": feats,
            }
        )


def decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode / feature-extract over binary payloads with ``mapInPandas``:
    each Arrow batch of (doc_id, payload, meta) rows yields (doc_id, width,
    height, n_bytes, features) — the real-decoder signature, minus the
    absent codec libs (see _decode_real). Feature = 4×4 byte-block-mean
    'thumbnail', deterministic. The feature vector is emitted as a
    fixed-format CSV string, not array<float>: the driver's canonicalizer
    sorts result columns with pandas, which cannot order array cells
    (scalar-columns-only output convention)."""
    b = binary_table(spark, sf_dir)
    return b.mapInPandas(
        _decode_batches, "doc_id long, width int, height int, n_bytes long, features string"
    )


@query(
    "multimodal_decode_pipeline",
    # FULL oracle (r06 graduation from ROWS-only, the r04 self-validating
    # pattern): the decoded features are pinned per doc by an INTEGER-exact
    # reconstruction — Σ(block means) × block_len equals the payload's
    # total byte sum, which DuckDB recomputes independently from the text's
    # code points. r13 unicode hardening: the old oracle summed raw code
    # points (== byte sum only for ASCII); it now maps each code point to
    # the sum of its UTF-8 encoding bytes arithmetically (1-4 byte forms),
    # so the parity check survives multibyte corpora. A regression anywhere
    # in the decode (batching, padding, block split, mean) shifts byte_sum
    # and hash-mismatches. Full 16-cell feature vectors stay covered by
    # tests/test_trainops.py against decode_features().
    oracle=f"""
    SELECT doc_id,
           {THUMB} AS width, {THUMB} AS height,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           -- empty-text guard (ADVICE r06): DuckDB's split('', '') yields
           -- [''] and unicode('') = -1, which would score an empty doc as
           -- -1 while the engine emits 0; no current corpus has empty
           -- texts, but a regenerated one must not break the attestation
           CAST(CASE WHEN length(text) = 0 THEN 0
                ELSE list_sum(list_transform(split(text, ''), c ->
                  CASE WHEN unicode(c) < 128 THEN unicode(c)
                       WHEN unicode(c) < 2048 THEN
                         320 + (unicode(c) // 64) + (unicode(c) % 64)
                       WHEN unicode(c) < 65536 THEN
                         480 + (unicode(c) // 4096)
                             + ((unicode(c) // 64) % 64) + (unicode(c) % 64)
                       ELSE
                         624 + (unicode(c) // 262144)
                             + ((unicode(c) // 4096) % 64)
                             + ((unicode(c) // 64) % 64) + (unicode(c) % 64)
                  END))
                END AS BIGINT) AS byte_sum
    FROM documents
    """,
)
def multimodal_decode_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-validating per-doc summary over the decode pipeline (see
    decode_features for the mapInPandas decode itself): the 16 decoded
    block means are parsed back from the CSV JVM-side and folded into the
    payload's reconstructed byte total — Σ round(feature × block_len),
    integer-exact because each block's 8-decimal mean bounds the
    per-block error by 5e-9·block_len < 0.5, i.e. block_len < 1e8 ⇔
    payloads under ~1.6 GB (r13: the old Σ-then-round at 4 dp capped at
    ~10 KB, which the long-document rehearsal corpus exceeds). A payload
    PAST the envelope still raises loudly instead of silently drifting
    the reconstruction off by one and hash-mismatching the oracle."""
    d = decode_features(spark, sf_dir)
    block_len = F.ceil(F.col("n_bytes") / F.lit(THUMB * THUMB)).cast("long")
    # Per-BLOCK rounding (r13): each block's true byte sum is an integer
    # S_i and its 8-dp mean satisfies |m_i·L − S_i| ≤ 5e-9·L, so
    # round(m_i·L) = S_i exactly while L < 1e8 — payloads to ~1.6 GB
    # (the old Σ-then-round at 4 dp capped out at ~10 KB, which a
    # long-document corpus exceeds routinely).
    blocks_sum = F.aggregate(
        F.transform(F.split("features", ","), lambda s: s.cast("double")),
        F.lit(0).cast("long"),
        lambda a, x: a
        + F.round(x * block_len.cast("double")).cast("long"),
    )
    byte_sum = F.when(
        block_len > 100_000_000,
        F.raise_error(
            F.concat(
                F.lit(
                    "multimodal_decode_pipeline: payload exceeds the "
                    "integer-exact reconstruction envelope (~1.6 GB) for doc_id "
                ),
                F.col("doc_id").cast("string"),
            )
        ).cast("long"),
    ).otherwise(blocks_sum)
    return d.select(
        "doc_id",
        "width",
        "height",
        "n_bytes",
        byte_sum.alias("byte_sum"),
    ).orderBy("doc_id")


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(s / 4 AS BIGINT) AS frame_idx,
           CAST(s * 16 AS BIGINT) AS byte_offset,
           md5(substring(text, s * 16 + 1, 16)) AS frame_md5
    FROM (SELECT doc_id, text, length(text) // 16 AS n_frames FROM documents),
         unnest(generate_series(0, n_frames - 1, 4)) AS u(s)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over a binary payload: fixed 16-byte 'frames', keep
    every 4th — the video-keyframe-extraction shape (stride sampling by
    offset arithmetic, never decoding the whole payload). The corpus payload
    is the UTF-8 text bytes (ASCII ⇒ byte offset = char offset), so the
    sampled frame content is oracle-checkable via md5. A real codec would
    replace the substring with a mapInPandas decode at the SAME offsets —
    the partitioning/explode plumbing is identical
    (multimodal_decode_pipeline has that half)."""
    d = load(spark, sf_dir, "documents")
    n_frames = F.floor(F.length("text") / 16)
    # when-guard: a sub-16-byte payload has no frames — sequence(0, -1, 4)
    # is an "illegal boundaries" ERROR in Spark (explicit step), where the
    # oracle's generate_series(0, -1, 4) is just empty (r12 short-payload
    # hardening); NULL payloads already explode to nothing on both engines.
    # r13 long-doc fix: the old shape exploded frame indices FIRST and
    # substring'd the text per frame row — substring(text, s*16+1, ..) is
    # an O(offset) scan (O(len²/16) per doc) AND the full text column was
    # copied into every generated row. The frames are now built as a
    # per-doc struct array over a bound char array (slice is O(16)), and
    # only the small (s, md5) structs are exploded.
    # frame chars via O(1) access, not slice() — slice inside a lambda
    # runs interpreted and copies the whole char array per frame; indices
    # s*16 .. s*16+15 are in bounds by nf = floor(len/16)
    frames = F.expr(
        "transform(frame_starts, s -> struct(s AS s,"
        " md5(cast(concat_ws('', transform(sequence(s * 16, s * 16 + 15),"
        " j -> chs[j])) as binary)) AS frame_md5))"
    )
    d = d.select(
        "doc_id",
        F.split("text", "").alias("chs"),
        F.when(
            n_frames >= 1,
            F.sequence(F.lit(0), (n_frames - 1).cast("int"), F.lit(4)),
        )
        .otherwise(F.array().cast("array<int>"))
        .alias("frame_starts"),
    ).select("doc_id", F.explode(frames).alias("fr"))
    return d.select(
        "doc_id",
        (F.col("fr.s") / 4).cast("long").alias("frame_idx"),
        (F.col("fr.s") * 16).cast("long").alias("byte_offset"),
        F.col("fr.frame_md5").alias("frame_md5"),
    )
