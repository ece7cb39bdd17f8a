"""Deterministic synthetic corpus for the benchmark.

The benchmark reads and writes only inside its checkout, so it cannot use a
pre-built corpus from elsewhere on the host. This module writes the ten
parquet tables the engine reads (TPC-H-style star schema plus ``events``,
``documents`` and ``embeddings``) with the schemas, value domains and row
counts documented in FIXTURES.md, from a fixed generator seed. The same
scale factor always yields byte-identical tables, so every run and every
commit measures the same data.

Sizes at sf0.1: lineitem 600k, orders 150k, part 20k, customer 15k,
supplier 1k, events 100k, documents 5k, embeddings 2k x 64. At sf0.01 and
sf0.001 the relational tables and events shrink tenfold per step while
documents and embeddings stay at 500 rows, as in FIXTURES.md.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 42
# Bump when the generated bytes change, so a cached corpus is rebuilt.
VERSION = "1"

# Row counts per scale factor, as in FIXTURES.md.
SIZES: dict[str, dict[str, int]] = {
    "0.1": {
        "customer": 15_000, "supplier": 1_000, "part": 20_000,
        "orders": 150_000, "lineitem": 600_000, "events": 100_000,
        "users": 1_500, "documents": 5_000, "embeddings": 2_000,
    },
    "0.01": {
        "customer": 1_500, "supplier": 100, "part": 2_000,
        "orders": 15_000, "lineitem": 60_000, "events": 10_000,
        "users": 150, "documents": 500, "embeddings": 500,
    },
    "0.001": {
        "customer": 150, "supplier": 10, "part": 200,
        "orders": 1_500, "lineitem": 6_000, "events": 1_000,
        "users": 15, "documents": 500, "embeddings": 500,
    },
}

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PART_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
_PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
_PART_TYPES = ["ECONOMY", "MEDIUM", "SMALL", "PROMO", "STANDARD", "LARGE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(lo: dt.date, hi: dt.date, n: int, rng: np.random.Generator) -> pa.Array:
    """n midnight timestamps (microsecond unit) uniform in [lo, hi]."""
    base = np.datetime64(lo, "D")
    span = (hi - lo).days + 1
    d = base + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _money(lo: float, hi: float, n: int, rng: np.random.Generator) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(n: int, rng: np.random.Generator) -> dict:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(_VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    # Planted near-duplicates (a base text plus k trailing " dup" tokens)
    # for the near-dup operators, and a few exact duplicates for dedup_exact.
    n_near = max(2, n // 20)
    bases = rng.choice(n, size=n_near, replace=False)
    targets = rng.permutation(np.setdiff1d(np.arange(n), bases))
    ti = 0
    for b in bases:
        for k in range(1, int(rng.integers(1, 4)) + 1):
            if ti >= len(targets):
                break
            texts[targets[ti]] = texts[b] + " dup" * k
            ti += 1
    for _ in range(max(1, n // 600)):
        if ti >= len(targets):
            break
        texts[targets[ti]] = texts[int(rng.integers(0, n))]
        ti += 1
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(_LANGS, size=n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def build_tables(sf: str) -> dict[str, pa.Table]:
    """Build every table of the corpus at scale factor ``sf`` in memory."""
    n = SIZES[sf]
    rng = np.random.default_rng(GENERATOR_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(-999.99, 9999.99, nc, rng),
        "c_mktsegment": rng.choice(_SEGMENTS, size=nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(-999.99, 9999.99, ns, rng),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_PART_TYPES, size=npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=no),
        "o_totalprice": _money(1000.0, 500000.0, no, rng),
        "o_orderdate": _days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), no, rng),
        "o_orderpriority": rng.choice(_PRIORITIES, size=no),
    })
    nl = n["lineitem"]
    okey = rng.integers(0, no, nl).astype(np.int64)
    # line number = 1-based rank of the row within its order
    order = np.argsort(okey, kind="stable")
    sk = okey[order]
    starts = np.r_[0, np.flatnonzero(sk[1:] != sk[:-1]) + 1]
    rank = np.arange(nl) - np.repeat(starts, np.diff(np.r_[starts, nl]))
    linenumber = np.empty(nl, dtype=np.int32)
    linenumber[order] = rank + 1
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(900.0, 105000.0, nl, rng),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], size=nl),
        "l_linestatus": rng.choice(["F", "O"], size=nl),
        "l_shipdate": _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl, rng),
    })
    ne = n["events"]
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne)) + np.datetime64("2024-01-01", "us")
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, size=ne),
        "value": np.round(rng.gamma(2.0, 40.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = pa.table(_documents(n["documents"], rng))
    nv = n["embeddings"]
    emb = rng.standard_normal((nv, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return t


def ensure(root: str, sf: str) -> str:
    """Return the directory of the corpus at ``sf`` under ``root``, writing
    it first if it is missing or was written by another VERSION. The write
    goes to a temporary sibling that is renamed into place, so a reader never
    sees a half-written corpus."""
    out = os.path.join(root, f"corpus-sf{sf}-v{VERSION}")
    if os.path.isdir(out):
        return out
    os.makedirs(root, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, out)
    except OSError:
        # another process renamed its copy first; theirs is identical
        shutil.rmtree(tmp, ignore_errors=True)
    return out
