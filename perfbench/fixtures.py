"""Synthetic sf0.1 fixture tables in the layout ``sparketl.io`` loads.

One parquet file per table, with the schemas of the test fixtures
(FIXTURES.md) and value domains profiled from the sf0.1 set: uniform
TPC-H-ish keys and dates, a 30-day event stream, a 30-word document
vocabulary with planted duplicates, and unit-norm 64-d embeddings. The
tables are a pure function of ``data_seed``, so the oracle fingerprints
computed over them can be cached per checkout.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generator changes: the cache key of every derived file.
GENERATOR_VERSION = 1
DATA_SEED = 42  # the tables are fixed; a run's --seed drives only its op streams

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

SF01 = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(values)).cast(
        pa.string()
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int)) + 1
    d = lo + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def build_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = SF01
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
            "p_name": _pick(rng, names, npart),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], npart),
            "p_type": _pick(rng, P_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        }
    )
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, ne))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(start + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 1500, ne, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(VOCAB, size=int(k)))
        for k in rng.integers(10, 101, nd)
    ]
    # planted duplicates: a few exact copies and ~5% near-copies with a
    # "dup" marker, so dedup and near-dup operators have work to find
    for i in rng.choice(nd, size=8, replace=False):
        texts[i] = texts[(i + 1) % nd]
    for i in rng.choice(nd, size=nd // 20, replace=False):
        texts[i] = texts[(i + 7) % nd] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
            "text": texts,
            "lang": _pick(rng, LANGS, nd, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 0.5, (10, 64))
    x = rng.normal(0.0, 1.0, (nv, 64)) + centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return out


def fixture_key(data_seed: int) -> str:
    return hashlib.sha256(f"v{GENERATOR_VERSION}:{data_seed}".encode()).hexdigest()[:12]


def ensure_fixtures(cache_dir: str, data_seed: int) -> str:
    """Write the tables once under ``cache_dir`` and return their
    directory; later calls with the same seed reuse them."""
    out = os.path.join(cache_dir, f"sf0.1-{fixture_key(data_seed)}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in build_tables(data_seed).items():
        tmp = os.path.join(out, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, compression="snappy", row_group_size=1 << 22)
        os.replace(tmp, os.path.join(out, f"{name}.parquet"))
    with open(done, "w", encoding="utf-8") as f:
        f.write("ok\n")
    return out
