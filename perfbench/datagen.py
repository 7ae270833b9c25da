"""Seeded generator for the benchmark's input tables.

Writes the ten fixture tables the engine reads (``region`` ...
``embeddings``, schemas as in FIXTURES.md) as parquet under one
directory. The value domains follow the repository's sf0.1 fixture:
the same categorical vocabularies (segments, priorities, flags, event
types, languages, sources), the same date ranges, and row counts that
scale with ``sf`` (sf=0.1 gives ~600k lineitem rows). The same
``(seed, sf, files)`` always produces byte-identical tables.

``files`` > 1 writes each fact table (orders, lineitem, events,
documents, embeddings) as a directory of that many part files, so a
Spark scan splits into ``files`` tasks; dimension tables stay single
files.

The benchmark makes its inputs here rather than reading a fixture
directory because it must run from a bare checkout and read nothing
outside it; the seed then also varies the data, not only the
statements. Generating sf0.01 takes about 0.15 s.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "green")
P_NOUN = ("ring", "bolt", "plate", "nut", "gear", "pipe", "valve", "screw")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "join vector customer the of and to in is on"
).split()
EMB_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _us(date: str) -> int:
    return int((np.datetime64(date, "us") - _EPOCH).astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    # microsecond timestamps without a zone annotation, like the fixture
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], type=pa.string())


def _documents(rng: np.random.Generator, n: int) -> dict:
    vocab = np.asarray(WORDS, dtype=object)
    lens = rng.integers(8, 90, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # exact duplicates and near-duplicates for the dedup operators
    n_dup = max(1, n // 600)
    src = rng.choice(n, size=2 * n_dup, replace=False)
    for a, b in zip(src[:n_dup], src[n_dup:]):
        texts[b] = texts[a]
    near = rng.choice(n, size=2 * n_dup, replace=False)
    for a, b in zip(near[:n_dup], near[n_dup:]):
        toks = texts[a].split()
        toks[len(toks) // 2] = str(vocab[rng.integers(0, len(vocab))])
        texts[b] = " ".join(toks)
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": pa.array(texts, type=pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % N_SOURCES}" for i in ids], type=pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), type=pa.float32())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32)), flat
    )
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": labels}


def generate(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, from one seeded RNG."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": pa.array(REGIONS, type=pa.string()),
    }
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = {
        "n_nationkey": nk,
        "n_name": pa.array([f"NATION_{i}" for i in nk], type=pa.string()),
        "n_regionkey": (nk % 5).astype(np.int32),
    }
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = {
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck], type=pa.string()),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    }
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = {
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk], type=pa.string()),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    t["part"] = {
        "p_partkey": pk,
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array(
            [f"Brand#{i}" for i in rng.integers(1, 26, n_part)], type=pa.string()
        ),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    }
    ok = np.arange(n_ord, dtype=np.int64)
    d0, d1 = _us("1995-01-01") // _DAY_US, _us("2001-08-01") // _DAY_US
    t["orders"] = {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_ord) * _DAY_US),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    }
    per_order = np.clip(rng.binomial(12, 1 / 3, n_ord), 1, 12)
    n_li = int(per_order.sum())
    l_ok = np.repeat(ok, per_order)
    starts = np.cumsum(per_order) - per_order
    l_no = (np.arange(n_li) - np.repeat(starts, per_order) + 1).astype(np.int32)
    perm = rng.permutation(n_li)
    s0, s1 = _us("1995-01-02") // _DAY_US, _us("2001-11-04") // _DAY_US
    t["lineitem"] = {
        "l_orderkey": l_ok[perm],
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": l_no[perm],
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _ts(rng.integers(s0, s1 + 1, n_li) * _DAY_US),
    }
    e0 = _us("2024-01-01")
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(rng.integers(e0, e0 + 30 * _DAY_US, n_ev))),
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], type=pa.string()
        ),
    }
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return {name: pa.table(cols) for name, cols in t.items()}


FACTS = ("orders", "lineitem", "events", "documents", "embeddings")
TABLES = ("region", "nation", "customer", "supplier", "part") + FACTS


def write(tables: dict[str, pa.Table], out_dir: str, files: int = 1) -> None:
    """Write ``tables`` as ``<out_dir>/<name>.parquet`` (a directory of
    ``files`` part files for fact tables when ``files`` > 1)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if files <= 1 or name not in FACTS:
            pq.write_table(tbl, path)
            continue
        os.makedirs(path, exist_ok=True)
        step = -(-tbl.num_rows // files)
        for i in range(files):
            pq.write_table(
                tbl.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet")
            )


def parquet_glob(sf_dir: str, name: str) -> str:
    """The DuckDB ``read_parquet`` pattern for one written table."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path
