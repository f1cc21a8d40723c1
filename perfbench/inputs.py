"""Seeded benchmark inputs, cached per seed behind a ``_SUCCESS`` marker.

Everything here is a pure function of the seed: the same seed writes the
same rows. A directory without its marker is treated as absent and
rebuilt, so an interrupted run never feeds a half-written input to a
later one (the rule ``bench.py`` follows for its pages table).

* ``catalog_tables`` writes the ten tables ``queries.REGISTRY`` reads, in
  the layout of the sf test data (one parquet file per table), at the
  smallest scale the catalog is attested at (500 documents, 6,000
  lineitems). Value domains follow that data: the same vocabularies,
  key ranges and a 5% share of planted ``<doc> dup`` near-duplicates.
* ``benchmark_items`` builds the decontamination eval set for ``curate``
  from the extracted text of a seeded sample of documents.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MARKER = "_SUCCESS"

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
SEGMENTS = ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["cold", "small", "large", "blue", "old", "new", "hot", "red"]
NOUN = ["widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate", "gear"]
P_TYPES = ["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# rows per table; nation and region are fixed-size dimensions
CATALOG_ROWS = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1_500,
    "lineitem": 6_000, "events": 1_000, "documents": 500, "embeddings": 500,
}
EMBED_DIM = 64


def is_complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, MARKER))


def mark_complete(path: str) -> None:
    with open(os.path.join(path, MARKER), "w"):
        pass


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    # planted near-duplicates: another document's text plus one token
    for i in np.flatnonzero(rng.random(n) < 0.05):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.normal(0.0, 1.0, (n, EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * EMBED_DIM, EMBED_DIM, dtype=np.int32)),
        pa.array(x.ravel()),
    )
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def catalog_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0xCA7])
    r = CATALOG_ROWS
    n_users = max(1, r["events"] // 65)
    cust = np.arange(r["customer"], dtype=np.int64)
    supp = np.arange(r["supplier"], dtype=np.int64)
    part = np.arange(r["part"], dtype=np.int64)
    orders = np.arange(r["orders"], dtype=np.int64)
    n_li, n_ev = r["lineitem"], r["events"]
    ev_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86_400 * 10**6, n_ev).astype("timedelta64[us]")
    )
    return {
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pa.table({
            "c_custkey": cust,
            "c_name": [f"Customer#{i:09d}" for i in cust],
            "c_nationkey": rng.integers(0, 25, len(cust)).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, len(cust)),
            "c_mktsegment": rng.choice(SEGMENTS, len(cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": supp,
            "s_name": [f"Supplier#{i:09d}" for i in supp],
            "s_nationkey": rng.integers(0, 25, len(supp)).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, len(supp)),
        }),
        "part": pa.table({
            "p_partkey": part,
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, len(part)), rng.choice(NOUN, len(part)))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(part))],
            "p_type": rng.choice(P_TYPES, len(part)),
            "p_size": rng.integers(1, 51, len(part)).astype(np.int32),
            "p_retailprice": np.round(900.0 + (part % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": orders,
            "o_custkey": rng.integers(0, len(cust), len(orders)),
            "o_orderstatus": rng.choice(["O", "F", "P"], len(orders)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, len(orders)),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), len(orders)),
            "o_orderpriority": rng.choice(PRIORITIES, len(orders)),
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, len(orders), n_li),
            "l_partkey": rng.integers(0, len(part), n_li),
            "l_suppkey": rng.integers(0, len(supp), n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["N", "R", "A"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
        }),
        "events": pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ev_ts,
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, r["documents"]),
        "embeddings": _embeddings(rng, r["embeddings"]),
    }


def write_catalog_tables(path: str, seed: int) -> None:
    fresh_dir(path)
    for name, table in catalog_tables(seed).items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
    mark_complete(path)


def benchmark_items(texts: list[str], seed: int, n_items: int, words: int = 30) -> list[tuple[int, str]]:
    """``(bench_id, text)`` eval items: a ``words``-token window cut from
    each of ``n_items`` seeded documents, so every item shares its 13-grams
    with the document it came from (and with that document's near-dups)."""
    rng = np.random.default_rng([seed, 0xBE7C])
    usable = [t for t in texts if len(t.split()) >= words]
    picks = rng.choice(len(usable), min(n_items, len(usable)), replace=False)
    items = []
    for k, i in enumerate(sorted(picks)):
        toks = usable[i].split()
        start = int(rng.integers(0, len(toks) - words + 1))
        items.append((k, " ".join(toks[start:start + words])))
    return items
