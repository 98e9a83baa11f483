"""Seeded synthetic inputs with the schema and value domains of the engine's
star-schema test tables.

Every column is drawn independently and uniformly over the same domain the
reference tables use (keys are dense ``0..n-1``, foreign keys uniform over
the parent's keys, TPC-H-style enums, 1995-2001 order/ship dates, January
2024 event times, a 30-word document vocabulary with 5 % near-duplicate
documents, unit-norm 64-d float32 embeddings).  The same ``(seed, rows)``
always produces the same files; only the seed changes the values, so two
seeds of one workload do the same amount of work.

Ship dates are drawn independently of their order's date, as in the test
tables (at sf0.1 their ship-minus-order lag runs from -2399 to 2496 days,
mean 48), not as TPC-H's ``o_orderdate + U(1, 121)``.  Queries that filter
on the lag (q21's late lines) therefore see the test tables' selectivity
(~46 % of lines later than 90 days), not TPC-H's.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
P_COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64
DUP_FRACTION = 0.05


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n, p=None):
    return np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)]


def _documents(rng, n):
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    n_dup = int(n * DUP_FRACTION)
    for i in rng.choice(n, n_dup, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n):
    v = rng.normal(size=(n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMBED_DIM)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def _events(rng, n, n_users):
    lo = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 10**6
    ts = np.sort(lo + rng.integers(0, span, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def generate(out_dir: str, seed: int, rows: dict[str, int]) -> dict[str, int]:
    """Write one parquet file per table under ``out_dir``; return the row
    count per table.  ``rows`` gives customer/supplier/part/orders/lineitem/
    events/documents/embeddings counts (region and nation are fixed)."""
    rng = np.random.default_rng(seed)
    nc, ns, np_, no = rows["customer"], rows["supplier"], rows["part"], rows["orders"]
    nl = rows["lineitem"]
    i32 = np.int32
    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        },
        "customer": {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(i32),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        },
        "supplier": {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(i32),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        },
        "part": {
            "p_partkey": np.arange(np_, dtype=np.int64),
            "p_name": [
                f"{P_COLORS[c]} {P_NOUNS[k]}"
                for c, k in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": _pick(rng, P_TYPES, np_),
            "p_size": rng.integers(1, 51, np_).astype(i32),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, no, 1000.0, 500000.0),
            "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, no, nl),
            "l_partkey": rng.integers(0, np_, nl),
            "l_suppkey": rng.integers(0, ns, nl),
            "l_linenumber": rng.integers(1, 8, nl).astype(i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
        },
        "events": _events(rng, rows["events"], max(1, nc // 10)),
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        table = pa.table({k: pa.array(v) if not isinstance(v, pa.Array) else v
                          for k, v in cols.items()})
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
