"""Seeded generator for the query workloads' input tables.

Writes the ten single-file, single-row-group parquet tables the
registered queries read (`region` ... `embeddings`), with the schemas
and value distributions of the engine's reference test corpus at its
sf0.01 shape: lineitem 60,000 rows, orders 15,000, documents and
embeddings 500 each. Every column is drawn independently from the same
marginals (uniform keys, 2-decimal money, whole-percent discounts,
day-resolution order/ship dates, a 30-word document vocabulary,
unit-norm 64-d embeddings), so timings move little from seed to seed
while outputs differ. The documents also carry the reference corpus's
near-duplicates (5% are copies of another document plus the marker
token "dup", which is not in the vocabulary), so near-dup queries find,
verify and shuffle real pairs.

Same seed, same bytes: only `numpy.random.default_rng(seed)` is used.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "region": 5,
    "nation": 25,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_W = [0.44, 0.14, 0.13, 0.15, 0.14]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    d0, d1 = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, int((d1 - d0).astype(int)) + 1, size=n)
    return (d0 + days.astype("timedelta64[D]")).astype("datetime64[us]")


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n), pa.int64())


def build(seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``seed``, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": _keys(n["customer"]),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": _keys(n["supplier"]),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    np_ = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": _keys(np_),
            "p_name": np.char.add(
                np.char.add(rng.choice(PART_ADJ, np_), " "), rng.choice(PART_NOUN, np_)
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
            "p_type": rng.choice(PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(np_) % 1000) / 10.0,
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": _keys(no),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", no), pa.timestamp("us")),
            "o_orderpriority": rng.choice(PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["F", "O"], nl),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", nl), pa.timestamp("us")),
        }
    )
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne))
    t["events"] = pa.table(
        {
            "event_id": _keys(ne),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne),
            "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    nd = n["documents"]
    lens = rng.integers(10, 100, nd)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # Near-duplicates as the reference corpus has them: 5% of the
    # documents are overwritten, one after another, by a copy of a
    # random other document with " dup" appended. A copy of a copy
    # chains ("... dup dup"); a later overwrite can remove a source.
    for slot in rng.choice(nd, nd // 20, replace=False):
        src = (slot + rng.integers(1, nd)) % nd
        texts[slot] = texts[src] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": _keys(nd),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_W),
            "source": np.char.add("src", rng.integers(0, 20, nd).astype(str)),
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    emb = rng.standard_normal((nv, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": _keys(nv),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return t


def planted_pairs(texts: list[str]) -> int:
    """Document pairs where one text is the other plus " dup": shingle
    Jaccard >= 6/7, so MinHash LSH finds each with probability > 0.95."""
    have = set(texts)
    return sum(t.endswith(" dup") and t[:-4] in have for t in texts)


def write(seed: int, out_dir: str) -> dict:
    """Write every table to ``out_dir/<name>.parquet``; return rows and
    bytes per table, and the planted near-duplicate pairs."""
    os.makedirs(out_dir, exist_ok=True)
    sizes: dict = {}
    for name, table in build(seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
        if name == "documents":
            sizes["planted_pairs"] = planted_pairs(table["text"].to_pylist())
    return sizes
