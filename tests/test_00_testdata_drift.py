"""Round-start testdata drift guard (runs first: file sorts before the rest).

The driver regenerates /root/testdata between rounds; between rounds 1 and 2
it kept values identical but changed parquet timestamp encodings
(INT64 TIMESTAMP(NANOS) -> TIMESTAMP(MICROS, isAdjustedToUTC=false)), which
silently changes what a vanilla Spark 4 session reads (TIMESTAMP_NTZ) and
broke every events query until the loader absorbed it. This test reads every
table's parquet FOOTER via pyarrow (no Spark session, sub-second) and diffs
against the pinned schema below. If it fails:

  1. Read the listed drifted columns.
  2. Absorb the new encoding in the loader's read schema
     (sources/loader.read_schema, which reads NTZ as TIMESTAMP); only an
     encoding Spark cannot read as the wanted type gets a column rewrite
     in normalize_timestamps (the long-nanos `ts`).
  3. Re-pin EXPECTED below once the loader handles it and parity is green.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

SF_DIRS = ["sf0.001", "sf0.01", "sf0.1"]
TESTDATA = "/root/testdata"

# Pinned footer types (pyarrow str reprs) as of round 3 (2026-08-13).
# `timestamp[us]` means MICROS with isAdjustedToUTC=false (NTZ to Spark);
# a tz would render as `timestamp[us, tz=UTC]`, nanos as `timestamp[ns]`.
EXPECTED = {
    "customer": {
        "c_custkey": "int64",
        "c_name": "string",
        "c_nationkey": "int32",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "documents": {
        "doc_id": "int64",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "int64",
    },
    "embeddings": {
        "vec_id": "int64",
        "embedding": "list<element: float>",
        "label": "int32",
    },
    "events": {
        "event_id": "int64",
        "ts": "timestamp[us]",
        "user_id": "int64",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "lineitem": {
        "l_orderkey": "int64",
        "l_partkey": "int64",
        "l_suppkey": "int64",
        "l_linenumber": "int32",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp[us]",
    },
    "nation": {
        "n_nationkey": "int32",
        "n_name": "string",
        "n_regionkey": "int32",
    },
    "orders": {
        "o_orderkey": "int64",
        "o_custkey": "int64",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp[us]",
        "o_orderpriority": "string",
    },
    "part": {
        "p_partkey": "int64",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int32",
        "p_retailprice": "double",
    },
    "region": {"r_regionkey": "int32", "r_name": "string"},
    "supplier": {
        "s_suppkey": "int64",
        "s_name": "string",
        "s_nationkey": "int32",
        "s_acctbal": "double",
    },
}

# FIXTURES.md row counts per sf — catches a silent scale change too.
EXPECTED_ROWS = {
    "sf0.001": {"region": 5, "nation": 25, "customer": 150, "supplier": 10,
                "part": 200, "orders": 1500},
    "sf0.01": {"region": 5, "nation": 25, "customer": 1500, "supplier": 100,
               "part": 2000, "orders": 15000},
    "sf0.1": {"region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
              "part": 20000, "orders": 150000},
}


@pytest.mark.parametrize("sf", SF_DIRS)
def test_parquet_footers_match_pinned_schema(sf):
    drifted: list[str] = []
    seen_tables: set[str] = set()
    for path in sorted(glob.glob(f"{TESTDATA}/{sf}/*.parquet")):
        table = os.path.basename(path)[: -len(".parquet")]
        seen_tables.add(table)
        exp = EXPECTED.get(table)
        if exp is None:
            drifted.append(f"{sf}/{table}: NEW TABLE (not pinned) — add coverage")
            continue
        sch = pq.read_schema(path)
        got = {n: str(sch.field(n).type) for n in sch.names}
        for col in exp.keys() - got.keys():
            drifted.append(f"{sf}/{table}.{col}: MISSING (was {exp[col]})")
        for col in got.keys() - exp.keys():
            drifted.append(f"{sf}/{table}.{col}: NEW COLUMN ({got[col]})")
        for col in exp.keys() & got.keys():
            if exp[col] != got[col]:
                drifted.append(
                    f"{sf}/{table}.{col}: {exp[col]} -> {got[col]}"
                )
    missing = EXPECTED.keys() - seen_tables
    assert not missing, f"{sf}: tables vanished from testdata: {sorted(missing)}"
    assert not drifted, (
        "TESTDATA DRIFT — the driver regenerated parquet with different "
        "encodings. Absorb them in the loader's read schema "
        "(sources/loader.read_schema; see this module's docstring), then "
        "re-pin. Drifted:\n  " + "\n  ".join(drifted)
    )


@pytest.mark.parametrize("sf", SF_DIRS)
def test_row_counts_match_fixtures(sf):
    bad = []
    for table, n in EXPECTED_ROWS[sf].items():
        meta = pq.read_metadata(f"{TESTDATA}/{sf}/{table}.parquet")
        if meta.num_rows != n:
            bad.append(f"{table}: expected {n}, footer says {meta.num_rows}")
    assert not bad, f"{sf} row-count drift vs FIXTURES.md: {bad}"
