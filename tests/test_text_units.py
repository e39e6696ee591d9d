"""The text units of ``functions/textops.py`` and the layers of the
md5-portable MinHash scheme in ``operators/neardup.py``, each compared
with its DuckDB statement on the smoke tables. The registered queries
check these layers only through their final pair sets."""

from __future__ import annotations

import pytest

from data_lake_with_spark_and_aws_s3_spark.functions.textops import (
    shingles,
    token_set,
    tokens,
    words,
)
from data_lake_with_spark_and_aws_s3_spark.operators.neardup import (
    _LSH_CONFIGS,
    _ML_CONFIG,
    _ML_SEEDS,
    _ml_bands,
    _ml_sig_sql,
    _ml_signatures,
    ml_bands_maponly,
)
from data_lake_with_spark_and_aws_s3_spark.sources.loader import load_table

from .conftest import SMOKE_SF_DIR
from .parity import duck_views

_LANES = [f"m{i}" for i in range(_ML_SEEDS)]


@pytest.fixture(scope="module")
def smoke_duck():
    con = duck_views(SMOKE_SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SMOKE_SF_DIR, "documents")


def test_text_units_match_duckdb(docs, smoke_duck):
    got = {
        r["doc_id"]: (r["w"], r["t"], set(r["ts"]))
        for r in docs.select(
            "doc_id",
            words().alias("w"),
            tokens().alias("t"),
            token_set().alias("ts"),
        ).collect()
    }
    got_sh = {r["doc_id"]: set(r["s"]) for r in shingles(docs, 4).collect()}
    want, want_sh = {}, {}
    for doc_id, w, t, ts, sh in smoke_duck.execute("""
        SELECT doc_id, toks,
               list_filter(toks, x -> x <> ''),
               list_distinct(list_filter(toks, x -> x <> '')),
               list_transform(range(0, greatest(len(toks) - 3, 0)),
                              i -> array_to_string(toks[i+1:i+4], ' '))
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    """).fetchall():
        want[doc_id] = (w, t, set(ts))
        if sh:
            want_sh[doc_id] = set(sh)
    assert want_sh
    assert got == want
    assert got_sh == want_sh


def test_spark_signatures_equal_the_oracle_sig_cte(docs, smoke_duck):
    got = {
        tuple(r)
        for r in _ml_signatures(shingles(docs, 4))
        .select("doc_id", *_LANES)
        .collect()
    }
    want = set(
        smoke_duck.execute(
            _ml_sig_sql(_ML_CONFIG) + f" SELECT doc_id, {', '.join(_LANES)} FROM sig"
        ).fetchall()
    )
    assert len(want) > 0
    assert got == want


def _oracle_rows(duck, configs, cols: str) -> set:
    rows = set(duck.execute(_ml_sig_sql(configs) + f" SELECT {cols} FROM bands").fetchall())
    assert len(rows) > 0
    return rows


def test_both_lane_forms_band_like_the_oracle(docs, smoke_duck):
    cols = ("doc_id", "n_bands", "band", "bh")
    want = _oracle_rows(smoke_duck, _ML_CONFIG, ", ".join(cols))
    aggregate = _ml_bands(_ml_signatures(shingles(docs, 4)), (), _ML_CONFIG)
    maponly = ml_bands_maponly(docs)
    assert {tuple(r) for r in aggregate.select(*cols).collect()} == want
    assert {tuple(r) for r in maponly.select(*cols).collect()} == want


def test_grid_band_keys_equal_the_oracle_bands(docs, smoke_duck):
    want = _oracle_rows(smoke_duck, _LSH_CONFIGS, "n_bands, doc_id, band, bh")
    bands = _ml_bands(_ml_signatures(shingles(docs, 4)), (), _LSH_CONFIGS)
    got = bands.select("n_bands", "doc_id", "band", "bh").collect()
    assert {tuple(r) for r in got} == want
