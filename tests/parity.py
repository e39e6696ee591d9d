"""Parity harness mimicking the driver's compare: row-count + schema +
order-insensitive value comparison, columns sorted by name.

Stricter than the driver in one way: we compare actual values (exact
for non-floats, exact-with-report for floats) so any drift shows up as
a readable diff instead of a hash mismatch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _kind(s: pd.Series) -> str:
    """Canonical dtype kind, at the granularity the driver's value hash
    distinguishes: an int64 `3` and a float64 `3.0` hash differently even
    when every value matches (round-1 root cause: DuckDB HUGEINT/DOUBLE
    results materialize as float64 while Spark emits int64)."""
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    return "object"


def assert_driver_hashable(pdf: pd.DataFrame, name: str = "") -> None:
    """The driver canonicalizes with pandas sort_values + a value hash,
    which dies on unhashable cells (ndarray/list/dict). Every query —
    oracle-checked or rows-only — must produce only hashable cells."""
    for col in pdf.columns:
        s = pdf[col]
        if s.dtype == object:
            bad = s.map(lambda v: isinstance(v, (list, np.ndarray, dict, bytearray))).any()
            assert not bad, (
                f"{name}: col {col!r} contains list/ndarray/dict cells — the "
                f"driver's canonicalizer (sort_values) crashes on these; "
                f"flatten to scalar columns or stringify deterministically"
            )


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for col in pdf.columns:
        s = pdf[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            pdf[col] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            pdf[col] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            pdf[col] = s.astype("float64")
        elif s.dtype == object:
            # decimals / lists: stringify deterministically
            pdf[col] = s.map(lambda v: repr(v) if isinstance(v, (list, np.ndarray)) else v)
    # stable order-insensitive row order
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort", na_position="last")
    return pdf.reset_index(drop=True)


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str = "") -> None:
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch spark={sorted(spark_pdf.columns)} "
        f"oracle={sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    )
    # Driver-equivalence: dtype KIND must match per column BEFORE any
    # canonicalization — int64 vs float64 fails the driver's hash even
    # when values are numerically identical.
    for col in sorted(spark_pdf.columns):
        ks, ko = _kind(spark_pdf[col]), _kind(oracle_pdf[col])
        assert ks == ko, (
            f"{name}: col {col!r} dtype-kind mismatch spark={ks}({spark_pdf[col].dtype}) "
            f"oracle={ko}({oracle_pdf[col].dtype}) — the driver's value hash "
            f"distinguishes these (e.g. DuckDB HUGEINT/DOUBLE -> float64); "
            f"CAST the oracle column (usually AS BIGINT)"
        )
    assert_driver_hashable(spark_pdf, name=f"{name} (spark)")
    assert_driver_hashable(oracle_pdf, name=f"{name} (oracle)")
    s, o = _canon(spark_pdf), _canon(oracle_pdf)
    for col in s.columns:
        sv, ov = s[col], o[col]
        if pd.api.types.is_float_dtype(sv):
            both_nan = sv.isna() & ov.isna()
            eq = (sv == ov) | both_nan
            if not eq.all():
                bad = (~eq).to_numpy().nonzero()[0][:5]
                detail = [(i, sv.iloc[i], ov.iloc[i], abs(sv.iloc[i] - ov.iloc[i])) for i in bad]
                raise AssertionError(
                    f"{name}: float col {col!r} differs at {int((~eq).sum())} rows "
                    f"(first few (idx, spark, oracle, absdiff): {detail})"
                )
        else:
            eq = (sv == ov) | (sv.isna() & ov.isna())
            if not eq.all():
                bad = (~eq).to_numpy().nonzero()[0][:5]
                detail = [(i, sv.iloc[i], ov.iloc[i]) for i in bad]
                raise AssertionError(
                    f"{name}: col {col!r} differs at {int((~eq).sum())} rows "
                    f"(first few (idx, spark, oracle): {detail})"
                )


def duck_views(sf_dir: str):
    """DuckDB connection with one view per engine table over
    `sf_dir`'s parquet files: the views the driver pre-registers before
    it runs oracle_sql()."""
    import duckdb

    from data_lake_with_spark_and_aws_s3_spark.sources.loader import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def run_parity(spark, duck, spec, sf_dir: str) -> pd.DataFrame:
    """Check `spec` against its oracle; return the Spark result."""
    sdf = spec.fn(spark, sf_dir)
    spark_pdf = sdf.toPandas()
    oracle_pdf = duck.execute(spec.oracle).fetchdf()
    # a 0-row match is vacuous — queries must produce rows at the
    # correctness scale factor to actually check anything
    assert len(spark_pdf) > 0, f"{spec.name}: empty result (vacuous parity)"
    assert_frames_match(spark_pdf, oracle_pdf, name=spec.name)
    return spark_pdf
