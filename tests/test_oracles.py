"""Replicates the driver's correctness gate locally: every queries() entry
vs its oracle_sql() via DuckDB at sf0.001 — row count, column names, and
order-insensitive value comparison."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            # Decimal / date-like objects → canonical string
            df[c] = df[c].map(lambda v: None if v is None or (isinstance(v, float) and math.isnan(v)) else str(v))
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        if pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("boolean")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


ORACLE_KEYS = sorted(entry_mod.oracle_sql())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR).toPandas()
    odf = duck.execute(entry_mod.oracle_sql()[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns), (
        f"column mismatch: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"
    )
    assert len(sdf) == len(odf), f"row count: spark={len(sdf)} oracle={len(odf)}"
    s, o = _normalize(sdf), _normalize(odf)
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=False, atol=1e-6)
    except AssertionError as e:
        diff = pd.concat([s, o]).drop_duplicates(keep=False)
        raise AssertionError(f"{name} value mismatch; sample diff:\n{diff.head(10)}") from e


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"sink", "conv_id", "bucket", "n"}


def test_rows_only_queries_run(spark):
    for name, q in entry_mod.queries().items():
        if name not in entry_mod.oracle_sql():
            assert q(spark, SF_DIR).count() >= 0, name


def test_incremental_dedup_pairs_store_lives_with_the_session(spark, tmp_path, monkeypatch):
    """The query's signature store is made under the driver's SparkFiles
    directory (deleted by Spark when the context stops), never in the
    system temp dir: repeated calls leave nothing there, and the returned
    lazy pairs still read the store's runs."""
    import tempfile

    from pyspark import SparkFiles

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    root = SparkFiles.getRootDirectory()
    before = {p for p in os.listdir(root) if p.startswith("sigstore_")}
    q = entry_mod.queries()["incremental_dedup_pairs"]
    first, second = (_normalize(q(spark, SF_DIR).toPandas()) for _ in range(2))
    assert list(tmp_path.iterdir()) == []
    assert len({p for p in os.listdir(root) if p.startswith("sigstore_")} - before) == 2
    assert len(first) > 0
    pd.testing.assert_frame_equal(first, second)
