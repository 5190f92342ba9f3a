"""The correctness gate for ``__spark_entry__``: run every queries() entry at
sf0.01 and compare it with its oracle_sql() through DuckDB — row count,
column names, and an md5 hash of the values.

The hash takes the columns sorted by name and the rows sorted, rounds float
columns to 6 decimals and stringifies every value, so a dtype change (``1``
against ``1.0``) fails the gate just as a wrong value does."""

from __future__ import annotations

import hashlib
import importlib.util
import os

import duckdb
import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)

_spec = importlib.util.spec_from_file_location(
    "spark_entry", os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py")
)
_entry = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_entry)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return pd.DataFrame(
        {c: (df[c].round(6) if df[c].dtype.kind == "f" else df[c]).astype(str) for c in df.columns}
    )


def _value_hash(canon: pd.DataFrame) -> str:
    h = hashlib.md5()
    for c in canon.columns:
        h.update(canon[c].str.cat(sep="\x01").encode())
    return h.hexdigest()


ORACLED = sorted(_entry.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, name):
    q = _entry.queries()[name]
    got = q(spark, SF_DIR).toPandas()
    exp = duck.sql(_entry.oracle_sql()[name]).df()

    assert sorted(got.columns) == sorted(exp.columns), (
        f"{name}: columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: rows {len(got)} vs {len(exp)}"
    g, e = _canon(got), _canon(exp)
    mism = (g != e).any(axis=1).to_numpy().nonzero()[0]
    assert _value_hash(g) == _value_hash(e), (
        f"{name}: {len(mism)} mismatched rows; first:\n"
        f"spark: {g.iloc[mism[0]].to_dict()} {got.dtypes.to_dict()}\n"
        f"duck : {e.iloc[mism[0]].to_dict()} {exp.dtypes.to_dict()}"
    )


def test_entry_smoke(spark):
    from nfl_feature_store_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    df = _entry.entry(spark)
    types = {f.name: f.dataType for f in df.schema.fields}
    for f in TRANSCRIPT_SCHEMA.fields:
        assert types.get(f.name) == f.dataType, (f.name, types.get(f.name))
    # one output row per sf0.001 event
    assert df.count() == 1000
