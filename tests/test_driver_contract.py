"""Replicates the driver's correctness gate locally: every queries()
entry vs its oracle_sql() via DuckDB — row count, column names, and
order-insensitive value equality — at sf0.001 (fast) with a smoke pass
of entry().
"""

from __future__ import annotations

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
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(SF_DIR, t)}.parquet'"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # normalize ints (duckdb may return int32/uint where spark gives int64)
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


ALL_QUERIES = sorted(entry_mod.queries())


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql().get(name)
    got = _canon(q(spark, SF_DIR).toPandas())
    assert sql is not None, f"{name} has no oracle SQL"
    want = _canon(duck.sql(sql).df())
    assert list(got.columns) == list(want.columns), (got.columns, want.columns)
    assert len(got) == len(want), f"{name}: rows {len(got)} != {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, atol=1e-9)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["doc_id", "score"]


def test_gate_index_removes_its_dir(spark, small_corpus):
    """The engine entries' index lifecycle: the temp dir exists (with a
    committed manifest) inside the block and is gone after it, both when
    the body returns and when it raises."""
    from bugzilla_etl_spark.index.manifest import IndexManifest
    from bugzilla_etl_spark.operators.fulltext import _gate_index

    corpus = small_corpus.limit(20)
    with _gate_index(spark, corpus) as idx:
        assert os.path.exists(IndexManifest.path(idx))
    assert not os.path.exists(idx)

    with pytest.raises(RuntimeError, match="body failed"):
        with _gate_index(spark, corpus) as idx:
            assert os.path.exists(IndexManifest.path(idx))
            raise RuntimeError("body failed")
    assert not os.path.exists(idx)
