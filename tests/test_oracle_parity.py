"""Local replica of the driver's correctness gate: run every
__spark_entry__.queries() entry at sf0.01 AND its oracle_sql() in DuckDB,
compare row count + (column-name-sorted, row-sorted) values.

Stricter than the driver: exact equality for ints/strings, exact float
equality (the dual-dialect templates are designed to be bit-compatible)."""

from __future__ import annotations

import math
import os

import pandas as pd
import pytest

SF_DIR = "/root/testdata/sf0.01"

pytestmark = pytest.mark.spark


def _duckdb_run(sql: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"create view {t} as select * from read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con.execute(sql).df()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame):
    a = _normalize(spark_df)
    b = _normalize(duck_df)
    assert len(a) == len(b), f"{name}: row count {len(a)} != {len(b)}"
    assert list(a.columns) == list(b.columns), f"{name}: columns {list(a.columns)} != {list(b.columns)}"
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        if a[c].dtype.kind == "f":
            bad = [
                (x, y) for x, y in zip(av, bv)
                if not (x == y or (isinstance(x, float) and isinstance(y, float)
                                   and math.isnan(x) and math.isnan(y)))
            ]
        else:
            bad = [(x, y) for x, y in zip(av, bv) if x != y]
        assert not bad, f"{name}.{c}: first diffs {bad[:5]} of {len(bad)}"


def _entry_module():
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py")
    spec = importlib.util.spec_from_file_location("spark_entry", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _oracle_query_names():
    """Every oracle_sql() name, plus the golden-derived ones, which
    oracle_sql() returns only where the reference golden exists; those skip
    on the golden's path instead of dropping out of the suite."""
    from geojson_vt_cpp_spark.functions import golden_oracle as G

    no_golden = pytest.mark.skipif(
        not os.path.exists(G.GOLDEN_TILES), reason="golden us-states-tiles.json absent"
    )
    names = set(_entry_module().oracle_sql()) | set(G.GOLDEN_QUERIES)
    return [
        pytest.param(n, marks=no_golden) if n in G.GOLDEN_QUERIES else n
        for n in sorted(names)
    ]


@pytest.mark.parametrize("name", _oracle_query_names())
def test_query_matches_duckdb_oracle(spark, name):
    E = _entry_module()
    q = E.queries()[name]
    o = E.oracle_sql()[name]
    got = q(spark, SF_DIR).toPandas()
    want = _duckdb_run(o)
    assert len(got) > 0, f"{name}: spark returned 0 rows — weak test"
    _compare(name, got, want)


def test_rows_only_queries_run(spark):
    E = _entry_module()
    oracle = set(E.oracle_sql())
    for name, q in E.queries().items():
        if name in oracle:
            continue
        df = q(spark, SF_DIR)
        assert df.count() > 0, f"{name}: rows-only query returned 0 rows"


def test_entry_smoke(spark):
    E = _entry_module()
    df = E.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"doc_id", "feature_id", "n_points_inside"} <= set(df.columns)
