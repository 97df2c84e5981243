"""Entry-contract smoke: entry() returns rows; every queries() entry runs at
sf0.001 and (where an oracle exists) matches DuckDB — a fast local replica of
the driver's sf0.01 gate (full run: tools/check_oracle.py)."""

import hashlib

import duckdb
import pytest

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def _norm_hash(pdf):
    cols = sorted(pdf.columns)
    rows = sorted(
        "|".join(("%.6g" % v) if isinstance(v, float) else str(v) for v in t)
        for t in pdf[cols].itertuples(index=False)
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_entry_returns_rows(spark):
    df = E.entry(spark)
    assert df.count() > 0


def test_every_query_has_impl_and_runs(spark):
    qs = E.queries()
    assert len(qs) >= 20
    for name, fn in qs.items():
        df = fn(spark, SF)
        assert df.columns, name


@pytest.mark.parametrize("name", sorted(E.oracle_sql()))
def test_query_matches_duckdb_oracle(spark, duck, name):
    sdf = E.queries()[name](spark, SF).toPandas()
    odf = duck.execute(E.oracle_sql()[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns), name
    assert len(sdf) == len(odf), name
    assert _norm_hash(sdf) == _norm_hash(odf), name


def test_pricing_summary_sum_base_survives_long_overflow(spark, tmp_path):
    """sum_base sums price cents; 1,000 rows at 9.9e13 (the largest price the
    sum_disc_price decimal(18,4) cast accepts) total 9.9e18 cents, past the
    int64 range, and must still give the exact 9.9e16."""
    import pandas as pd

    from auto_archiver_spark.queries import q_pricing_summary

    pd.DataFrame({
        "l_returnflag": ["A"] * 1000,
        "l_linestatus": ["F"] * 1000,
        "l_quantity": [1.0] * 1000,
        "l_extendedprice": [9.9e13] * 1000,
        "l_discount": [0.0] * 1000,
    }).to_parquet(tmp_path / "lineitem.parquet")
    (row,) = q_pricing_summary(spark, str(tmp_path)).collect()
    assert row.sum_base == 9.9e16
    assert row.count_order == 1000
