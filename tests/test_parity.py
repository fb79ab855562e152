"""Replicates the driver's correctness gate at sf0.001 (fast): every
oracle-backed query must hash-match DuckDB on the same parquet."""

import pytest

from tests.conftest import SF_SMALL
from tools.parity import oracle_connection, table_hash

import __spark_entry__ as ent


@pytest.fixture(scope="module")
def duck():
    con = oracle_connection(SF_SMALL)
    yield con
    con.close()


ORACLES = ent.oracle_sql()
ALL_QUERIES = ent.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, duck, name):
    sdf = ALL_QUERIES[name](spark, SF_SMALL)
    scols, srows = sdf.columns, [tuple(r) for r in sdf.collect()]
    res = duck.sql(ORACLES[name])
    ocols, orows = res.columns, res.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert table_hash(scols, srows) == table_hash(ocols, orows)


@pytest.mark.parametrize("name", sorted(set(ALL_QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = ALL_QUERIES[name](spark, SF_SMALL)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = ent.entry(spark)
    assert df.count() > 0
