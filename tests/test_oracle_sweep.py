"""Every queries() entry against its oracle_sql() twin on DuckDB at
sf0.001: row count, column names and the order-insensitive value hash of
scripts/check_contract.py.  A query without an oracle row checks that it
runs, as check_contract does."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry
from scripts.check_contract import mismatches

SF_DIR = entry.SF1  # sf0.001
QUERIES = entry.queries()
ORACLES = entry.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in entry.TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield c
    c.close()


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(spark, con, name):
    # run a new Dataset over the query's plan: the SPARQL store hands out
    # its cached DataFrame, and running that one would leave its adaptive
    # plan finalized for the plan-shape tests that explain it later
    got = QUERIES[name](spark, SF_DIR).select("*").toPandas()
    if name in ORACLES:
        assert not mismatches(got, con.execute(ORACLES[name]).fetchdf())


def test_every_query_has_an_oracle_twin():
    q, o = set(QUERIES), set(ORACLES)
    assert o <= q, f"oracles without queries: {o - q}"
    # genuinely non-SQL-expressible ops may omit the oracle; today none do
    assert not q - o, f"queries without oracle twins: {q - o}"


def test_table_read_is_memoized_until_its_file_changes(spark, tmp_path):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "nation.parquet"
    pq.write_table(pa.table({"k": [1, 2]}), path)
    first = entry._t(spark, str(tmp_path), "nation")
    assert entry._t(spark, str(tmp_path), "nation") is first
    # same size, new contents: the modification time tells them apart
    pq.write_table(pa.table({"k": [3, 4]}), path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    again = entry._t(spark, str(tmp_path), "nation")
    assert again is not first
    assert sorted(r.k for r in again.collect()) == [3, 4]
