"""In-suite mirror of the driver's correctness gate: every
``__spark_entry__.queries()`` entry runs on Spark at sf0.001 and, where an
``oracle_sql()`` twin exists, must match DuckDB on row count, column set,
and the driver's value hash (columns sorted by name, floats to 6
significant digits).  Entries without an oracle get a schema/shape check.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def entrymod():
    import __spark_entry__

    return __spark_entry__


@pytest.fixture(scope="module")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _all_query_names():
    import __spark_entry__

    return sorted(__spark_entry__.queries())


@pytest.mark.parametrize("name", _all_query_names())
def test_query_matches_oracle(name, entrymod, duck, spark):
    from scripts.check_contract import table_hash

    fn = entrymod.queries()[name]
    sdf = fn(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    oracle = entrymod.oracle_sql().get(name)
    if oracle is None:
        # rows-only contract: must produce a stable schema (and be runnable)
        assert isinstance(scols, list) and scols
        return
    res = duck.execute(oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert len(srows) == len(orows), f"{name}: rowcount {len(srows)} vs {len(orows)}"
    assert sorted(scols) == sorted(ocols), f"{name}: columns {scols} vs {ocols}"
    assert table_hash(srows, scols) == table_hash(orows, ocols), f"{name}: value hash"


def test_entry_runs(entrymod, spark):
    df = entrymod.entry(spark)
    assert df.columns
    assert df.count() >= 0


def test_driver_window_locked(entrymod):
    """The driver's correctness window holds 50 entries, and each has a
    DuckDB ``oracle_sql()`` twin: a dropped or oracle-less entry shrinks
    the gate without failing any other test."""
    queries = entrymod.queries()
    assert len(queries) == 50
    missing = sorted(set(queries) - set(entrymod.oracle_sql()))
    assert not missing, f"entries without an oracle twin: {missing}"
