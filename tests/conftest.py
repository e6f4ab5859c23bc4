from __future__ import annotations

import os
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from flink_stream_processing_refarch_spark.schemas import TESTDATA_TABLES
from flink_stream_processing_refarch_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"  # small SF: tests verify correctness only


@pytest.fixture(scope="session")
def spark():
    # The engine takes its state-store provider from the session; the
    # test session runs tws_user_totals, which needs RocksDB.
    from __spark_entry__ import ROCKSDB_CONF

    spark = get_spark("tests", shuffle_partitions=8, extra_conf=ROCKSDB_CONF)
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con


def assert_matches_oracle(spark, duck, fn, sql, min_rows=0):
    """Order-insensitive exact compare of a Spark query vs DuckDB SQL."""
    from tools.check_oracle import normalize, rows_equal

    sdf = fn(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(sql)
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    assert sorted(sdf.columns) == sorted(dcols), (sdf.columns, dcols)
    assert len(srows) == len(drows), (len(srows), len(drows))
    assert len(srows) >= min_rows
    ns, nd = normalize(srows, sdf.columns), normalize(drows, dcols)
    assert rows_equal(ns, nd), (ns[:3], nd[:3])
