from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = f"{TESTDATA}/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", f"{TESTDATA}/sf0.01")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    from wnba_data_pipeline_spark.session import get_spark

    spark = get_spark("wnba-pipeline-tests")
    yield spark
    spark.stop()


def make_duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


@pytest.fixture(scope="session")
def duck():
    con = make_duck(SF_ORACLE)
    yield con
    con.close()


def assert_handle_matches_path(spark, handle, path: str) -> None:
    """A sink's returned handle reads the same table as a fresh
    ``spark.read.parquet(path)``: same schema, same rows (as multisets)."""
    ref = spark.read.parquet(path)
    assert handle.schema == ref.schema, (path, handle.schema.simpleString(), ref.schema.simpleString())
    assert sorted(map(repr, handle.collect())) == sorted(map(repr, ref.collect())), path
