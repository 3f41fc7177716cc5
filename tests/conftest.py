from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from miru_spark.session import get_spark

    s = get_spark("miru_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="session")
def doc_index(documents):
    from miru_spark.operators.build import build_index

    # capacity 128 → multiple partitions even on the 500-row fixture, so the
    # fixture's common terms have one posting list per part (the default
    # 'sort' route; test_salting_plans asserts how they spread).
    return build_index(documents, text_col="text", dense_id_col="doc_id", capacity=128)


@pytest.fixture(scope="session")
def duck(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in ["documents", "events", "embeddings", "orders", "lineitem", "customer"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con
