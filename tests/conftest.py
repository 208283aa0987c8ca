from __future__ import annotations

import duckdb
import pytest

from klog_spark.datagen import ensure_fixture
from klog_spark.session import get_spark

FIXTURE_SF = 0.001


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="klog-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fixture_dir():
    return str(ensure_fixture(FIXTURE_SF))


@pytest.fixture(scope="session")
def oracle_parsed(fixture_dir):
    from klog_spark import oracle

    rows = duckdb.sql(
        f"select doc_id, line, source from read_parquet('{fixture_dir}/sequences_text.parquet')"
    ).fetchall()
    return oracle.parse_table(rows)


@pytest.fixture(scope="session")
def parsed_df(spark, fixture_dir):
    from klog_spark.operators.parse import parse_sequences

    df = parse_sequences(spark.read.parquet(f"{fixture_dir}/sequences.parquet")).cache()
    df.count()  # materialize once
    yield df
    df.unpersist()
