"""Shared pytest fixtures: one SparkSession per test run + DuckDB oracle."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from slog_agent_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SLOG_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="slog-agent-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the same table views the driver registers."""
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    yield con
    con.close()


def assert_df_equals_oracle(spark_df, duck_con, oracle_sql, sort_cols=None):
    """Order-insensitive comparison of a Spark DataFrame vs DuckDB SQL."""
    cols = sorted(spark_df.columns)
    s_rows = sorted(
        tuple(r[c] for c in cols) for r in spark_df.collect()
    )
    d = duck_con.execute(oracle_sql)
    d_names = [c[0] for c in d.description]
    assert sorted(d_names) == cols, f"columns differ: {sorted(d_names)} vs {cols}"
    idx = [d_names.index(c) for c in cols]
    d_rows = sorted(tuple(row[i] for i in idx) for row in d.fetchall())
    assert len(s_rows) == len(d_rows), f"row count {len(s_rows)} vs {len(d_rows)}"
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        assert a == b, f"row {i} differs:\n spark: {a}\n  duck: {b}"


def store_tables(store: str) -> set[str]:
    """The batch-partitioned tables under a drained store dir, named as
    compaction reports them (a nested table's ``/`` spelled ``_``)."""
    return {
        os.path.relpath(root, store).replace(os.sep, "_")
        for root, dirs, _ in os.walk(store)
        if any(d.startswith("batch_id=") for d in dirs)
    }
