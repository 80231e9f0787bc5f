"""Shared fixtures and helpers (SURVEY.md §5.1: the reference reused one
local SparkSession across its test modules — fixtureReuseSparkSession).
Test modules import ``_plan`` / ``_rows`` from here."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from spark_sklearn_spark.session import createLocalSparkSession

    s = createLocalSparkSession("pytest", cpus=8)
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s
    # _IVF_CACHE holds persisted DataFrames for the app lifetime;
    # release them when the suite's session winds down.
    from spark_sklearn_spark.operators.ivf import clear_ivf_cache

    clear_ivf_cache()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="module")
def duck(sf_dir):
    """DuckDB connection with one view per fixture table."""
    import duckdb

    from spark_sklearn_spark.sources.io import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _plan(spark, sf_dir, name):
    """Executed physical plan of registered query ``name`` as text."""
    import __spark_entry__ as entry
    from spark_sklearn_spark.plans import executed_plan

    return executed_plan(entry.queries()[name](spark, sf_dir))


def _rows(spark, sf_dir, name):
    """Collected rows of registered query ``name``."""
    import __spark_entry__ as entry

    return entry.queries()[name](spark, sf_dir).collect()
