from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from results_ingestor_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def fresh_alias(tmp_path):
    """``fresh_alias(sf_dir)`` -> a new path (a symlink) to ``sf_dir``,
    so the caches keyed on the absolute path (load_tables, the plan
    memo) miss."""
    import uuid

    def alias(sf_dir):
        link = tmp_path / f"alias-{uuid.uuid4().hex[:8]}"
        link.symlink_to(os.path.abspath(sf_dir), target_is_directory=True)
        return str(link)

    return alias


@pytest.fixture(scope="session")
def jobs_run(spark):
    """``jobs_run(fn)`` -> (fn's result, number of Spark jobs fn ran),
    counted in a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"jobs-run-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def assert_matches_oracle(spark, sf_dir):
    """Check one registry entry against its DuckDB oracle cell-for-cell:
    tools/check_correctness.py's exact, type-tagged, order-insensitive
    comparison.  The entry's checkpointed result is released after."""
    import duckdb

    from results_ingestor_spark.operators.ckpt import release_result
    from results_ingestor_spark.plans import ORACLES, QUERIES
    from results_ingestor_spark.sources.tables import TABLE_NAMES
    from tools.check_correctness import _rowset

    def check(name: str) -> None:
        df = QUERIES[name](spark, sf_dir)
        got = _rowset(df.columns, [tuple(r) for r in df.collect()])
        release_result(df)
        con = duckdb.connect()
        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
        rel = con.sql(ORACLES[name])
        assert sorted(df.columns) == sorted(rel.columns)
        assert got == _rowset(rel.columns, rel.fetchall())

    return check
