from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from tagminder_spark.session import get_spark

    # the session's 16g default heap lets the JVM outgrow a 16 GB host
    # over a full run (it was OOM-killed at 14.8 GB RSS); the suite's
    # inputs stay under 4 GB
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    s = get_spark("tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    from tagminder_spark.session import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


@pytest.fixture
def hadoop_backend(monkeypatch):
    """Context manager that routes local table roots through the Hadoop
    FileSystem backend (``_HadoopFS``, ``file:`` scheme) instead of the
    pure-syscall one, so one test can run the same operation on both
    backends and compare."""
    import contextlib

    from tagminder_spark.operators import compaction

    @contextlib.contextmanager
    def use():
        with monkeypatch.context() as m:
            m.setattr(compaction, "_is_local", lambda root: False)
            yield

    return use
