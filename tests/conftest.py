from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session", autouse=True)
def _session_tempdir(tmp_path_factory):
    """Point the system temp dir of this process at a pytest temp dir,
    so what the package stages there (the stream source's split and
    symlink directories) is cleaned with pytest's own temp dirs."""
    import tempfile

    old = tempfile.tempdir
    tempfile.tempdir = str(tmp_path_factory.mktemp("tmp"))
    yield
    tempfile.tempdir = old


@pytest.fixture(scope="session")
def spark():
    from multithreaded_mapreduce_spark.session import get_spark

    s = get_spark(app_name="mmr-spark-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
