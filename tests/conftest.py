from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from reindexer_spark import get_spark

    # sized from SPARK_GRAFT_CPUS (default: the host's cores), like every
    # other session the package builds
    spark = get_spark("reindexer-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
