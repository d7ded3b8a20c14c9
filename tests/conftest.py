from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import data_feature_extraction_and_retrieval_pipeline_spark as dferp  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = dferp.get_spark(app_name="dferp-tests", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session", autouse=True)
def no_swallowed_unpersist_errors():
    """The caching module swallows JVM-side unpersist failures so a
    harness can go on, but counts them; a clean test session has
    none."""
    yield
    from data_feature_extraction_and_retrieval_pipeline_spark import caching

    assert caching.UNPERSIST_ERRORS["count"] == 0, caching.UNPERSIST_ERRORS


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
