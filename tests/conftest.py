from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sigma_rx7_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SIGMA_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="sigma-rx7-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def quality_scored(spark, sf_dir):
    """(y, p) of every document under the fitted quality gate."""
    from sigma_rx7_spark.llm.pipeline import quality_scores

    return [(r["y"], r["p"]) for r in
            quality_scores(spark, sf_dir).select("y", "p").collect()]
