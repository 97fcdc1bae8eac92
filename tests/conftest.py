"""Shared Spark fixture: one local session per test run."""

from __future__ import annotations

import os
import sys

import pytest

# the checkout under test, wherever it lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rlr_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="rlr_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def web_pages_small(spark, tmp_path_factory):
    """300-page deterministic corpus + planted truth, as Spark DFs."""
    from rlr_spark.datagen import write_web_pages

    out = str(tmp_path_factory.mktemp("webpages"))
    pages_path, truth_path = write_web_pages(out, n_pages=300, seed=42)
    return spark.read.parquet(pages_path), spark.read.parquet(truth_path)
