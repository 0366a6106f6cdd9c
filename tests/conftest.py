from __future__ import annotations

import importlib
import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # lighter for unit tests

from pyspark.sql import SparkSession  # noqa: E402

from pagerank_hadoop_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(autouse=True)
def _no_stream_left_active():
    """Every test, and every registry query a test runs, stops each
    streaming query it starts."""
    yield
    active = SparkSession.getActiveSession()
    if active is not None:
        assert [q.name for q in active.streams.active] == []


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def pagerank_module():
    """``operators/pagerank.py`` as a module, to patch its probe: the
    package re-exports a function named ``pagerank``, which an
    attribute import would return instead."""
    return importlib.import_module("pagerank_hadoop_spark.operators.pagerank")
