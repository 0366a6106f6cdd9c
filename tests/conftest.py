from __future__ import annotations

import importlib
import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # lighter for unit tests

from pagerank_hadoop_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def pagerank_module():
    """``operators/pagerank.py`` as a module, to patch its probe: the
    package re-exports a function named ``pagerank``, which an
    attribute import would return instead."""
    return importlib.import_module("pagerank_hadoop_spark.operators.pagerank")
