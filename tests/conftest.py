from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from batch_process_dpla_index_spark.session import get_spark

    return get_spark()


@pytest.fixture(scope="session")
def docs(spark):
    from batch_process_dpla_index_spark.sources.tables import load_table

    return load_table(spark, SF_DIR, "documents")


@pytest.fixture(scope="session")
def docs_small(docs):
    return docs.limit(60).cache()
