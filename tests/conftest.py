from __future__ import annotations

import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from projet_data_engineering_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@contextmanager
def curated(docs, **kwargs):
    """``curate_corpus(docs, **kwargs)``, releasing on exit the frames the build hands
    its caller to release, so no test leaves them in the shared session."""
    from projet_data_engineering_spark.recipes.curation import curate_corpus

    out = curate_corpus(docs, **kwargs)
    try:
        yield out
    finally:
        out["_labels"].unpersist()
        out["_contaminated"].unpersist()
