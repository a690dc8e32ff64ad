from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMOKE_SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from hh_rumors_presto_spark.session import get_spark

    s = get_spark("pytest")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SMOKE_SF
