"""$SPARK_GRAFT_CPUS is validated in one place, session.default_parallelism:
a malformed value fails there, naming the variable, not deep inside a
query or the bench's host probe."""

from __future__ import annotations

import pytest

from hh_rumors_presto_spark.operators.pairblocks import block_count
from hh_rumors_presto_spark.session import default_parallelism


@pytest.mark.parametrize("raw", ["", "x", "0"])
def test_malformed_cpus_raise(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    for fn in (default_parallelism, block_count):
        with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
            fn()


def test_cpus_parsed_or_defaulted(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert default_parallelism() == 8
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_parallelism() == 32
