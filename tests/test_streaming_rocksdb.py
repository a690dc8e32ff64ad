"""RocksDB state-store provider invariance (tier-3 item 2, started in
round 10).

``spark.sql.streaming.stateStore.providerClass`` picks the state store
behind every stateful streaming operator. RocksDB is the provider a
production cluster runs when keyed state exceeds executor memory
(spill-to-disk, incremental checkpointing; rocksdbjni ships in Spark's
jars). The result of every stateful operator must be byte-identical
under either provider: the store is an implementation detail of state
persistence, never of semantics. This suite pins that for one
representative of each stateful family (windowed agg, streaming
dropDuplicates, arbitrary typed state) by running the SAME key under
both providers in one session and comparing full sorted results.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as ent

_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _rows(df):
    return sorted(repr(sorted(r.asDict().items())) for r in df.collect())


@pytest.mark.parametrize(
    "key",
    [
        "stream_tumbling",  # windowed aggregation state
        "stream_dedup",  # dropDuplicates key state
        "stream_typed_state",  # arbitrary stateful processing
    ],
)
def test_state_store_provider_invariance(spark, sf_dir, key):
    base = _rows(ent.queries()[key](spark, sf_dir))
    before = spark.conf.get(_PROVIDER)
    spark.conf.set(_PROVIDER, _ROCKSDB)
    try:
        rocks = _rows(ent.queries()[key](spark, sf_dir))
        # the stream helper restores the provider it found
        assert spark.conf.get(_PROVIDER) == _ROCKSDB
    finally:
        spark.conf.set(_PROVIDER, before)
    assert base == rocks, f"{key}: results differ across state-store providers"
