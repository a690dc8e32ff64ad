"""run_stream_to_df and fold_stream_state size the state store from the
source row count (session.tasks_for_rows).  Partitioning the state never
changes a result, and the memory sink's catalog entry does not outlive
the call."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

import __spark_entry__ as ent
from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.streaming import helpers


def _rows(df):
    return sorted(repr(sorted(r.asDict().items())) for r in df.collect())


class _ShufflePartitions(StreamingQueryListener):
    """Collects each stateful operator's shuffle-partition count."""

    def __init__(self) -> None:
        self.seen: set[int] = set()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        for op in json.loads(event.progress.json).get("stateOperators", []):
            self.seen.add(op["numShufflePartitions"])

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


@pytest.mark.parametrize(
    "key",
    [
        "stream_tumbling",  # windowed aggregation state
        "stream_join",  # stream-stream join state, both sides
        "stream_dedup",  # dropDuplicates key state
        "stream_stateful",  # applyInPandasWithState, folded by foreachBatch
    ],
)
def test_results_invariant_to_state_partitions(spark, sf_dir, key, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    listener = _ShufflePartitions()
    spark.streams.addListener(listener)
    results = {}
    try:
        # 1000 source rows: one partition per 10^9 rows -> 1, per row -> 8
        for rows_per, want in ((10**9, 1), (1, 8)):
            monkeypatch.setattr(helpers, "_ROWS_PER_STATE_PARTITION", rows_per)
            monkeypatch.setattr(helpers, "_ROWS_PER_PYTHON_STATE_PARTITION", rows_per)
            listener.seen.clear()
            results[want] = _rows(ent.queries()[key](spark, sf_dir))
            spark._jsc.sc().listenerBus().waitUntilEmpty()
            assert listener.seen == {want}, (key, listener.seen)
    finally:
        spark.streams.removeListener(listener)
    assert results[1], key
    assert results[1] == results[8], f"{key}: results differ across state partitions"


@pytest.mark.parametrize(
    "key, want", [("stream_stateful", 8), ("stream_tumbling", 1)]
)
def test_python_state_has_its_own_row_budget(spark, sf_dir, key, want, monkeypatch):
    """State kept in a Python worker is sized per
    _ROWS_PER_PYTHON_STATE_PARTITION, every other state per
    _ROWS_PER_STATE_PARTITION."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    monkeypatch.setattr(helpers, "_ROWS_PER_STATE_PARTITION", 10**9)
    monkeypatch.setattr(helpers, "_ROWS_PER_PYTHON_STATE_PARTITION", 1)
    listener = _ShufflePartitions()
    spark.streams.addListener(listener)
    try:
        ent.queries()[key](spark, sf_dir).collect()
        spark._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert listener.seen == {want}, (key, listener.seen)


def test_stream_sink_view_is_dropped(spark, sf_dir):
    got = ent.queries()["stream_tumbling"](spark, sf_dir)
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("stream_out_")
    ]
    ev = io.load_events(spark, sf_dir)
    want = ev.groupBy(
        F.window("ts", "1 hour")["start"].alias("window_start"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(28,2)")).cast("double").alias("total_value"),
    )
    # the returned DataFrame still reads the sink after the view is gone
    assert _rows(got) == _rows(want)
    assert len(_rows(got)) > 0
