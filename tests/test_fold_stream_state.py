"""streaming.fold_stream_state: the foreachBatch partial-state fold.

Each micro-batch replaces the one persisted state with fold(state ∪ batch);
the state is read back with the schema it was written with, and the
answer is checkpointed before the scratch directory goes.
"""

from __future__ import annotations

import contextlib
import glob
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hh_rumors_presto_spark.streaming import fold_stream_state

SCHEMA = "k string, v bigint"


@pytest.fixture()
def scratch_tmp(tmp_path, monkeypatch):
    """An empty directory standing in for the system temp dir."""
    d = tmp_path / "tmp"
    d.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(d))
    return d


@contextlib.contextmanager
def _jobs(spark, group: str):
    """Collect the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    ids: list[int] = []
    sc.setJobGroup(group, group, False)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _write_files(d, parts: list[list[tuple[str, int]]]) -> str:
    """One parquet file per entry of ``parts`` under directory ``d``."""
    d.mkdir()
    for i, rows in enumerate(parts):
        k, v = zip(*rows)
        pq.write_table(
            pa.table({"k": pa.array(k), "v": pa.array(v, pa.int64())}),
            str(d / f"part{i}.parquet"),
        )
    return str(d)


def _stream(spark, path: str):
    # one file per micro-batch, so a directory of n files folds n times
    return (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


def _sum(df):
    return df.groupBy("k").agg(F.sum("v").alias("v"))


def test_two_streams_fold_to_the_batch_aggregate(spark, tmp_path, scratch_tmp):
    a = _write_files(
        tmp_path / "a",
        [[("x", 1), ("y", 2)], [("x", 3)], [("z", 4), ("y", 5)]],
    )
    b = _write_files(tmp_path / "b", [[("x", 10), ("w", 7)]])
    on_disk: list[int] = []

    def fold(df):
        on_disk.append(len(glob.glob(str(scratch_tmp / "hh_fold_*/state_*"))))
        return _sum(df)

    parts = spark.conf.get("spark.sql.shuffle.partitions")
    got = fold_stream_state([_stream(spark, a), _stream(spark, b)], fold, n_rows=6)
    # the state-store sizing is scoped to the stream runs
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts
    want = _sum(spark.read.schema(SCHEMA).parquet(a, b))
    assert sorted(got.collect()) == sorted(want.collect())
    assert got.schema.simpleString() == "struct<k:string,v:bigint>"
    # four micro-batches; each folds onto at most one stored version
    assert on_disk == [0, 1, 1, 1]
    assert os.listdir(scratch_tmp) == []


def test_no_micro_batch_returns_fold_of_an_empty_batch(
    spark, tmp_path, scratch_tmp
):
    empty = tmp_path / "empty"
    empty.mkdir()
    # the extra column shows the answer has the fold's schema, not the
    # stream's (the fold never sees a batch here)
    got = fold_stream_state(
        [_stream(spark, str(empty))],
        lambda df: _sum(df).withColumn("n", F.lit(1)),
        n_rows=0,
    )
    assert got.collect() == []
    assert got.schema.simpleString() == "struct<k:string,v:bigint,n:int>"
    assert os.listdir(scratch_tmp) == []


def test_one_driver_job_the_eager_checkpoint(spark, tmp_path, scratch_tmp):
    a = _write_files(tmp_path / "a", [[("x", 1)], [("y", 2)]])
    with _jobs(spark, "fold-state/call") as jobs:
        fold_stream_state([_stream(spark, a)], _sum, n_rows=2)
    assert len(jobs) == 1
    # control: an unschematized read of a state-shaped directory runs
    # the schema-inference job the helper avoids
    with _jobs(spark, "fold-state/control") as control:
        fold_stream_state([_stream(spark, a)], _sum, n_rows=2)
        spark.read.parquet(a)
    assert len(control) == 2
