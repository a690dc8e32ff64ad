"""Structured Streaming helpers (SURVEY.md §2.B "Streaming").

The fixture is a static parquet file, so streams run with
``trigger(availableNow=True)`` into a memory sink and the helper returns the
materialized result as a batch DataFrame — the same pattern as production
backfill/replay jobs. In production the source line changes to Kafka/files
and the trigger to processingTime; every transformation below is unchanged.

``fold_stream_state`` is the foreachBatch partial-state merge: each
micro-batch folds into one persisted state, and the answer is that state,
never sink rows.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.session import default_parallelism, tasks_for_rows

# Source rows per state-store partition.  Each partition is one more
# state store to load and commit per micro-batch.  Medians of 4-5 warm
# runs on a 4-core host, 1/2/4/8 partitions: at 100k events
# stream_tumbling 0.75/0.87/0.85/0.98 s, stream_dedup 0.76/0.79/0.86/
# 0.98 s, stream_join 1.85/1.76/1.91/2.88 s; at 1M events stream_join
# 6.5/4.1/3.2/3.9 s and stream_dedup 1.62/1.48/1.34/1.51 s.  So 100k
# rows run on one partition and 1M rows on four.
_ROWS_PER_STATE_PARTITION = 250_000
# The same, for a state kept in a Python worker (applyInPandasWithState,
# transformWithStateInPandas): there the per-row Python work, not each
# store's load and commit, dominates.  Medians of 4 warm runs on a
# 4-core host, 1/2/4 partitions: stream_stateful 1.71/1.70/1.93 s at 1k
# events, 1.73/1.59/1.77 s at 10k, 3.92/3.12/2.55 s at 100k;
# stream_session_state 1.46/1.36/1.52 s, 1.82/1.70/1.79 s and
# 6.76/4.48/3.88 s.  So 1k rows run on one partition, 10k on two and
# 100k on four.
_ROWS_PER_PYTHON_STATE_PARTITION = 5_000
# Logical plan nodes whose state lives in a Python worker.
_PYTHON_STATE_NODES = frozenset(
    {"FlatMapGroupsInPandasWithState", "TransformWithStateInPySpark"}
)


def _split_events_dir(
    spark: SparkSession, sf_dir: str, n: int, schema: T.StructType
) -> str:
    """Materialize the events fixture as ``n`` interleaved parquet files
    (keyed by event_id % n) in a scratch dir, so a stream with
    maxFilesPerTrigger=1 is forced through n out-of-order micro-batches —
    the environment-parity knob driver_sim --env-parity turns (the
    driver's micro-batching is outside our control; every streaming key
    must be invariant to it). The copy is written with the fixture's
    footer ``schema``, so it reads back with that schema too. Written
    once per (fixture path, n) in a session: a restarted stream must
    see the same files."""
    out = io.scoped_tmp_dir(spark, f"evsplit{n}", sf_dir)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        ev = spark.read.schema(schema).parquet(io.table_path(sf_dir, "events"))
        ev.repartition(n, F.col("event_id") % n).write.mode(
            "overwrite"
        ).parquet(out)
    return out


def _stream_split() -> int:
    """File count of the split source from $HH_STREAM_SPLIT (0, no split,
    when unset or empty).  A non-integer or negative value raises here,
    where the query is built, instead of deep inside a stream."""
    raw = os.environ.get("HH_STREAM_SPLIT") or "0"
    if not raw.isdecimal():
        raise ValueError(f"HH_STREAM_SPLIT must be an integer >= 0, got {raw!r}")
    return int(raw)


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    single_batch: bool = False,
    force_split: int | None = None,
) -> DataFrame:
    """File-source stream over the events fixture, read with the fixture's
    footer schema, with ``ts`` normalized to a microsecond TimestampType
    (io.events_ts_micros, as in io.load_events).

    HH_STREAM_SPLIT=<n> (env var, harness-only) reroutes the source
    through n interleaved files at one file per micro-batch, forcing the
    multi-batch arrival order the external driver may impose.

    ``single_batch=True`` pins the canonical one-file source regardless of
    HH_STREAM_SPLIT, guaranteeing ONE micro-batch under availableNow (a
    file source with no maxFilesPerTrigger takes every available file in
    the first batch). Watermark LATE-DROP keys use it: the set of dropped
    rows is by definition a function of the micro-batch partitioning —
    which the driver, not the query, controls — so the hash-verifiable
    contract is the single-batch arrival, where nothing is ever late and
    the final watermark deterministically selects the emitted windows.

    ``force_split=<n>`` pins an n-file interleaved multi-batch source
    regardless of environment — the inverse of ``single_batch``. The
    late-drop companion keys use it: they EXIST to exercise mid-stream
    watermark advance, so their batching must be part of the query, not
    left to the runner (the result is then identical whether or not the
    harness sets HH_STREAM_SPLIT)."""
    if single_batch and force_split:
        raise ValueError("single_batch and force_split are exclusive")
    split_n = 0 if single_batch else (force_split or _stream_split())
    schema = io.read_footer(io.table_path(sf_dir, "events")).schema
    io.read_nanos_as_long(spark, schema)
    reader = spark.readStream.schema(schema).format("parquet")
    if split_n > 1:
        src_dir = _split_events_dir(spark, sf_dir, split_n, schema)
        reader = reader.option("pathGlobFilter", "*.parquet").option(
            "maxFilesPerTrigger", "1"
        )
    else:
        src_dir = sf_dir
        reader = reader.option("pathGlobFilter", "events.parquet")
    return io.events_ts_micros(reader.load(src_dir), schema)


def _python_state(df: DataFrame) -> bool:
    """Whether the logical plan of ``df`` keeps state in a Python worker."""
    todo = [df._jdf.queryExecution().logical()]
    while todo:
        node = todo.pop()
        if node.nodeName() in _PYTHON_STATE_NODES:
            return True
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return False


@contextmanager
def _stream_conf(
    streams: Sequence[DataFrame], n_rows: int, state_store: str | None = None
) -> Iterator[None]:
    """Session confs for running ``streams`` synchronously, restored on
    exit.

    ``spark.sql.shuffle.partitions`` sizes the state store (streaming
    shuffles have no AQE, so the session's batch-oriented value is wrong
    for them); a stream fixes the count at its first planning.  It is
    one partition per ``_ROWS_PER_STATE_PARTITION`` source rows (per
    ``_ROWS_PER_PYTHON_STATE_PARTITION`` when a stream keeps its state in
    a Python worker) capped at the core count (session.tasks_for_rows),
    where ``n_rows`` bounds the source rows (the footer row count of the
    source table).

    ``state_store="rocksdb"`` flips every stateful operator to the
    RocksDB state store (spill-to-disk state, the provider a production
    cluster runs for large keyed state; rocksdbjni ships in Spark's
    jars).  Results are provider-invariant —
    pinned by tests/test_streaming_rocksdb.py.  The default stays the
    HDFS-backed in-memory provider, right for fixture-sized state."""
    per_partition = (
        _ROWS_PER_PYTHON_STATE_PARTITION
        if any(map(_python_state, streams))
        else _ROWS_PER_STATE_PARTITION
    )
    state_partitions = tasks_for_rows(
        n_rows, per_partition, default_parallelism()
    )
    spark = streams[0].sparkSession
    parts_conf = "spark.sql.shuffle.partitions"
    prov_conf = "spark.sql.streaming.stateStore.providerClass"
    old_parts = spark.conf.get(parts_conf)
    old_prov = spark.conf.get(
        prov_conf,
        "org.apache.spark.sql.execution.streaming."
        "state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(parts_conf, str(state_partitions))
    if state_store == "rocksdb":
        spark.conf.set(
            prov_conf,
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider",
        )
    try:
        yield
    finally:
        spark.conf.set(parts_conf, old_parts)
        spark.conf.set(prov_conf, old_prov)


def run_stream_to_df(
    stream_df: DataFrame,
    n_rows: int,
    output_mode: str = "complete",
    state_store: str | None = None,
) -> DataFrame:
    """Drive a streaming DataFrame to completion (availableNow) into a
    memory sink; return the sink contents as a batch DataFrame.

    ``n_rows`` and ``state_store`` size and pick the state store, as in
    :func:`_stream_conf`; the
    ``stream_rocksdb_state`` key passes ``state_store="rocksdb"`` so it
    always exercises the production provider.
    """
    spark = stream_df.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    with _stream_conf([stream_df], n_rows, state_store):
        (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    # the resolved plan reads the sink itself, so the catalog entry can
    # go: otherwise every run keeps its result for the session's life
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def fold_stream_state(
    streams: Sequence[DataFrame],
    fold: Callable[[DataFrame], DataFrame],
    n_rows: int,
) -> DataFrame:
    """Run each stream in turn to completion (availableNow, update mode)
    through foreachBatch; every micro-batch replaces the one persisted
    state with ``fold(state.unionByName(batch))``.  Return the final
    state, checkpointed locally so the scratch directory can go.

    ``n_rows`` bounds the streams' source rows and sizes their state
    stores (:func:`_stream_conf`).

    ``fold`` must be associative over its own output: fold(a ∪ b) ==
    fold(fold(a) ∪ b).  The result is then the same however the runner
    batched the sources.  The state is read back with the schema it was
    written with, so no inference job runs, and only one state version
    is kept on disk.  If no micro-batch fires, the answer is ``fold`` of
    an empty batch of ``streams[0]``'s schema.
    """
    spark = streams[0].sparkSession
    with tempfile.TemporaryDirectory(prefix="hh_fold_") as tmp:
        # (path, schema) of every state version written; only the last
        # one is still on disk
        versions: list[tuple[str, T.StructType]] = []

        def merge(batch: DataFrame, epoch_id: int) -> None:
            if versions:
                path, schema = versions[-1]
                old = batch.sparkSession.read.schema(schema).parquet(path)
                batch = old.unionByName(batch)
            state = fold(batch)
            path = os.path.join(tmp, f"state_{len(versions)}")
            state.write.parquet(path)
            versions.append((path, state.schema))
            if len(versions) > 1:
                shutil.rmtree(versions[-2][0])

        with _stream_conf(streams, n_rows):
            for i, stream in enumerate(streams):
                (
                    stream.writeStream.foreachBatch(merge)
                    .outputMode("update")
                    .trigger(availableNow=True)
                    .option("checkpointLocation", os.path.join(tmp, f"chk_{i}"))
                    .start()
                    .awaitTermination()
                )
        if not versions:
            return fold(spark.createDataFrame([], streams[0].schema))
        path, schema = versions[-1]
        return spark.read.schema(schema).parquet(path).localCheckpoint(
            eager=True
        )
