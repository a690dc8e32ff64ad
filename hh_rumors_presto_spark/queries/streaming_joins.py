"""Stream-stream join + foreachBatch sink (SURVEY.md §2.B streaming
closure; these are the two Structured Streaming capabilities beyond
windowed aggregation that production pipelines lean on).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec
from hh_rumors_presto_spark.registry import query
from hh_rumors_presto_spark.streaming import (
    fold_stream_state,
    read_events_stream,
)


@query(
    "stream_join",
    oracle="""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
    FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'click') c
    JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 1 HOUR
    """,
)
def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases attributed to clicks by the same
    user within 1 hour. Both sides carry watermarks and the time-bound join
    condition lets the state store evict rows once the watermark passes
    click_ts + 1h — bounded state, the non-negotiable property for an
    unbounded stream join.

    Watermark sizing: this is a bounded REPLAY of a 30-day fixture, so the
    delay must cover the replay span (35 days here) — with a tight delay,
    an out-of-order multi-batch arrival (which the runner, not the query,
    controls) evicts state before late matches arrive and the result
    depends on batch boundaries (caught by driver_sim --env-parity's
    splitstream variant). A live deployment sizes the delay to its real
    out-of-orderness instead; the dataflow is identical."""
    ev = read_events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "35 days")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "35 days")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("click_id", "purchase_id", "user_id")
    # run to completion via the shared helper semantics (append mode is the
    # only mode for stream-stream inner joins)
    from hh_rumors_presto_spark.streaming import run_stream_to_df

    return run_stream_to_df(
        joined, output_mode="append", n_rows=io.table_num_rows(sf_dir, "events")
    )


@query(
    "stream_foreach_batch",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch lands as parquet through a batch
    writer (the exactly-once pattern for sinks without a streaming
    connector — idempotent per epochId). The query returns the re-read,
    re-aggregated sink contents."""
    ev = read_events_stream(spark, sf_dir).select("event_id", "event_type")
    with tempfile.TemporaryDirectory(prefix="hh_feb_") as out_dir:

        def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
            (
                batch_df.write.mode("append")
                .parquet(os.path.join(out_dir, f"epoch={epoch_id}"))
            )

        q = (
            ev.writeStream.foreachBatch(write_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(out_dir, "_chk"))
            .start()
        )
        q.awaitTermination()
        # Materialize the tiny aggregate off the temp dir so the whole
        # sink+checkpoint tree can be removed before returning (repeated
        # verify/fuzz sweeps would otherwise accumulate a dir per call).
        return (
            spark.read.schema(ev.schema)
            .parquet(os.path.join(out_dir, "epoch=*"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .localCheckpoint(eager=True)
        )


@query(
    "stream_rollup_merge",
    oracle="""
    SELECT event_type,
           date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(CAST(value AS DECIMAL(28,10))), 2) AS DOUBLE) AS total
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally MAINTAINED hourly rollup (the streaming twin of
    ts_multires_rollup): ``fold_stream_state`` reduces each micro-batch
    together with the persisted rollup to (key, count, exact DECIMAL sum)
    partials — read-modify-write of partials, never a reprocess of raw
    history. Two separate stream runs feed disjoint halves of the fixture
    through the same fold, so the final state really is built by merging
    into existing state; DECIMAL partials make the result independent of
    how history was batched (the oracle aggregates raw directly).

    Scale: per refresh, work is O(|batch| + |touched buckets|); state
    rewrite is keyed and could be a partition-scoped MERGE in a lakehouse
    table — the pattern is the same."""
    halves = [
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_id") % 2 == half)
        .select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bucket"),
            F.lit(1).cast("long").alias("n"),
            dec(F.col("value"), 10).alias("tot"),
        )
        for half in (0, 1)
    ]
    final = fold_stream_state(
        halves,
        lambda df: df.groupBy("event_type", "bucket").agg(
            F.sum("n").alias("n"), F.sum("tot").alias("tot")
        ),
        n_rows=io.table_num_rows(sf_dir, "events"),
    )
    return final.select(
        "event_type",
        "bucket",
        F.col("n").cast("long").alias("n"),
        F.round("tot", 2).cast("double").alias("total"),
    )


@query(
    "stream_checkpoint_resume",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once resume semantics: the same availableNow stream runs
    TWICE against one checkpoint; the file source's committed offsets
    make the second run a no-op (zero non-empty micro-batches), so the
    appended sink still holds each input row exactly once — asserted
    in-code, and proven end-to-end by the oracle comparing the sink's
    re-aggregation against a single clean pass over the source. This is
    the restart-after-crash contract a 100 TB ingest job leans on:
    reprocessing is governed by the checkpoint, not by operator memory."""
    calls = {"nonempty": 0}
    with tempfile.TemporaryDirectory(prefix="hh_ckpt_") as out_dir:
        chk, data = os.path.join(out_dir, "_chk"), os.path.join(out_dir, "data")

        def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
            n = batch_df.count()
            if n:
                calls["nonempty"] += 1
                batch_df.write.mode("append").parquet(data)

        for run in (1, 2):
            ev = read_events_stream(spark, sf_dir).select(
                "event_id", "event_type"
            )
            q = (
                ev.writeStream.foreachBatch(write_batch)
                .trigger(availableNow=True)
                .option("checkpointLocation", chk)
                .start()
            )
            q.awaitTermination()
            if run == 1:
                assert calls["nonempty"] >= 1, "first run must process data"
                after_first = calls["nonempty"]
        assert calls["nonempty"] == after_first, (
            "checkpoint resume reprocessed data — exactly-once broken"
        )
        # materialize the tiny aggregate so the sink + checkpoint tree can
        # be removed before returning
        return (
            spark.read.schema(ev.schema)
            .parquet(data)
            .groupBy("event_type")
            .agg(F.count("*").cast("long").alias("n"))
            .localCheckpoint(eager=True)
        )


@query(
    "stream_join_outer",
    oracle="""
    WITH c AS (SELECT event_id AS click_id, user_id,
                      CAST(ts AS TIMESTAMP) AS ts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id,
                 CAST(ts AS TIMESTAMP) AS ts
          FROM events WHERE event_type = 'purchase'),
    wm AS (
        -- the final global watermark: min over both streams' (max event
        -- time - delay); unmatched left rows are emitted only once the
        -- watermark proves no future match can arrive
        SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
               - INTERVAL 2 HOUR AS w
    ),
    matched AS (
        SELECT c.click_id, p.purchase_id, c.user_id
        FROM c JOIN p
          ON p.user_id = c.user_id
         AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 1 HOUR
    )
    SELECT click_id, purchase_id, user_id FROM matched
    UNION ALL
    SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id, c.user_id
    FROM c, wm
    WHERE c.ts + INTERVAL 1 HOUR < wm.w
      AND NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.user_id = c.user_id
            AND p.ts BETWEEN c.ts AND c.ts + INTERVAL 1 HOUR
      )
    """,
)
def stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: clicks with their attributed
    purchase, or NULL once the watermark PROVES no purchase can still
    arrive — the state-eviction semantics that make outer joins possible
    on unbounded streams at all. Clicks younger than (final watermark -
    1h match window) stay in state unemitted, and the oracle models that
    boundary EXACTLY (wm = min of both streams' max-ts - 2h delay), so
    even the withheld tail is value-hash-verified rather than waved off
    as rows-only.

    Shape at scale: identical to stream_join (keyed state, time-bound
    condition bounds state size); the only addition is the NULL-side
    emission on watermark advance.

    Arrival-order caveat (same class as the declared-rows-only
    stream_watermark): the NULL-emission boundary exists only under a
    TIGHT watermark, and a tight watermark makes the result depend on
    the runner's micro-batch arrival order — an out-of-order multi-batch
    split evicts state mid-stream (flagged by driver_sim --env-parity's
    splitstream variant). The oracle models the deterministic single-
    batch execution the single-file fixture source produces; stream_join
    demonstrates the span-covering-watermark replay configuration that
    is batching-invariant."""
    ev = read_events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
        ),
        "leftOuter",
    ).select("click_id", "purchase_id", "user_id")
    from hh_rumors_presto_spark.streaming import run_stream_to_df

    return run_stream_to_df(
        joined, output_mode="append", n_rows=io.table_num_rows(sf_dir, "events")
    )


@query(
    "stream_merge_upsert",
    oracle="""
    WITH ranked AS (
        SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC
               ) AS rn
        FROM events
    )
    SELECT user_id,
           event_id AS last_event_id,
           event_type AS last_type,
           ts AS last_ts
    FROM ranked
    WHERE rn = 1 AND event_type <> 'error'
    """,
)
def stream_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — the incremental twin of the batch
    merge_upsert: each micro-batch's records are keyed upserts for
    user_id ('error' = DELETE tombstone), merged latest-wins by
    (ts, event_id) into the persisted keyed state by
    ``fold_stream_state``. Tombstones STAY in state so a late-arriving
    older record can never resurrect a deleted key; they are dropped
    only in the final read-out. Two independent stream runs feed
    disjoint halves of the fixture through the same merge, so the
    final table really is built by merging into existing state — and
    because per-key latest-wins max is associative, the result is
    byte-identical no matter how history was batched (the oracle
    ranks the raw history directly).

    Scale: per refresh the work is O(|batch| + |touched keys|); the
    state rewrite is keyed, so on a lakehouse table it becomes the
    exact merge_upsert join, partition-pruned to touched keys."""
    uts = F.struct(F.col("ts"), F.col("event_id"))
    rec = F.struct(F.col("event_id"), F.col("event_type"), F.col("ts"))

    def latest_per_key(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("user_id")
            .agg(F.max_by(rec, uts).alias("rec"))
            .select("user_id", "rec.event_id", "rec.event_type", "rec.ts")
        )

    halves = [
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_id") % 2 == half)
        .select("user_id", "event_id", "event_type", "ts")
        for half in (0, 1)
    ]
    final = fold_stream_state(
        halves, latest_per_key, n_rows=io.table_num_rows(sf_dir, "events")
    )
    return (
        final.filter(F.col("event_type") != "error")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.col("ts").alias("last_ts"),
        )
    )
