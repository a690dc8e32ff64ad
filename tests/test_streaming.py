"""Streaming semantics tests (SURVEY.md §5.2: batch-vs-stream equivalence
and controlled late-data watermark behavior)."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def test_tumbling_batch_equivalence(spark, sf_dir):
    """Stream (availableNow) and batch compute the same tumbling counts."""
    from hh_rumors_presto_spark import io
    from hh_rumors_presto_spark.streaming import (
        read_events_stream,
        run_stream_to_df,
    )

    ev_s = read_events_stream(spark, sf_dir)
    streamed = run_stream_to_df(
        ev_s.groupBy(F.window("ts", "1 hour")).agg(F.count("*").alias("n")),
        output_mode="complete",
        n_rows=io.table_num_rows(sf_dir, "events"),
    ).select(F.col("window.start").alias("ws"), "n")

    ev_b = io.load_events(spark, sf_dir)
    batch = ev_b.groupBy(
        F.window("ts", "1 hour")["start"].alias("ws")
    ).agg(F.count("*").alias("n"))

    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_watermark_drops_late_rows(spark, tmp_path):
    """Two-file source, one file per trigger: rows in file B that fall
    behind the watermark established by file A are dropped from the
    append-mode result."""
    # file A: two on-time rows far apart; file B: one late row in A's range
    us = 1_000_000
    hour = 3600 * us

    def write(path: str, rows: list[tuple[int, int]]):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] * 1000 for r in rows], pa.int64()),  # nanos
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        pq.write_table(tbl, path)

    src = tmp_path / "src"
    src.mkdir()
    base = 1_700_000_000 * us
    a = str(src / "a.parquet")
    b = str(src / "b.parquet")
    c = str(src / "c.parquet")
    # A: events at t0 and t0+10h -> watermark covering t0 established here.
    write(a, [(1, base), (2, base + 10 * hour)])
    # B: on-time event; lets the A-derived watermark take effect (Spark
    # propagates the filtering watermark at batch *planning* time, so it
    # lags one batch).
    write(b, [(3, base + 11 * hour)])
    # C: late event back at t0 (far behind the active watermark) + on-time.
    write(c, [(4, base + 5 * us), (5, base + 12 * hour)])
    os.utime(a, (1, 1))
    os.utime(b, (1_500_000_000, 1_500_000_000))
    os.utime(c, (2_000_000_000, 2_000_000_000))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from pyspark.sql import types as T

    # This test writes its own nanos-as-int64 files above, so the stream
    # schema is the legacy long-ts shape regardless of the fixture vintage.
    ns_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(ns_schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(str(src))
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    import uuid

    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name).collect()
    t0_window = (base // us) // 3600 * 3600
    t0_rows = [
        r["n"] for r in out if r["window"]["start"].timestamp() == t0_window
    ]
    # The t0 window must be emitted exactly once, containing ONLY event 1:
    # event 4 arrived two batches later, behind the active watermark, and
    # was dropped (no resurrected duplicate window row either).
    assert t0_rows == [1], out


def test_outer_join_withholds_unproven_tail(spark, sf_dir):
    """stream_join_outer must emit NULL rows ONLY for clicks whose
    no-match status the final watermark can prove — the naive batch LEFT
    JOIN emits strictly more NULL rows (the unproven tail), and that gap
    is the state-eviction semantics under test."""
    from pyspark.sql import functions as F

    from hh_rumors_presto_spark.registry import QUERIES, load_all_queries

    load_all_queries()
    rows = QUERIES["stream_join_outer"](spark, sf_dir).collect()
    got_nulls = {r.click_id for r in rows if r.purchase_id is None}

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )
    clicks = {r.event_id: r for r in ev.filter(F.col("event_type") == "click").collect()}
    purchases = [r for r in ev.collect() if r.event_type == "purchase"]
    from datetime import timedelta

    max_c = max(r.ts for r in clicks.values())
    max_p = max(r.ts for r in purchases)
    wm = min(max_c, max_p) - timedelta(hours=2)

    naive_nulls = set()
    for cid, c in clicks.items():
        if not any(
            p.user_id == c.user_id and c.ts <= p.ts <= c.ts + timedelta(hours=1)
            for p in purchases
        ):
            naive_nulls.add(cid)
    provable = {
        cid
        for cid in naive_nulls
        if clicks[cid].ts + timedelta(hours=1) < wm
    }
    assert got_nulls == provable
    assert provable < naive_nulls, (
        "no tail click was withheld — the eviction boundary is untested"
    )


def test_stream_merge_upsert_tombstones_and_latest_wins(spark, sf_dir):
    """Brute-force CDC replay: per user the (ts, event_id)-latest record
    wins; users whose latest record is an 'error' tombstone are absent;
    every surviving row carries exactly that winning record."""
    from hh_rumors_presto_spark import io
    from hh_rumors_presto_spark.registry import QUERIES, load_all_queries

    load_all_queries()
    # io.load_events handles both fixture vintages (nanos-as-long bigint
    # vs native micros); a bare cast('timestamp') would misread the bigint
    # vintage as seconds and make this replay spuriously diverge.
    events = io.load_events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "ts"
    ).collect()
    latest = {}
    for r in events:
        key = (r.ts, r.event_id)
        if r.user_id not in latest or key > (latest[r.user_id].ts, latest[r.user_id].event_id):
            latest[r.user_id] = r
    want = {
        u: (r.event_id, r.event_type, r.ts)
        for u, r in latest.items()
        if r.event_type != "error"
    }
    deleted = {u for u, r in latest.items() if r.event_type == "error"}
    got = {
        r.user_id: (r.last_event_id, r.last_type, r.last_ts)
        for r in QUERIES["stream_merge_upsert"](spark, sf_dir).collect()
    }
    assert got == want
    assert deleted, "no user ended on a tombstone — the delete path is untested"
    assert deleted.isdisjoint(got)


def test_stream_stateful_multibatch_invariant(spark, sf_dir, tmp_path):
    """stream_stateful's answer must not depend on micro-batch boundaries.

    The fixture is a single parquet file, so ordinary runs see exactly one
    batch and never exercise the state-carry path (state.exists is False
    until batch 2). Split the events into 5 files and stream them with
    maxFilesPerTrigger=1: the update-mode sink then holds one row per
    user per batch it updated in, and the final-state dedup (max
    n_events, monotone) must still equal the plain batch aggregate."""
    from pyspark.sql import Window as W
    from pyspark.sql.streaming.state import GroupStateTimeout

    from hh_rumors_presto_spark import io
    from hh_rumors_presto_spark.queries.streaming import (
        _OUT_SCHEMA,
        _running_totals,
    )
    from hh_rumors_presto_spark.streaming import run_stream_to_df

    ev = io.load_events(spark, sf_dir)
    split_dir = str(tmp_path / "evsplit")
    ev.repartition(5).write.parquet(split_dir)

    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(split_dir)
    )
    out = (
        src.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals,
            outputStructType=_OUT_SCHEMA,
            stateStructType="n bigint, cents bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = run_stream_to_df(
        out, output_mode="update", n_rows=io.table_num_rows(sf_dir, "events")
    )
    n_users = ev.select("user_id").distinct().count()
    assert sink.count() > n_users, (
        "sink holds one row per user — the run collapsed to a single "
        "micro-batch and the state-carry path went untested"
    )
    w = W.partitionBy("user_id").orderBy(
        F.col("n_events").desc(), F.col("total_cents").desc()
    )
    final = (
        sink.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    expected = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")).alias(
            "total_cents"
        ),
    )
    got = {
        r.user_id: (r.n_events, r.total_cents) for r in final.collect()
    }
    want = {
        r.user_id: (r.n_events, r.total_cents) for r in expected.collect()
    }
    assert got == want


def test_stream_session_state_out_of_order_batches(spark, sf_dir, tmp_path):
    """stream_session_state's interval-merge state is associative and
    commutative, so the sessions must equal the batch gaps-and-islands
    answer even when events arrive SPLIT ACROSS BATCHES OUT OF TIME
    ORDER. Partition the events by event_id % 5 (interleaving timestamps
    across files), stream one file per trigger, and compare the final
    per-user sessions to a driver-side replay over the sorted history."""
    from datetime import timedelta

    from pyspark.sql import Window as W
    from pyspark.sql.streaming.state import GroupStateTimeout

    from hh_rumors_presto_spark import io
    from hh_rumors_presto_spark.queries.streaming import (
        _SESS_OUT_SCHEMA,
        _merge_session_intervals,
    )
    from hh_rumors_presto_spark.streaming import run_stream_to_df

    ev = io.load_events(spark, sf_dir)
    split_dir = str(tmp_path / "evsplit")
    (
        ev.repartition(5, (F.col("event_id") % 5))
        .write.parquet(split_dir)
    )
    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(split_dir)
        .select("user_id", F.unix_micros("ts").alias("ts_us"))
    )
    out = src.groupBy("user_id").applyInPandasWithState(
        _merge_session_intervals,
        outputStructType=_SESS_OUT_SCHEMA,
        stateStructType=(
            "starts array<bigint>, ends array<bigint>, counts array<bigint>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = run_stream_to_df(
        out, output_mode="update", n_rows=io.table_num_rows(sf_dir, "events")
    )
    n_users = ev.select("user_id").distinct().count()
    assert (
        sink.select("user_id", "n_events_total").distinct().count() > n_users
    ), "collapsed to one micro-batch — the cross-batch merge went untested"
    w = W.partitionBy("user_id")
    # the state UDF emits session bounds as bigint microseconds (the
    # tz-independent contract); convert Spark-side like the query does
    got = {
        (r.user_id, r.session_no): (
            r.session_start,
            r.session_last,
            r.n_events,
        )
        for r in (
            sink.withColumn("_mx", F.max("n_events_total").over(w))
            .filter(F.col("n_events_total") == F.col("_mx"))
            .select(
                "user_id",
                "session_no",
                F.timestamp_micros("session_start_us").alias("session_start"),
                F.timestamp_micros("session_last_us").alias("session_last"),
                "n_events",
            )
            .collect()
        )
    }

    rows = sorted(
        ((r.user_id, r.ts, r.event_id) for r in ev.select(
            "user_id", "ts", "event_id").collect()),
    )
    want = {}
    gap = timedelta(minutes=30)
    cur = {}  # user -> [no, start, last, n]
    for user, ts, _eid in rows:
        c = cur.get(user)
        if c is not None and ts - c[2] <= gap:
            c[2] = ts
            c[3] += 1
        else:
            if c is not None:
                want[(user, c[0])] = (c[1], c[2], c[3])
            no = c[0] + 1 if c is not None else 1
            cur[user] = c = [no, ts, ts, 1]
    for user, c in cur.items():
        want[(user, c[0])] = (c[1], c[2], c[3])
    assert got == want
