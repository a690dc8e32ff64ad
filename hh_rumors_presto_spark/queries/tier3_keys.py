"""Registry graduation of the round-10 tier-3 modules (VERDICT r10
item 3): each module that previously existed only as pytest coverage
becomes a driver-visible CORRECTNESS row.

- ``sink_txnlog`` — the DSv2 WRITE path (sources/txnlog_datasource.py,
  format ``hh_txnlog``) driven write->read through Spark's own
  DataFrame API: two appends, then an overwrite, read back via log
  replay and aggregated; the oracle recomputes the final snapshot from
  the source table, so a lost commit, a visible stale file, or a
  column-order transposition all flip the hash. Pairs with the
  existing ``scan_txn_log`` read-discipline key (breadth_round11.py).
- ``stream_rocksdb_state`` — the streaming dedup + aggregation chain
  forced onto the RocksDB state-store provider (the spill-to-disk
  provider a production cluster runs; rocksdbjni ships in Spark's
  jars). Provider invariance stops being a pytest-only claim
  (tests/test_streaming_rocksdb.py) and becomes a driver hash row.
- ``stream_crash_recovery`` — the crash/resume exactly-once contract
  (tests/test_streaming_crash_recovery.py) as a key: a multi-batch
  stream is stopped after its first commit, restarted against the
  same checkpoint into an idempotent epoch-keyed parquet sink, and
  the union of epochs must equal one clean batch pass — no gaps, no
  duplicates, whatever micro-batch the stop landed in.
- ``constraints_infer`` — catalog constraint inference
  (operators/constraints.py): candidate-key detection (exact distinct
  == rows, zero nulls) over orders plus FK containment checks across
  the star schema, including a deliberately-violated pair so the
  violation counter is itself an oracle-pinned number.

Reference scope note: the reference trusts its feed implicitly
(fetchRumors.js:189-196 dedups on slug, no persistence); these keys
generalize that trust into checkable, restartable, governed surfaces.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec
from hh_rumors_presto_spark.operators.constraints import candidate_keys
from hh_rumors_presto_spark.registry import query
from hh_rumors_presto_spark.streaming import (
    read_events_stream,
    run_stream_to_df,
)


# --------------------------------------------------------------------------
# sink_txnlog


@query(
    "sink_txnlog",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(CAST(2 * o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_orderkey % 3 <> 2
    GROUP BY 1
    """,
)
def sink_txnlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSv2 write->read roundtrip through the ``hh_txnlog`` table format:
    append keys %3=0, append keys %3=1 (two commits, two log versions),
    then OVERWRITE with the doubled-price projection of both (commit 3
    logs remove() of every prior file + add() of the new ones). The
    read side replays the log and must see exactly the overwrite state —
    the appends' files exist on disk but are provably invisible. The
    aggregate (count, key checksum, price total per status) hash-matches
    the oracle's direct recomputation only if commit atomicity, log
    replay, and by-name column projection all hold.

    Scale: data files write/read fully parallel (one task per
    partition/file); only the KB-sized JSON log entry is driver-side —
    the standard lakehouse commit discipline (cites
    sources/txnlog_datasource.py module docstring)."""
    from hh_rumors_presto_spark.sources.txnlog_datasource import (
        TxnLogDataSource,
    )

    spark.dataSource.register(TxnLogDataSource)
    orders = io.load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    tbl = io.scoped_tmp_dir(spark, "sinktxn", sf_dir)
    shutil.rmtree(tbl, ignore_errors=True)
    try:
        for m in (0, 1):
            base.filter(F.col("o_orderkey") % 3 == m).write.format(
                "hh_txnlog"
            ).mode("append").option("path", tbl).save()
        final = base.filter(F.col("o_orderkey") % 3 != 2).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        final.write.format("hh_txnlog").mode("overwrite").option(
            "path", tbl
        ).save()
        back = spark.read.format("hh_txnlog").option("path", tbl).load()
        return (
            back.groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum(dec(F.col("o_totalprice"), 2))
                .cast("double")
                .alias("total_price"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tbl, ignore_errors=True)


# --------------------------------------------------------------------------
# stream_rocksdb_state


@query(
    "stream_rocksdb_state",
    oracle="""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY 1
    """,
)
def stream_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distinct-user census per event_type under the FORCED
    RocksDB state-store provider: dropDuplicates over (event_type,
    user_id) carries the full distinct-key set as keyed state (the
    state shape that outgrows executor heaps first at 100 TB — exactly
    what RocksDB's spill-to-disk provider exists for), then a running
    count per type. Results must be provider-invariant; this key makes
    that a driver-verified hash, not just the pytest pin
    (tests/test_streaming_rocksdb.py)."""
    ev = read_events_stream(spark, sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    distinct_users = ev.select("event_type", "user_id").dropDuplicates(
        ["event_type", "user_id"]
    )
    agg = distinct_users.groupBy("event_type").agg(
        F.count("*").alias("n_users")
    )
    return run_stream_to_df(
        agg,
        output_mode="complete",
        state_store="rocksdb",
        n_rows=io.table_num_rows(sf_dir, "events"),
    ).select("event_type", F.col("n_users").cast("long"))


# --------------------------------------------------------------------------
# stream_crash_recovery


@query(
    "stream_crash_recovery",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events
    GROUP BY 1
    """,
)
def stream_crash_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crash/resume exactly-once as a driver row: a 5-micro-batch file
    stream writes through the idempotent epoch-keyed foreachBatch sink
    (deterministic ``epoch=<id>`` dir + overwrite — a replayed epoch
    rewrites itself), is STOPPED as soon as its first batch commits
    (the crash), then restarted against the same checkpoint with
    availableNow to drain the rest. The union of epoch directories must
    equal one clean pass over the source: per-type count == distinct
    count == the oracle's batch census, regardless of which batch
    boundary the stop landed on (n == n_ids is the no-duplicate proof
    the hash carries). Cites tests/test_streaming_crash_recovery.py —
    this is that drive, graduated."""
    out_dir = io.scoped_tmp_dir(spark, "crashkey", sf_dir)
    chk, data = os.path.join(out_dir, "_chk"), os.path.join(out_dir, "data")
    shutil.rmtree(out_dir, ignore_errors=True)
    written: list[int] = []

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(data, f"epoch={epoch_id}")
        )
        written.append(epoch_id)

    try:
        src = read_events_stream(spark, sf_dir, force_split=5).select(
            "event_id", "event_type"
        )
        q = (
            src.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", chk)
            .trigger(processingTime="1 second")
            .start()
        )
        deadline = time.time() + 120
        while not written and time.time() < deadline:
            time.sleep(0.1)
        q.stop()  # the crash: between (or inside) micro-batches
        q.awaitTermination()
        src2 = read_events_stream(spark, sf_dir, force_split=5).select(
            "event_id", "event_type"
        )
        q2 = (
            src2.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()
        got = spark.read.schema(src.schema).parquet(
            os.path.join(data, "epoch=*")
        )
        return (
            got.groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n"),
                F.countDistinct("event_id").cast("long").alias("n_ids"),
                F.sum("event_id").cast("long").alias("id_sum"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


# --------------------------------------------------------------------------
# constraints_infer


_FK_CHECKS = (
    # (label, child table, child col, parent table, parent col)
    ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey",
     "part", "p_partkey"),
    # deliberately violated: customer keys are NOT supplier keys, so the
    # violation counter itself is an oracle-pinned number
    ("orders.o_custkey->supplier.s_suppkey", "orders", "o_custkey",
     "supplier", "s_suppkey"),
)

_CK_COLS = ("o_orderkey", "o_custkey", "o_orderstatus")


def _fk_oracle(label: str, ct: str, cc: str, pt: str, pc: str) -> str:
    return f"""
    SELECT 'fk:{label}' AS check_name, 'foreign_key' AS kind,
           CAST((SELECT count({cc}) FROM {ct}) AS BIGINT) AS n_rows,
           CAST((SELECT count(DISTINCT {cc}) FROM {ct}) AS BIGINT)
               AS n_distinct,
           CAST((SELECT count(*) FROM (
               SELECT DISTINCT {cc} FROM {ct} WHERE {cc} IS NOT NULL
               EXCEPT SELECT {pc} FROM {pt})) AS BIGINT) AS n_bad,
           (SELECT count(*) FROM (
               SELECT DISTINCT {cc} FROM {ct} WHERE {cc} IS NOT NULL
               EXCEPT SELECT {pc} FROM {pt})) = 0 AS holds
    """


@query(
    "constraints_infer",
    oracle="""
    SELECT 'ck:orders.' || col AS check_name, 'candidate_key' AS kind,
           n_rows, n_distinct, n_bad, n_distinct = n_rows AND n_bad = 0 AS holds
    FROM (
        SELECT 'o_orderkey' AS col, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
               CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_bad
        FROM orders
        UNION ALL
        SELECT 'o_custkey', CAST(count(*) AS BIGINT),
               CAST(count(DISTINCT o_custkey) AS BIGINT),
               CAST(count(*) - count(o_custkey) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
               CAST(count(DISTINCT o_orderstatus) AS BIGINT),
               CAST(count(*) - count(o_orderstatus) AS BIGINT)
        FROM orders
    )
    """
    + "".join(
        "UNION ALL" + _fk_oracle(label, ct, cc, pt, pc)
        for label, ct, cc, pt, pc in _FK_CHECKS
    ),
)
def constraints_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog constraint inference as a driver row: candidate-key
    screening over orders (exact distinct == rows and zero nulls — one
    Expand+two-phase aggregate pass, operators/constraints.py) plus FK
    containment over three star-schema pairs via distinct-child
    LEFT ANTI joins against broadcast parent key sets — two that hold
    and one deliberately violated, so both the boolean AND the
    violation count are hash-pinned.

    Scale: candidate keys are one linear aggregate; each FK check is
    key-pruned to single columns, child side pre-distincted (shuffle on
    the child key only), parent side broadcast at dimension size —
    at fact-vs-fact scale the broadcast flips to a shuffle hash join,
    plan shape otherwise unchanged."""
    cks = candidate_keys(
        io.load_table(spark, sf_dir, "orders"), _CK_COLS
    ).select(
        F.concat(F.lit("ck:orders."), F.col("column")).alias("check_name"),
        F.lit("candidate_key").alias("kind"),
        "n_rows",
        "n_distinct",
        F.col("n_null").alias("n_bad"),
        F.col("is_candidate_key").alias("holds"),
    )
    parts = [cks]
    for label, ct, cc, pt, pc in _FK_CHECKS:
        child = io.load_table(spark, sf_dir, ct).select(
            F.col(cc).alias("ck")
        )
        parent = io.load_table(spark, sf_dir, pt).select(
            F.col(pc).alias("pk")
        )
        stats = child.filter(F.col("ck").isNotNull()).agg(
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct("ck").cast("long").alias("n_distinct"),
        )
        viol = (
            child.filter(F.col("ck").isNotNull())
            .distinct()
            .join(
                F.broadcast(parent.distinct()),
                F.col("ck") == F.col("pk"),
                "left_anti",
            )
            .agg(F.count("*").cast("long").alias("n_bad"))
        )
        parts.append(
            stats.join(F.broadcast(viol)).select(
                F.lit(f"fk:{label}").alias("check_name"),
                F.lit("foreign_key").alias("kind"),
                "n_rows",
                "n_distinct",
                "n_bad",
                (F.col("n_bad") == 0).alias("holds"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
