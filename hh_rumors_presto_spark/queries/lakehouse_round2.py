"""Round-11 lakehouse discipline extensions over the ``hh_txnlog``
DSv2 table format (sources/txnlog_datasource.py): time travel,
incremental (CDC-of-appends) consumption, and compaction.

These are the three read/maintenance capabilities every production
table format pairs with the commit log the sink already has — and all
three fall out of the SAME log replay: time travel truncates the
replay at a version, incremental diffs the live sets of two versions,
and compaction is just an overwrite whose input is the table itself
(read live -> rewrite -> one commit removing every prior file). No new
distributed machinery: the data path stays one-task-per-file parallel
in both directions, only the KB-sized JSON log is driver-side.

Each key rebuilds its own table from the orders fixture, so driver
double-runs get fresh identical state.

Reference scope note: the reference (fetchRumors.js:211-226) persists
one JSON snapshot with no history; these keys generalize its sink into
a versioned, replayable, maintainable table.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec
from hh_rumors_presto_spark.registry import query


def _build_three_versions(spark: SparkSession, sf_dir: str, tag: str):
    """The shared fixture table: v0 = append keys %3==0, v1 = append
    keys %3==1, v2 = OVERWRITE with the doubled-price projection of
    both (same shape as sink_txnlog, whose oracle pins the latest
    state). Returns the table path; caller owns cleanup."""
    from hh_rumors_presto_spark.sources.txnlog_datasource import (
        TxnLogDataSource,
    )

    spark.dataSource.register(TxnLogDataSource)
    base = io.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tbl = io.scoped_tmp_dir(spark, tag, sf_dir)
    shutil.rmtree(tbl, ignore_errors=True)
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
    return tbl


def _census(back: DataFrame, tag: str) -> DataFrame:
    """Per-status (count, key checksum, cents-exact price total) of one
    snapshot, tagged — the delivery-certificate aggregate the whole
    txnlog family hashes. Cast-to-DECIMAL(28,2) happens AFTER any
    doubling (on the read-back value), mirroring the oracle's
    CAST(... AS DECIMAL(28,2)) on the same dataflow point."""
    return back.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("o_orderkey").cast("long").alias("key_sum"),
        F.sum(dec(F.col("o_totalprice"), 2)).cast("double").alias("total_price"),
    ).select(F.lit(tag).alias("snapshot"), "*")


_V1_ORACLE_LEG = """
    SELECT '{tag}' AS snapshot, o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_orderkey % 3 IN (0, 1)
    GROUP BY 2
"""

_LATEST_ORACLE_LEG = """
    SELECT '{tag}' AS snapshot, o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(sum(CAST(2 * o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_orderkey % 3 <> 2
    GROUP BY 2
"""


@query(
    "scan_txnlog_timetravel",
    oracle=_V1_ORACLE_LEG.format(tag="as_of_v1")
    + "UNION ALL"
    + _LATEST_ORACLE_LEG.format(tag="latest"),
)
def scan_txnlog_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL: the same table read twice — ``option("version", 1)``
    must reproduce the two-append state (raw prices, keys %3 in {0,1})
    even though version 2 OVERWROTE it, while the default read sees
    only the overwrite (doubled prices). Both snapshots' censuses hash
    against direct recomputation from the source; the as-of leg can
    only match if the log replay truncates exactly at the pinned
    version and removed-later files are still served from disk.

    Scale: time travel is pure log-replay planning — the data path is
    identical to a latest read (one task per live-at-version file); no
    copy, no restore. Cites sources/txnlog_datasource.py live_files
    (as_of) and, for the reference's no-history JSON snapshot being
    generalized, fetchRumors.js:211-226."""
    tbl = _build_three_versions(spark, sf_dir, "timetravel")
    try:
        as_of = (
            spark.read.format("hh_txnlog")
            .option("path", tbl)
            .option("version", "1")
            .load()
        )
        latest = (
            spark.read.format("hh_txnlog").option("path", tbl).load()
        )
        return (
            _census(as_of, "as_of_v1")
            .unionAll(_census(latest, "latest"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tbl, ignore_errors=True)


@query(
    "scan_txnlog_incremental",
    oracle="""
    SELECT 'v0_to_v1' AS chg, o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders
    WHERE o_orderkey % 3 = 1
    GROUP BY 2
    UNION ALL
    SELECT 'v1_to_v2', o_orderstatus,
           CAST(count(*) AS BIGINT),
           CAST(sum(o_orderkey) AS BIGINT)
    FROM orders
    WHERE o_orderkey % 3 <> 2
    GROUP BY 2
    """,
)
def scan_txnlog_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL consumption: ``fromVersion``/``toVersion`` reads
    exactly the files added in the range and still live at its end. A
    consumer current at v0 catching up to v1 sees only the second
    append (keys %3==1); catching up across the overwrite (v1 -> v2)
    sees the full rewritten table — an overwrite IS a full refresh to
    an incremental reader, never a partial diff (v0/v1 files are live
    at neither range end, so they appear in neither leg).

    Scale: the catch-up data path reads only the delta files — the
    point of incremental consumption at 100 TB: cost tracks change
    volume, not table size. Cites txnlog_datasource.added_live_files
    and the snapshot_diff state-diff semantics it matches."""
    tbl = _build_three_versions(spark, sf_dir, "increment")

    def rng(lo: int, hi: int, tag: str) -> DataFrame:
        back = (
            spark.read.format("hh_txnlog")
            .option("path", tbl)
            .option("fromVersion", str(lo))
            .option("toVersion", str(hi))
            .load()
        )
        return back.groupBy(
            F.col("o_orderstatus").alias("status")
        ).agg(
            F.count("*").cast("long").alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        ).select(F.lit(tag).alias("chg"), "*")

    try:
        return (
            rng(0, 1, "v0_to_v1")
            .unionAll(rng(1, 2, "v1_to_v2"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tbl, ignore_errors=True)


@query(
    "sink_txnlog_compact",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(8 AS INT) AS n_files_before,
           CAST(1 AS INT) AS n_files_after
    FROM orders
    WHERE o_orderkey % 3 IN (0, 1)
    GROUP BY 1
    """,
)
def sink_txnlog_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION as a log transaction: two 4-file appends (repartition
    pins the file count) leave 8 small live files; the compaction job
    is nothing but the table read back through the same format and
    overwritten at 1 partition — the commit log makes the rewrite
    atomic (one entry: remove all 8, add 1) and the census proves the
    data survived byte-for-byte. n_files_before/after ride the hash, so
    a compaction that lost a file, kept a stale one, or failed to
    shrink the file count is a red row, not a silent regression.

    Scale: THIS is how OPTIMIZE works on production table formats —
    the rewrite is a distributed job (here repartition(1) because the
    fixture slice is KB-scale; a real run bin-packs to target file
    sizes exactly like sink_file_sizing), and readers never see an
    intermediate state. Precondition (asserted): each append's
    round-robin repartition(4) lands 4 non-empty partitions — true for
    any fixture with >= 4 rows per key class."""
    from hh_rumors_presto_spark.sources.txnlog_datasource import (
        TxnLogDataSource,
        live_files,
    )

    spark.dataSource.register(TxnLogDataSource)
    base = io.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tbl = io.scoped_tmp_dir(spark, "compact", sf_dir)
    shutil.rmtree(tbl, ignore_errors=True)
    try:
        for m in (0, 1):
            base.filter(F.col("o_orderkey") % 3 == m).repartition(
                4
            ).write.format("hh_txnlog").mode("append").option(
                "path", tbl
            ).save()
        n_before = len(live_files(tbl))
        if n_before != 8:
            raise AssertionError(
                f"sink_txnlog_compact: expected 8 pre-compaction files "
                f"(2 appends x repartition(4)), got {n_before} — a key "
                f"class of {sf_dir} has < 4 rows (out of contract)"
            )
        # the compaction transaction: table -> itself at 1 partition
        snap = (
            spark.read.format("hh_txnlog").option("path", tbl).load()
            # materialize the input BEFORE the overwrite commits: the
            # lazy plan would otherwise replan partitions() against the
            # post-commit log on any task retry
            .localCheckpoint(eager=True)
        )
        snap.repartition(1).write.format("hh_txnlog").mode(
            "overwrite"
        ).option("path", tbl).save()
        n_after = len(live_files(tbl))
        back = spark.read.format("hh_txnlog").option("path", tbl).load()
        return (
            back.groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
            )
            .select(
                "*",
                F.lit(n_before).cast("int").alias("n_files_before"),
                F.lit(n_after).cast("int").alias("n_files_after"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tbl, ignore_errors=True)


@query(
    "sink_txnlog_vacuum",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
           CAST(8 AS INT) AS n_vacuumed,
           TRUE AS timetravel_broken
    FROM orders
    WHERE o_orderkey % 3 <> 2
    GROUP BY 1
    """,
)
def sink_txnlog_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM as the retention half of table maintenance: two 4-file
    appends then an overwrite leave 8 unreferenced history files on
    disk; vacuum() must delete exactly those 8 (n_vacuumed rides the
    hash), leave the latest census byte-identical, and — probed, not
    assumed — break time travel to the pre-overwrite version (the
    as-of read must now raise on the missing files; timetravel_broken
    records the probe). The retention trade is explicit: compaction
    (sink_txnlog_compact) keeps history replayable, vacuum spends it
    for storage.

    Scale: file deletion is metadata-rate work (unlink per dead file);
    the data path never runs. Cites txnlog_datasource.vacuum and the
    time-travel contract of scan_txnlog_timetravel."""
    from hh_rumors_presto_spark.sources.txnlog_datasource import (
        TxnLogDataSource,
        vacuum,
    )

    spark.dataSource.register(TxnLogDataSource)
    base = io.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tbl = io.scoped_tmp_dir(spark, "vacuum", sf_dir)
    shutil.rmtree(tbl, ignore_errors=True)
    try:
        for m in (0, 1):
            base.filter(F.col("o_orderkey") % 3 == m).repartition(
                4
            ).write.format("hh_txnlog").mode("append").option(
                "path", tbl
            ).save()
        final = base.filter(F.col("o_orderkey") % 3 != 2).withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        )
        final.repartition(1).write.format("hh_txnlog").mode(
            "overwrite"
        ).option("path", tbl).save()
        n_vacuumed = vacuum(tbl)
        if n_vacuumed != 8:
            raise AssertionError(
                f"sink_txnlog_vacuum: expected exactly the 8 overwritten "
                f"append files removed, got {n_vacuumed}"
            )
        # probe: time travel to v1 must now FAIL (files truly gone) —
        # planning still succeeds (the log survives), so drive a read
        broken = False
        try:
            (
                spark.read.format("hh_txnlog")
                .option("path", tbl)
                .option("version", "1")
                .load()
                .count()
            )
        except Exception:
            broken = True
        back = spark.read.format("hh_txnlog").option("path", tbl).load()
        return (
            back.groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
            )
            .select(
                "*",
                F.lit(n_vacuumed).cast("int").alias("n_vacuumed"),
                F.lit(broken).alias("timetravel_broken"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tbl, ignore_errors=True)
