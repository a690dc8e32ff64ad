"""SparkSession factory.

Local-mode settings mirror the driver harness (local[$SPARK_GRAFT_CPUS],
AQE on, UTC session timezone for DuckDB-oracle parity). At cluster scale the
same builder works — only master/shuffle-partition sizing change, and AQE
re-plans partition counts at runtime anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Core count from $SPARK_GRAFT_CPUS (32 when unset).  An empty,
    non-integer or non-positive value raises here, where the harness
    starts, instead of deep inside a query."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if not raw.isdecimal() or int(raw) < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be an integer >= 1, got {raw!r}")
    return int(raw)


def tasks_for_rows(rows: int, rows_per_task: int, cap: int) -> int:
    """Task fan-out for an input of ``rows`` rows: one task per
    ``rows_per_task`` rows, at least 1 and at most ``cap``.  ``rows`` is
    an input statistic (a parquet footer row count, io.table_num_rows),
    so small inputs pay one task's fixed start-up cost instead of
    ``cap`` of them."""
    if rows < 0 or rows_per_task < 1 or cap < 1:
        raise ValueError(
            f"tasks_for_rows needs rows >= 0, rows_per_task >= 1, cap >= 1; "
            f"got {rows}, {rows_per_task}, {cap}"
        )
    return max(1, min(cap, -(-rows // rows_per_task)))


# Keys whose result values depend on the SESSION TIMEZONE — the inherent
# LTZ wall-clock interpretation of event timestamps (windowing, day/hour
# bucketing, sessionization boundaries all shift with the zone). The list
# is the authoritative round-7 full-registry scan: every key hashed under
# UTC and under America/New_York at sf0.01; exactly these 20 diverged
# (527 scanned, 0 errors). The driver and every oracle comparison run
# UTC, where all 20 are green — this constant exists so a future session
# tz change fails ONE named test (tests/test_tz_contract.py) instead of
# producing 20 unexplained red hashes. Re-derive any time with the scan
# in that test's docstring.
TZ_SENSITIVE_KEYS = frozenset({
    "agg_session_window", "dq_freshness", "layout_zorder",
    "sketch_hll_window", "stream_merge_upsert", "stream_ohlc",
    "stream_rollup_merge", "stream_session", "stream_session_state",
    "stream_sliding", "stream_tumbling", "stream_watermark",
    "stream_watermark_latedrop",
    "ts_downsample_ltob", "ts_gapfill", "ts_multires_rollup", "ts_ohlc",
    "ts_resample_interp", "ts_seasonal_decompose", "ts_sessionize",
    "win_pattern_match",
})

# Keys whose VALUE HASH depends on the runner's micro-batch arrival
# order (the HH_STREAM_SPLIT / driver_sim --env-parity "splitstream"
# variant). Root cause — inherent to streaming semantics, not a bug:
# a TIGHT watermark makes outer-join NULL emission and late-drop sets a
# function of when the watermark advances, which is decided by how the
# source batches files — something the query cannot control. The
# canonical driver source is the SINGLE-FILE parquet fixture (one
# micro-batch under availableNow), where execution is deterministic and
# the DuckDB oracle models the boundary exactly. Under a forced
# out-of-order multi-file split, stream_join_outer's matched set shrinks
# (mid-stream eviction drops late matches) and its NULL set shifts —
# the bounded divergence tests/test_splitstream_contract.py pins.
# Every OTHER streaming key is batching-invariant by construction
# (associative merges / span-covering watermarks) and stays in the
# env-parity stable set.
SPLITSTREAM_SENSITIVE_KEYS = frozenset({"stream_join_outer"})


def get_spark(app_name: str = "hh_rumors_presto_spark") -> SparkSession:
    """Build (or fetch) the session.

    Notes on the knobs:
    - AQE + coalescePartitions: runtime re-plan of shuffle partition counts;
      at 100 TB this is what turns the static ``shuffle.partitions`` hint
      into right-sized partitions, and skewJoin splits hot keys.
    - UTC timezone: Spark timestamps are session-TZ, DuckDB's are UTC-naive;
      pinning UTC makes oracle comparisons exact.
    - Arrow: vectorized pandas-UDF / toPandas transfer.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
