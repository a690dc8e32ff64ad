"""The parquet footer reader (io.read_footer) and the loads built on it.

Every fixture scan passes its footer schema to Spark, so building a
query runs no schema-inference job.  These tests pin that the footer
schema is the schema Spark would infer, that footer row counts are exact,
that the TIMESTAMP(NANOS) and zero-row fixture shapes load as before, and
that loading and the keys that only load tables build with zero jobs.
They also pin the scan fan-out that io.load_spread takes from the footer's
row and row-group counts, and the plans of the keys that use it.
"""

from __future__ import annotations

import contextlib
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.registry import QUERIES, load_all_queries
from hh_rumors_presto_spark.session import default_parallelism, tasks_for_rows
from hh_rumors_presto_spark.streaming.helpers import read_events_stream

SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.1")
SF01 = SF_DIRS[1]

# Keys whose build only loads fixture tables: before the footer rule each
# ran one inference job per table it loaded (ten for register_views).
ZERO_BUILD_JOB_KEYS = (
    "sql_pivot", "sql_unpivot", "sql_group_by_all", "sql_tpch_q3",
    "agg_grouping_sets", "agg_basic", "dedup_ppjoin", "win_topk",
    "emb_knn_graph", "join_star",
)

# Keys whose big scan goes through io.load_spread.
SPREAD_KEYS = ("agg_basic", "join_star", "win_topk")


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


def _events_with_nanos(src_dir: str, out_dir) -> str:
    ev = pq.read_table(io.table_path(src_dir, "events"))
    i = ev.schema.get_field_index("ts")
    ev = ev.set_column(i, "ts", ev["ts"].cast(pa.timestamp("ns")))
    pq.write_table(ev, str(out_dir / "events.parquet"))
    return str(out_dir)


@pytest.mark.parametrize("sf", SF_DIRS)
def test_footer_schema_equals_inferred_schema(spark, sf):
    for name in io.TABLES:
        path = io.table_path(sf, name)
        assert io.read_footer(path).schema == spark.read.parquet(path).schema, name


@pytest.fixture(scope="module")
def parts_dir(spark, sf_dir, tmp_path_factory) -> str:
    """A fixture dir whose ``orders.parquet`` is a directory of 3 part
    files, one row group each."""
    d = tmp_path_factory.mktemp("parts")
    spark.read.parquet(io.table_path(sf_dir, "orders")).repartition(3).write.parquet(
        io.table_path(str(d), "orders")
    )
    return str(d)


def test_footer_row_counts_equal_spark_count(spark, sf_dir, parts_dir):
    for name in io.TABLES:
        path = io.table_path(sf_dir, name)
        assert io.read_footer(path).num_rows == spark.read.parquet(path).count()
    parts = io.table_path(parts_dir, "orders")
    footer = io.read_footer(parts)
    assert footer.num_rows == spark.read.parquet(parts).count()
    assert footer.num_row_groups == 3
    assert footer.schema == spark.read.parquet(parts).schema


def test_part_files_with_different_schemas_raise(tmp_path):
    pq.write_table(pa.table({"a": [1]}), str(tmp_path / "p0.parquet"))
    pq.write_table(pa.table({"a": ["x"]}), str(tmp_path / "p1.parquet"))
    with pytest.raises(ValueError, match="schema differs"):
        io.read_footer(str(tmp_path))
    with pytest.raises(FileNotFoundError):
        io.read_footer(str(tmp_path / "missing.parquet"))


def test_nanos_events_load_as_the_inference_path(spark, sf_dir, tmp_path):
    d = _events_with_nanos(sf_dir, tmp_path)
    schema = io.read_footer(io.table_path(d, "events")).schema
    assert isinstance(schema["ts"].dataType, T.LongType)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    inferred = spark.read.parquet(io.table_path(d, "events"))
    assert inferred.schema == schema
    want = inferred.withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000"))
    ).collect()
    got = io.load_events(spark, d)
    assert got.schema["ts"].dataType == T.TimestampType()
    by_id = lambda rows: sorted(rows, key=lambda r: r.event_id)  # noqa: E731
    assert by_id(got.collect()) == by_id(want)
    assert by_id(got.collect()) == by_id(io.load_events(spark, sf_dir).collect())


def test_zero_row_file_loads_with_its_schema(spark, sf_dir, tmp_path):
    src = pq.read_table(io.table_path(sf_dir, "documents"))
    pq.write_table(src.slice(0, 0), str(tmp_path / "documents.parquet"))
    footer = io.read_footer(io.table_path(str(tmp_path), "documents"))
    assert footer.num_rows == 0
    df = io.load_table(spark, str(tmp_path), "documents")
    assert df.schema == io.load_table(spark, sf_dir, "documents").schema
    assert df.count() == 0


def test_loads_build_without_a_spark_job(spark, sf_dir, tmp_path):
    with _jobs(spark, "footer-io/control") as control:
        spark.read.parquet(io.table_path(sf_dir, "region"))
    assert control, "the job-group probe saw no inference job"
    nanos_dir = _events_with_nanos(sf_dir, tmp_path)
    with _jobs(spark, "footer-io/loads") as jobs:
        for name in io.TABLES:
            io.load_table(spark, sf_dir, name)
        io.load_events(spark, sf_dir)
        io.load_events(spark, nanos_dir)
        io.register_views(spark, sf_dir)
        read_events_stream(spark, sf_dir)
        read_events_stream(spark, nanos_dir)
    assert jobs == []


@pytest.mark.parametrize(
    "key,sf",
    [pytest.param(k, SF_DIRS[0], id=k) for k in ZERO_BUILD_JOB_KEYS]
    + [pytest.param(k, SF01, id=f"{k}-sf0.1") for k in SPREAD_KEYS],
)
def test_table_only_keys_build_without_a_spark_job(spark, key, sf):
    load_all_queries()
    with _jobs(spark, f"footer-io/{key}/{sf}") as jobs:
        QUERIES[key](spark, sf)
    assert jobs == []


def _norm(plan: str) -> str:
    return re.sub(r"(#|plan_id=)\d+", r"\1", plan)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _spread_exchanges(plan: str) -> list[tuple[str, int]]:
    """(key column, partitions) of each load_spread exchange in ``plan``."""
    return [
        (col, int(n))
        for col, n in re.findall(
            r"Exchange hashpartitioning\((\w+)#\d+L?, (\d+)\), REPARTITION_BY_NUM",
            plan,
        )
    ]


def test_scan_fanout_sizes_from_rows_row_groups_and_cores():
    assert io.scan_fanout(6_000, 1, 4) == 1
    assert io.scan_fanout(6_000, 1, 32) == 1
    for cores in (2, 4, 32):
        n = tasks_for_rows(600_000, io._ROWS_PER_SCAN_TASK, cores)
        assert n > 1
        assert io.scan_fanout(600_000, 1, cores) == n
        assert io.scan_fanout(600_000, n, cores) == 1
        assert io.scan_fanout(600_000, n - 1, cores) == n
    assert io.scan_fanout(600_000, 1, 1) == 1
    assert io.scan_fanout(0, 0, 4) == 1


def test_no_fanout_when_row_groups_cover_the_tasks(spark, sf_dir, parts_dir, monkeypatch):
    footer = io.read_footer(io.table_path(parts_dir, "orders"))
    assert footer.num_row_groups == 3
    rows = 3 * io._ROWS_PER_SCAN_TASK
    assert io.scan_fanout(rows, footer.num_row_groups, 32) == 1
    assert io.scan_fanout(rows, 1, 32) == 3
    # Same rows per task on the real files: the 3 part files stay a plain
    # scan, the one-row-group fixture is spread into 3 tasks.
    monkeypatch.setattr(io, "_ROWS_PER_SCAN_TASK", -(-footer.num_rows // 3))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    parts = io.load_spread(spark, parts_dir, "orders", "o_custkey")
    assert _spread_exchanges(_plan(parts)) == []
    one = io.load_spread(spark, sf_dir, "orders", "o_custkey")
    assert _spread_exchanges(_plan(one)) == [("o_custkey", 3)]
    assert sorted(one.collect()) == sorted(parts.collect())


@pytest.mark.parametrize("key", SPREAD_KEYS)
def test_spread_keys_plan_as_plain_scans_at_sf0_001(spark, sf_dir, key, monkeypatch):
    load_all_queries()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    spread = _plan(QUERIES[key](spark, sf_dir))
    monkeypatch.setattr(
        io, "load_spread", lambda spark, d, name, *by: io.load_table(spark, d, name)
    )
    assert _norm(spread) == _norm(_plan(QUERIES[key](spark, sf_dir)))


def _sf01_fanout(table: str) -> int:
    footer = io.read_footer(io.table_path(SF01, table))
    return io.scan_fanout(footer.num_rows, footer.num_row_groups, default_parallelism())


def test_agg_basic_spreads_its_lineitem_scan_at_sf0_1(spark):
    load_all_queries()
    n = _sf01_fanout("lineitem")
    plan = _plan(QUERIES["agg_basic"](spark, SF01))
    assert _spread_exchanges(plan) == ([("l_orderkey", n)] if n > 1 else [])


def test_win_topk_window_reuses_the_spread_exchange_at_sf0_1(spark):
    load_all_queries()
    n = _sf01_fanout("orders")
    plan = _plan(QUERIES["win_topk"](spark, SF01))
    assert _spread_exchanges(plan) == ([("o_custkey", n)] if n > 1 else [])
    assert plan.count("Exchange ") == 1
