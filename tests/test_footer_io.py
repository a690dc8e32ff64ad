"""The parquet footer reader (io.read_footer) and the loads built on it.

Every fixture scan passes its footer schema to Spark, so building a
query runs no schema-inference job.  These tests pin that the footer
schema is the schema Spark would infer, that footer row counts are exact,
that the TIMESTAMP(NANOS) and zero-row fixture shapes load as before, and
that loading and the keys that only load tables build with zero jobs.
"""

from __future__ import annotations

import contextlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.registry import QUERIES, load_all_queries
from hh_rumors_presto_spark.streaming.helpers import read_events_stream

SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.1")

# Keys whose build only loads fixture tables: before the footer rule each
# ran one inference job per table it loaded (ten for register_views).
ZERO_BUILD_JOB_KEYS = (
    "sql_pivot", "sql_unpivot", "sql_group_by_all", "sql_tpch_q3",
    "agg_grouping_sets", "agg_basic", "dedup_ppjoin", "win_topk",
    "emb_knn_graph", "join_star",
)


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


def test_footer_row_counts_equal_spark_count(spark, sf_dir, tmp_path):
    for name in io.TABLES:
        path = io.table_path(sf_dir, name)
        assert io.read_footer(path).num_rows == spark.read.parquet(path).count()
    parts = str(tmp_path / "parts")
    spark.read.parquet(io.table_path(sf_dir, "orders")).repartition(3).write.parquet(
        parts
    )
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


@pytest.mark.parametrize("key", ZERO_BUILD_JOB_KEYS)
def test_table_only_keys_build_without_a_spark_job(spark, sf_dir, key):
    load_all_queries()
    with _jobs(spark, f"footer-io/{key}") as jobs:
        QUERIES[key](spark, sf_dir)
    assert jobs == []
