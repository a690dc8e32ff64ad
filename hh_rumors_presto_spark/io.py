"""Table loaders for the driver-generated parquet fixtures.

Analog of the reference's paginated HTTP scan stage
(/root/reference/netlify/functions/fetchRumors.js:14-30,126-151) generalized
to columnar sources: ``spark.read.parquet`` gives predicate pushdown and
column pruning — see SURVEY.md §2.A row 5.  Scan parallelism is not free:
a parquet split never divides a row group, and every fixture is one row
group, so a plain scan (and all per-row work fused above it) runs in one
task.  :func:`load_spread` hash-repartitions a large one-row-group scan
over the cores before that per-row work.

Footer rule: every fixture scan passes the schema of the table's parquet
footer (:func:`read_footer`), so no schema-inference job runs while a
query is built.  The footer is a planner statistic read at every load,
not a result cache.  A key that reads back a directory it wrote passes
the schema it wrote, unless inferring that schema is what the key checks.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hh_rumors_presto_spark.session import default_parallelism, tasks_for_rows

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class Footer(NamedTuple):
    schema: T.StructType
    num_rows: int
    num_row_groups: int


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def read_footer(path: str) -> Footer:
    """Spark schema, row count and row-group count of a parquet file, or
    of a directory of part files that share one schema (counts summed),
    from footer metadata alone.  Types map as Spark infers them: a
    timestamp not adjusted to UTC is TIMESTAMP_NTZ, and TIMESTAMP(NANOS)
    is LONG, as ``spark.sql.legacy.parquet.nanosAsLong`` reads it.  INT96
    timestamps (Spark's default output for TIMESTAMP) would map to LONG
    too, which is one reason directories Spark wrote keep inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    ) if os.path.isdir(path) else [path]
    if not files:
        raise FileNotFoundError(f"no parquet part files in {path}")
    metas = [pq.read_metadata(f) for f in files]
    arrow = metas[0].schema.to_arrow_schema()
    for f, m in zip(files[1:], metas[1:]):
        if not m.schema.to_arrow_schema().equals(arrow):
            raise ValueError(f"{f}: schema differs from {files[0]}")
    arrow = pa.schema(
        f.with_type(pa.int64())
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
        else f
        for f in arrow
    )
    return Footer(
        from_arrow_schema(arrow, prefer_timestamp_ntz=True),
        sum(m.num_rows for m in metas),
        sum(m.num_row_groups for m in metas),
    )


def table_num_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a fixture table from its parquet footer: a
    planner statistic that picks between result-identical plan shapes."""
    return read_footer(table_path(sf_dir, name)).num_rows


def load_table(
    spark: SparkSession, sf_dir: str, name: str, footer: Footer | None = None
) -> DataFrame:
    """Scan one fixture table with its footer schema (``footer``, when the
    caller has read it already); ``events`` gets ``ts`` as a microsecond
    TimestampType (:func:`events_ts_micros`). Lazy: no Spark job runs
    here."""
    if footer is None:
        footer = _table_footer(sf_dir, name)
    if name == "events":
        read_nanos_as_long(spark, footer.schema)
    df = spark.read.schema(footer.schema).parquet(table_path(sf_dir, name))
    return events_ts_micros(df, footer.schema) if name == "events" else df


def _table_footer(sf_dir: str, name: str) -> Footer:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return read_footer(table_path(sf_dir, name))


# Rows per task when a scan is spread (load_spread).  On a 4-core host, at
# 600k lineitem / 150k orders rows, 100k was as fast as 50k and faster
# than 200k, which leaves the orders scan in one task; 50k also spreads
# sf0.01's 60k lineitem rows, for no gain beyond that input's run-to-run
# spread (CHANGES.md).
_ROWS_PER_SCAN_TASK = 100_000


def scan_fanout(num_rows: int, num_row_groups: int, cores: int) -> int:
    """Hash-partition count that :func:`load_spread` spreads a scan of
    ``num_rows`` rows in ``num_row_groups`` row groups over, or 1 to keep
    the plain scan: ``tasks_for_rows`` sizes the task count, and the scan
    is spread only when that count exceeds the row groups, the most tasks
    a parquet scan can split into."""
    n = tasks_for_rows(num_rows, _ROWS_PER_SCAN_TASK, cores)
    return n if n > num_row_groups else 1


def load_spread(
    spark: SparkSession, sf_dir: str, name: str, *by: str
) -> DataFrame:
    """:func:`load_table`, hash-repartitioned on ``by`` into
    :func:`scan_fanout` tasks when that is more than one, so per-row work
    above a one-row-group scan runs on every core.  Otherwise the plain
    scan, with the plan text of :func:`load_table`.  Filters and column
    pruning above the result still reach the scan; a later operator
    clustered on ``by`` (a window, an aggregate) reuses the exchange."""
    footer = _table_footer(sf_dir, name)
    df = load_table(spark, sf_dir, name, footer)
    n = scan_fanout(footer.num_rows, footer.num_row_groups, default_parallelism())
    return df if n == 1 else df.repartition(n, *by)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the events table with ``ts`` as a microsecond TimestampType."""
    return load_table(spark, sf_dir, "events")


def read_nanos_as_long(spark: SparkSession, schema: T.StructType) -> None:
    """Let ``spark`` read the events ``ts`` of footer ``schema`` when it is
    TIMESTAMP(NANOS), which Spark reads only as LONG, under
    ``spark.sql.legacy.parquet.nanosAsLong`` (:func:`events_ts_micros`).
    A microsecond ``ts`` needs no conf, so none is set."""
    if isinstance(schema["ts"].dataType, T.LongType):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def events_ts_micros(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Normalize ``ts`` of events rows read with footer ``schema`` to a
    microsecond TimestampType.  The fixture ships ``ts`` two ways:

    - parquet TIMESTAMP(NANOS), which Spark reads only as LONG, under
      ``spark.sql.legacy.parquet.nanosAsLong`` (SPARK-40819); integer-div
      to micros truncates, exactly as DuckDB's TIMESTAMP_NS -> TIMESTAMP
      cast does, so oracle SQL can use ``CAST(ts AS TIMESTAMP)``;
    - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false), read as
      TIMESTAMP_NTZ and cast to TIMESTAMP (the session tz is UTC).
    """
    if isinstance(schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture as a temp view so SQL-form queries can run."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# Session roots this process made; one atexit hook removes them all.
_SCRATCH_ROOTS: set[str] = set()


def _remove_scratch_roots() -> None:
    for root in _SCRATCH_ROOTS:
        shutil.rmtree(root, ignore_errors=True)


def fixture_tag(sf_dir: str) -> str:
    """``<basename>_<digest>`` naming one fixture directory: the digest is
    taken over its real path, so two fixtures that share a basename get
    different tags and every spelling of one path gets the same tag."""
    real = os.path.realpath(sf_dir)
    digest = hashlib.md5(real.encode()).hexdigest()[:8]
    return f"{os.path.basename(real)}_{digest}"


def scoped_tmp_dir(spark: SparkSession, tag: str, sf_dir: str) -> str:
    """Scratch directory ``<root>/<tag>_<fixture_tag(sf_dir)>`` for a key
    that writes files and reads them back.

    The root, ``<tempfile.gettempdir()>/hh_<applicationId>``, belongs to
    one SparkSession, so two processes on one host never share a path;
    within the session, ``tag`` and the fixture's real path keep keys and
    fixtures apart, and a rerun of a key reuses its directory.  The root
    is made on first use and removed when the process exits, so callers
    clean up only where clearing the directory is part of the key.
    Every scratch path in the package comes from here."""
    root = os.path.join(
        tempfile.gettempdir(), f"hh_{spark.sparkContext.applicationId}"
    )
    if not _SCRATCH_ROOTS:
        atexit.register(_remove_scratch_roots)
    _SCRATCH_ROOTS.add(root)
    os.makedirs(root, exist_ok=True)
    return os.path.join(root, f"{tag}_{fixture_tag(sf_dir)}")
