"""Round-11 breadth batch: transaction-log snapshot reads and the
feature-hashing trick.

- ``scan_txn_log`` — the lakehouse READ path: a JSON transaction log
  (add/remove file actions over two commits, including a rewrite that
  supersedes an earlier file) is replayed last-action-wins to the live
  file set, and ONLY those parquet files are scanned. This is the
  Delta/Iceberg snapshot discipline: the table is the log, not the
  directory listing.
- ``feat_hashing_trick`` — fixed-dimension token vectorization with no
  vocabulary (Weinberger et al., ICML'09): feature index = md5 bucket,
  sign = a second hash bit, per-doc signed counts. The collision-taking
  featurizer used when the vocabulary is unbounded; all-integer
  outputs (nnz / l1 / signed checksum) pin every collision exactly.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.functions.exact import dec
from hh_rumors_presto_spark.registry import query

# --------------------------------------------------------------------------
# scan_txn_log
# --------------------------------------------------------------------------


@query(
    "scan_txn_log",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN o_orderkey % 3 = 1
                         THEN 2 * CAST(o_totalprice AS DECIMAL(28,2))
                         ELSE CAST(o_totalprice AS DECIMAL(28,2)) END)
                AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderkey % 3 IN (0, 1)
    GROUP BY 1
    """,
)
def scan_txn_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-log snapshot read: commit 0 adds file A (keys %3=0)
    and file B (keys %3=1); commit 1 REWRITES B as C (same keys, price
    doubled — an update) by logging remove(B) + add(C). The reader
    replays the JSON log last-action-wins per path, scans exactly the
    live files {A, C}, and never sees B's stale rows nor the %3=2 rows
    that were materialized on disk but never committed (file D —
    snapshot isolation comes from the log, not the directory). The
    oracle recomputes the same snapshot from the source table.

    Scale: the log is commits x files (KB-MB), its replay is one tiny
    window, and the collected live-file list is the same bounded
    driver-side footprint every lakehouse reader has (file manifests,
    not data). The data scan itself is an ordinary pruned parquet
    read."""
    orders = io.load_table(spark, sf_dir, "orders")
    out_dir = io.scoped_tmp_dir(spark, "txn_log", sf_dir)
    data, logd = os.path.join(out_dir, "data"), os.path.join(out_dir, "log")
    shutil.rmtree(out_dir, ignore_errors=True)
    sel = lambda m: orders.filter(  # noqa: E731
        F.col("o_orderkey") % 3 == m
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    sel(0).write.mode("overwrite").parquet(f"{data}/A")
    sel(1).write.mode("overwrite").parquet(f"{data}/B")
    sel(1).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    ).write.mode("overwrite").parquet(f"{data}/C")
    # file D: written to the directory but never logged — a reader
    # that lists the directory instead of the log would see it
    sel(2).write.mode("overwrite").parquet(f"{data}/D")
    os.makedirs(logd, exist_ok=True)
    with open(os.path.join(logd, "00000.json"), "w") as fh:
        fh.write('{"version": 0, "action": "add", "path": "A"}\n')
        fh.write('{"version": 0, "action": "add", "path": "B"}\n')
    with open(os.path.join(logd, "00001.json"), "w") as fh:
        fh.write('{"version": 1, "action": "remove", "path": "B"}\n')
        fh.write('{"version": 1, "action": "add", "path": "C"}\n')
    log = spark.read.schema("version LONG, action STRING, path STRING").json(
        logd
    )
    w = Window.partitionBy("path").orderBy(F.col("version").desc())
    live = (
        log.withColumn("r", F.row_number().over(w))
        .filter((F.col("r") == 1) & (F.col("action") == "add"))
        .select("path")
    )
    paths = [f"{data}/{r.path}" for r in live.collect()]
    snap = spark.read.schema(sel(0).schema).parquet(*sorted(paths))
    return (
        snap.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(dec(F.col("o_totalprice"), 2))
            .cast("double")
            .alias("total_price"),
        )
        .localCheckpoint(eager=True)
    )


# --------------------------------------------------------------------------
# feat_hashing_trick
# --------------------------------------------------------------------------

_FH_DIM = 256  # hashed feature dimensionality


@query(
    "feat_hashing_trick",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    hashed AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT)
                   % {_FH_DIM} AS feat,
               CASE WHEN CAST(('0x' || substring(md5(tok), 9, 1)) AS BIGINT)
                         % 2 = 0 THEN 1 ELSE -1 END AS sgn
        FROM toks WHERE tok <> ''
    ),
    vec AS (
        SELECT doc_id, feat, CAST(sum(sgn) AS BIGINT) AS w
        FROM hashed GROUP BY doc_id, feat
    )
    SELECT doc_id,
           CAST(count(*) FILTER (WHERE w <> 0) AS BIGINT) AS nnz,
           CAST(sum(abs(w)) AS BIGINT) AS l1,
           CAST(sum(feat * w) AS BIGINT) AS checksum
    FROM vec GROUP BY doc_id
    """,
)
def feat_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: every token maps to one of 256 feature
    buckets by md5 (no vocabulary to build, no OOV), with a second
    md5 nibble giving the +/-1 sign that makes collisions cancel in
    expectation — the unbounded-vocabulary featurizer for linear
    models and MinHash-free dedup prefilters. Per-doc signed bucket
    counts, reported as integer nnz / l1 / position-weighted checksum
    so every collision and cancellation is value-pinned (a bucket whose
    signs cancel to zero counts in neither nnz nor l1).

    Scale: explode + one (doc, feat) hash agg + one per-doc rollup —
    the same two-level partial-agg shape as text_tfidf; dimensionality
    is a constant, so state per doc is bounded regardless of corpus
    size."""
    docs = io.load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    hashed = toks.select(
        "doc_id",
        (F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % _FH_DIM
         ).alias("feat"),
        F.when(
            F.conv(F.substring(F.md5("tok"), 9, 1), 16, 10).cast("long") % 2
            == 0,
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("sgn"),
    )
    vec = hashed.groupBy("doc_id", "feat").agg(
        F.sum("sgn").cast("long").alias("w")
    )
    return vec.groupBy("doc_id").agg(
        F.count(F.when(F.col("w") != 0, 1)).cast("long").alias("nnz"),
        F.sum(F.abs("w")).cast("long").alias("l1"),
        F.sum(F.col("feat") * F.col("w")).cast("long").alias("checksum"),
    )
