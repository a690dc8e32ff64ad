"""Single-empty-table contract pins (round-9 sf0/audit finds).

A corpus CAN be empty mid-pipeline at scale — an aggressive quality gate
or dedup pass may eliminate every document — so keys that consume
`documents` must degrade the way their DuckDB oracles do instead of
raising. The round-9 single-table-empty sweeps (each fixture table
emptied one at a time, everything else populated) found seven keys that
crashed or diverged ONLY when `documents` was empty:

- three micro-ratio keys hit ANSI DIVIDE_BY_ZERO where DuckDB's `// 0`
  is NULL (`eval_distinct_n`, `corpus_dedup_rate_dashboard`,
  `corpus_dup_inflation`) — fixed with nullif on the denominator;
- two recall keys hit the same on double division (`dedup_minhash_recall`,
  `dedup_simhash_recall`) — fixed with try_divide (DuckDB x/0.0 is NULL);
- `graph_modularity` disagreed NULL-vs-0 on m/q_den because first()/sum()
  over the empty parts frame went NULL while the oracle's scalar
  subquery still said 0 — fixed by sourcing m/q_den from the edge-count
  scalar;
- `corpus_shard_manifest` raised UNABLE_TO_INFER_SCHEMA re-reading the
  zero-file shard write — fixed by pinning the manifest read schema.

These tests pin the fixed shapes on a documents-empty fixture so the
class cannot silently regress. The all-empty (sf0) residue — engine-level
ROLLUP/CUBE-on-empty semantics, intentional loud guards, filesystem
zero-file semantics — is documented in BASELINE.md and deliberately NOT
masked.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from hh_rumors_presto_spark.registry import QUERIES, load_all_queries

load_all_queries()

_STATEFUL_SCHEMA = "struct<user_id:bigint,n_events:bigint,total_cents:bigint>"

_TABLES = (
    "region nation customer supplier part orders lineitem events embeddings"
).split()


@pytest.fixture(scope="module")
def docs_empty_sf(tmp_path_factory, sf_dir):
    d = tmp_path_factory.mktemp("docs_empty")
    for t in _TABLES:
        os.symlink(f"{sf_dir}/{t}.parquet", str(d / f"{t}.parquet"))
    src = pq.read_table(f"{sf_dir}/documents.parquet")
    pq.write_table(src.slice(0, 0), str(d / "documents.parquet"))
    return str(d)


def test_micro_ratio_keys_null_not_crash_on_empty_docs(spark, docs_empty_sf):
    """The three ungrouped micro-ratio rows carry total=0 on an empty
    corpus: the ratio column must be NULL (DuckDB's `// 0`), not an ANSI
    DIVIDE_BY_ZERO crash, and the count columns must still be 0."""
    rows = QUERIES["eval_distinct_n"](spark, docs_empty_sf).collect()
    assert [
        (r.n, r.total_ngrams, r.unique_ngrams, r.distinct_micro) for r in rows
    ] == [(1, 0, 0, None), (2, 0, 0, None), (3, 0, 0, None)]

    rows = QUERIES["corpus_dedup_rate_dashboard"](
        spark, docs_empty_sf
    ).collect()
    assert sorted(
        (r.grain, r.total, r.duplicates, r.dup_micro) for r in rows
    ) == [
        ("5gram", 0, 0, None),
        ("document", 0, 0, None),
        ("sentence", 0, 0, None),
    ]

    rows = QUERIES["corpus_dup_inflation"](spark, docs_empty_sf).collect()
    assert [
        (r.source, r.total_grams, r.unique_grams, r.inflation_milli)
        for r in rows
    ] == [("_all_", 0, 0, None)]


def test_recall_keys_null_recall_on_empty_docs(spark, docs_empty_sf):
    """Zero truth pairs: recall/precision are undefined — NULL like the
    oracle's x/0.0, never a raise. Counts stay 0."""
    r = QUERIES["dedup_minhash_recall"](spark, docs_empty_sf).collect()[0]
    assert (r.n_candidates, r.n_truth, r.n_hits) == (0, 0, 0)
    assert r.recall is None and r.precision is None

    r = QUERIES["dedup_simhash_recall"](spark, docs_empty_sf).collect()[0]
    assert (r.n_candidates, r.n_truth, r.n_hits) == (0, 0, 0)
    assert r.recall is None


def test_modularity_empty_graph_matches_oracle_shape(spark, docs_empty_sf):
    """Empty pair graph: m and q_den are 0 (edge-count scalars), q_num
    and modularity NULL (sums over an empty partition census) — the
    oracle's exact empty shape, previously all-NULL on the Spark side."""
    r = QUERIES["graph_modularity"](spark, docs_empty_sf).collect()[0]
    assert (r.m, r.q_num, r.q_den, r.modularity) == (0, None, 0, None)


def test_shard_manifest_empty_corpus_is_empty(spark, docs_empty_sf):
    """Zero documents write zero shard files; the pinned-schema re-read
    must yield an empty manifest, not UNABLE_TO_INFER_SCHEMA."""
    out = QUERIES["corpus_shard_manifest"](spark, docs_empty_sf).collect()
    assert out == []


@pytest.fixture(scope="module")
def table_empty_sf(tmp_path_factory, sf_dir):
    """Factory: an sf_dir with exactly ONE named table emptied."""
    def make(tbl):
        d = tmp_path_factory.mktemp(f"{tbl}_empty")
        for t in _TABLES + ["documents"]:
            if t == tbl:
                src = pq.read_table(f"{sf_dir}/{t}.parquet")
                pq.write_table(src.slice(0, 0), str(d / f"{t}.parquet"))
            else:
                os.symlink(f"{sf_dir}/{t}.parquet", str(d / f"{t}.parquet"))
        return str(d)

    return make


def test_events_empty_keys_degrade_not_crash(spark, table_empty_sf):
    """Events-empty finds (r9 audit): ANSI /0 and driver-side None
    arithmetic become NULL columns or empty results, matching each
    oracle's empty shape."""
    d = table_empty_sf("events")
    r = QUERIES["ab_srm_check"](spark, d).collect()[0]
    assert (r.n0, r.n1, r.chi2, r.srm_flag) == (0, 0, None, None)
    assert QUERIES["eval_bradley_terry"](spark, d).collect() == []
    assert QUERIES["dq_drift_psi"](spark, d).collect() == []
    r = QUERIES["json_malformed"](spark, d).collect()[0]
    assert (r.n_rows, r.n_valid, r.k_sum) == (0, 0, 0)
    r = QUERIES["scan_csv_malformed"](spark, d).collect()[0]
    assert (r.n_rows, r.n_corrupt, r.val_sum) == (0, 0, None)
    # the fold_stream_state keys: no rows, the non-empty result's schema
    for key, schema in (
        ("stream_stateful", _STATEFUL_SCHEMA),
        ("stream_typed_state", _STATEFUL_SCHEMA),
        (
            "stream_rollup_merge",
            "struct<event_type:string,bucket:timestamp,n:bigint,total:double>",
        ),
        (
            "stream_merge_upsert",
            "struct<user_id:bigint,last_event_id:bigint,last_type:string,"
            "last_ts:timestamp>",
        ),
        (
            "stream_topk_merge",
            "struct<event_type:string,event_id:bigint,cents:bigint,rnk:bigint>",
        ),
    ):
        df = QUERIES[key](spark, d)
        assert df.collect() == [], key
        assert df.schema.simpleString() == schema, key


def test_orders_empty_keys_degrade_not_crash(spark, table_empty_sf):
    """Orders-empty finds: zero-file sink re-read, n=0 graph teleport
    division, and None range bounds all degrade to the oracle's empty
    shapes instead of raising."""
    d = table_empty_sf("orders")
    r = QUERIES["sink_compact"](spark, d).collect()[0]
    assert (r.n_files, r.n_rows, r.total) == (0, 0, None)
    assert QUERIES["graph_pagerank"](spark, d).collect() == []
    assert QUERIES["graph_ppr_seeded"](spark, d).collect() == []
    assert QUERIES["layout_range_cluster"](spark, d).collect() == []
    assert QUERIES["layout_zorder"](spark, d).collect() == []


def test_empty_write_reread_keys_pin_their_schema(spark, table_empty_sf):
    """The write-then-reread keys pin their read schema (the lakehouse
    manifest discipline): an empty source writes zero part files, and
    schema INFERENCE on the re-read raises UNABLE_TO_INFER_SCHEMA while
    each oracle scans zero rows. Pinned schemas make empty-in/empty-out.
    scan_file_skipping and stream_checkpoint_resume are deliberately NOT
    here — their in-code asserts (pruning must bite / first run must
    process data) are the keys' contracts and stay loud."""
    od = table_empty_sf("orders")
    assert QUERIES["scan_dpp"](spark, od).collect() == []
    assert QUERIES["sink_partitioned"](spark, od).collect() == []
    assert QUERIES["scan_partition_pruned"](spark, od).collect() == []
    ev = table_empty_sf("events")
    assert QUERIES["sink_dynamic_overwrite"](spark, ev).collect() == []
    assert QUERIES["sink_file_sizing"](spark, ev).collect() == []


def test_part_empty_recs_coverage_null_ratios(spark, table_empty_sf):
    """Part-empty: catalog_size=0 makes coverage undefined — NULL like
    DuckDB's x/0.0, never an ANSI raise."""
    d = table_empty_sf("part")
    r = QUERIES["recs_coverage_diversity"](spark, d).collect()[0]
    assert r.catalog_size == 0 and r.coverage is None
