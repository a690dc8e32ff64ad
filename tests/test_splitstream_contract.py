"""Splitstream (micro-batch arrival order) contract marker — VERDICT r7
item 2: the `stream_join_outer` env-parity divergence gets the same
named-cause treatment as the timezone set (tests/test_tz_contract.py).

ROOT CAUSE (inherent semantics, not a bug): a stream-stream LEFT OUTER
join under a TIGHT watermark emits its NULL side when the watermark
proves no match can arrive — and the watermark advances per micro-batch,
so the emitted set is a function of how the RUNNER batches the source
files. The canonical driver source is the single-file parquet fixture
(exactly one micro-batch under availableNow), where execution is
deterministic and the DuckDB oracle models the emission boundary
exactly. driver_sim --env-parity's splitstream variant (HH_STREAM_SPLIT=5,
out-of-order, one file per trigger) advances the watermark mid-stream:
late matches get dropped and already-evicted clicks emit NULL instead.

These tests exist so that if the external driver ever starts splitting
the streaming source, ONE test fails naming the cause and the affected
key (session.SPLITSTREAM_SENSITIVE_KEYS) instead of a single unexplained
red CORRECTNESS hash — and so the divergence itself stays inside the
provable envelope below (anything outside it would be a REAL bug, not
the documented caveat):

  1. split matched pairs  ⊆  canonical matched pairs (eviction can only
     LOSE matches, never fabricate one);
  2. every split NULL click either is a canonical NULL click or was
     matched canonically (its purchase arrived after eviction) — a NULL
     for a click the canonical run never saw would be fabricated data;
  3. the batching-invariant streaming keys do NOT move under the split
     (proving the pinned list is exactly one key, not stale).
"""

from __future__ import annotations

import os

import pytest

from hh_rumors_presto_spark.registry import QUERIES, load_all_queries
from hh_rumors_presto_spark.session import SPLITSTREAM_SENSITIVE_KEYS
from hh_rumors_presto_spark.streaming.helpers import read_events_stream


def test_canonical_runs_are_single_batch():
    """The canonical session (and the external driver) must NOT set
    HH_STREAM_SPLIT: the keys in SPLITSTREAM_SENSITIVE_KEYS are
    oracle-verified under single-batch arrival only."""
    split = os.environ.get("HH_STREAM_SPLIT")
    assert not split or int(split) <= 1, (
        f"HH_STREAM_SPLIT={split!r} forces multi-batch arrival — "
        f"{sorted(SPLITSTREAM_SENSITIVE_KEYS)} will hash-diverge from "
        f"their DuckDB oracles (tight-watermark NULL-emission is a "
        f"function of micro-batch arrival order; see "
        f"session.SPLITSTREAM_SENSITIVE_KEYS)"
    )


def test_splitstream_sensitive_keys_exist_in_registry():
    load_all_queries()
    missing = sorted(k for k in SPLITSTREAM_SENSITIVE_KEYS if k not in QUERIES)
    assert not missing, f"SPLITSTREAM_SENSITIVE_KEYS not in registry: {missing}"


@pytest.fixture()
def forced_split(monkeypatch):
    monkeypatch.setenv("HH_STREAM_SPLIT", "5")


def _rows(spark, sf_dir, key):
    return QUERIES[key](spark, sf_dir).collect()


def test_join_outer_divergence_stays_in_envelope(spark, sf_dir, monkeypatch):
    """Canary + envelope: under HH_STREAM_SPLIT=5 the key must (a) really
    diverge (else the pinned list is stale) and (b) diverge ONLY in the
    two semantically-sound ways watermark timing allows."""
    load_all_queries()
    monkeypatch.delenv("HH_STREAM_SPLIT", raising=False)
    canon = {
        (r.click_id, r.purchase_id, r.user_id)
        for r in _rows(spark, sf_dir, "stream_join_outer")
    }
    monkeypatch.setenv("HH_STREAM_SPLIT", "5")
    split = {
        (r.click_id, r.purchase_id, r.user_id)
        for r in _rows(spark, sf_dir, "stream_join_outer")
    }

    assert canon != split, (
        "stream_join_outer no longer splitstream-sensitive — "
        "SPLITSTREAM_SENSITIVE_KEYS is stale, re-derive with "
        "driver_sim --env-parity"
    )
    canon_matched = {t for t in canon if t[1] is not None}
    split_matched = {t for t in split if t[1] is not None}
    # (1) eviction can only LOSE matches
    assert split_matched <= canon_matched, (
        "split run fabricated matched pairs absent from the canonical "
        "run: " + repr(sorted(split_matched - canon_matched)[:5])
    )
    # (2) every split NULL click is canonically NULL or canonically
    # matched (purchase dropped late) — never an unknown click
    canon_null_ids = {t[0] for t in canon if t[1] is None}
    canon_matched_ids = {t[0] for t in canon_matched}
    split_null_ids = {t[0] for t in split if t[1] is None}
    stray = split_null_ids - canon_null_ids - canon_matched_ids
    assert not stray, f"split run emitted NULL for unknown clicks: {sorted(stray)[:5]}"


def test_invariant_streaming_keys_do_not_move(spark, sf_dir, forced_split):
    """Control: the associative-merge streaming keys are batching-
    invariant by construction; if one moves under the split, the
    one-key pinned list is wrong and env-parity has a new diverger."""
    load_all_queries()
    for key in (
        "stream_session_state",
        "stream_tumbling",
        "stream_stateful",
        "stream_typed_state",
        "stream_rollup_merge",
        "stream_merge_upsert",
        "stream_topk_merge",
    ):
        os.environ.pop("HH_STREAM_SPLIT", None)
        canon = sorted(map(str, _rows(spark, sf_dir, key)))
        os.environ["HH_STREAM_SPLIT"] = "5"
        forced = sorted(map(str, _rows(spark, sf_dir, key)))
        assert canon == forced, (
            f"{key} diverges under HH_STREAM_SPLIT=5 — it belongs in "
            f"session.SPLITSTREAM_SENSITIVE_KEYS and its oracle contract "
            f"needs the stream_join_outer treatment"
        )


@pytest.mark.parametrize("raw", ["x", "-2"])
def test_malformed_split_fails_at_build(spark, sf_dir, monkeypatch, raw):
    """A non-integer or negative HH_STREAM_SPLIT raises, naming the
    variable, when a stream is built."""
    monkeypatch.setenv("HH_STREAM_SPLIT", raw)
    with pytest.raises(ValueError, match="HH_STREAM_SPLIT must be an integer"):
        read_events_stream(spark, sf_dir)
