"""Semantics tests for the round-38 keys (Hampel, dynamic overwrite,
Hill tail index) — independent Python re-derivations."""

from __future__ import annotations

import math

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.registry import QUERIES, load_all_queries

load_all_queries()


def _daily(spark, sf_dir):
    daily = {}
    for r in io.load_events(spark, sf_dir).collect():
        if r.event_type != "purchase" or r.value is None:
            continue
        d = r.ts.date()
        daily[d] = daily.get(d, 0) + math.floor(
            float(r.value) * 100.0 + 0.5
        )
    return daily


def test_hampel_matches_python_replay(spark, sf_dir):
    daily = _daily(spark, sf_dir)
    days = sorted(daily)
    vals = [daily[d] for d in days]
    want = {}
    for i, d in enumerate(days):
        frame = sorted(vals[max(0, i - 3) : i + 4])
        n = len(frame)
        med = frame[(n + 1) // 2 - 1]
        devs = sorted(abs(v - med) for v in frame)
        mad = devs[(n + 1) // 2 - 1]
        if abs(vals[i] - med) > 3 * mad:
            want[d] = (vals[i], med, mad)
    got = {
        r.day: (r.cents, r.med_cents, r.mad_cents)
        for r in QUERIES["win_hampel"](spark, sf_dir).collect()
    }
    assert got == want


def test_dynamic_overwrite_replaces_one_partition(spark, sf_dir):
    base = {}
    for r in io.load_events(spark, sf_dir).collect():
        if r.value is None:
            continue
        c = math.floor(float(r.value) * 100.0 + 0.5)
        if r.event_type == "purchase" and c < 5000:
            continue  # replaced away by the second write
        n, s = base.get(r.event_type, (0, 0))
        base[r.event_type] = (n + 1, s + c)
    got = {
        r.event_type: (r.n, r.cents_sum)
        for r in QUERIES["sink_dynamic_overwrite"](spark, sf_dir).collect()
    }
    assert got == base
    # non-purchase partitions survived the second overwrite
    assert any(t != "purchase" for t in got)
    # the overwrite mode is a writer option: the session keeps its static mode
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower() == "static"


def test_hill_matches_python_replay(spark, sf_dir):
    cents = sorted(
        (
            math.floor(float(r.o_totalprice) * 100.0 + 0.5)
            for r in spark.read.parquet(
                f"{sf_dir}/orders.parquet"
            ).collect()
        ),
        reverse=True,
    )
    k = 100
    x_ref = cents[k]
    rs = [
        math.floor(1e6 * math.log(c / x_ref) + 0.5) for c in cents[:k]
    ]
    hill = (2 * sum(rs) + k) // (2 * k)
    alpha = (2000000000000 + hill) // (2 * hill)
    row = QUERIES["agg_tail_index_hill"](spark, sf_dir).collect()[0]
    assert (row.k, row.x_k1_cents) == (k, x_ref)
    assert row.hill_micro == hill
    assert row.alpha_micro == alpha
    # alpha and hill are reciprocal in micro units (within rounding)
    assert abs(row.alpha_micro / 1e6 - 1e6 / row.hill_micro) < 1e-3
