"""Semantics tests for the round-54 keys (Markov entropy rate,
median polish, no-broadcast control) — independent Python
re-derivations."""

from __future__ import annotations

import math
from datetime import date

from hh_rumors_presto_spark import io
from hh_rumors_presto_spark.registry import QUERIES, load_all_queries

load_all_queries()


def test_markov_entropy_matches_python_replay(spark, sf_dir):
    ev = sorted(
        (
            (r.user_id, int(r.ts.timestamp() * 1e6), r.event_id,
             r.event_type)
            for r in io.load_events(spark, sf_dir).collect()
        )
    )
    trans = {}
    by_user = {}
    for u, ts, eid, et in ev:
        by_user.setdefault(u, []).append((ts, eid, et))
    for rows in by_user.values():
        rows.sort()
        for (_, _, v), (_, _, w) in zip(rows, rows[1:]):
            trans[(v, w)] = trans.get((v, w), 0) + 1
    cv = {}
    for (v, _), c in trans.items():
        cv[v] = cv.get(v, 0) + c
    n = sum(trans.values())
    h = sum(
        math.floor(1e6 * (c / n) * math.log(cv[v] / c) + 0.5)
        for (v, _), c in trans.items()
    )
    row = QUERIES["ts_markov_entropy_rate"](spark, sf_dir).collect()[0]
    assert (row.n_transitions, row.n_distinct_pairs) == (
        n, len(trans),
    )
    assert row.entropy_rate_micro == h
    # bounded by ln of the state count
    n_states = len({v for v, _ in trans})
    assert 0 <= row.entropy_rate_micro <= 1e6 * math.log(n_states) + 1


def test_median_polish_matches_python_replay(spark, sf_dir):
    epoch = date(1970, 1, 5)
    grid = {}
    for r in io.load_events(spark, sf_dir).collect():
        if r.value is None:
            continue
        d = (r.ts.date() - epoch).days
        key = (d % 7, d // 7)
        grid[key] = grid.get(key, 0) + math.floor(
            float(r.value) * 100.0 + 0.5
        )
    def lomed(vals):
        vals = sorted(vals)
        return vals[(len(vals) + 1) // 2 - 1]

    r_med = {
        dw: lomed([v for (d, _), v in grid.items() if d == dw])
        for dw in {d for d, _ in grid}
    }
    res1 = {k: v - r_med[k[0]] for k, v in grid.items()}
    c_med = {
        wk: lomed([v for (_, w), v in res1.items() if w == wk])
        for wk in {w for _, w in grid}
    }
    got = {
        (r.dow, r.wk): (
            r.dow_effect_cents, r.week_effect_cents, r.residual_cents,
        )
        for r in QUERIES["ts_median_polish"](spark, sf_dir).collect()
    }
    assert set(got) == set(grid)
    for k, v in grid.items():
        assert got[k] == (
            r_med[k[0]],
            c_med[k[1]],
            v - r_med[k[0]] - c_med[k[1]],
        )


def test_no_broadcast_matches_and_restores_conf(spark, sf_dir):
    cust = {
        r.c_custkey: r.c_mktsegment
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    }
    per = {}
    for r in spark.read.parquet(f"{sf_dir}/orders.parquet").collect():
        seg = cust[r.o_custkey]
        n, s = per.get(seg, (0, 0))
        per[seg] = (
            n + 1,
            s + math.floor(float(r.o_totalprice) * 100.0 + 0.5),
        )
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    got = {
        r.segment: (r.n_orders, r.cents_sum)
        for r in QUERIES["hint_no_broadcast"](spark, sf_dir).collect()
    }
    after = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    assert got == per
    # the merge hint leaves the session's broadcast threshold alone
    assert after == before
