"""Semantics tests for the round-17 breadth keys (personalized
PageRank, streaming top-k merge, generalized-ESD peeling) —
independent Python re-derivations, not oracle re-runs."""

from __future__ import annotations

import math

import pytest

from hh_rumors_presto_spark.registry import QUERIES, load_all_queries

load_all_queries()


def _graph(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").collect()
    orders = {
        r.o_orderkey: r.o_custkey
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    }
    pairs = {(orders[r.l_orderkey] * 2, r.l_suppkey * 2 + 1) for r in li}
    out = {}
    for c, s in pairs:
        out.setdefault(c, []).append(s)
        out.setdefault(s, []).append(c)
    return out


@pytest.mark.parametrize(
    "key", ["graph_ppr_seeded", "graph_pagerank"], ids=["seeds", "all_nodes"]
)
def test_ppr_matches_python_fixed_point_replay(spark, sf_dir, key):
    """Replay 3 rounds of integer fixed-point PPR in Python and compare
    the top-100 rows exactly. graph_pagerank is the same walk with every
    node in the restart set."""
    SCALE = 1_000_000_000_000
    adj = _graph(spark, sf_dir)
    if key == "graph_ppr_seeded":
        restart = {n for n in adj if n % 2 == 0 and n // 2 <= 50}
    else:
        restart = set(adj)
    k = len(restart)
    teleport = (15 * SCALE) // (100 * k)
    rank = {n: (SCALE // k if n in restart else 0) for n in adj}
    outdeg = {n: len(nbrs) for n, nbrs in adj.items()}
    for _ in range(3):
        contrib = {}
        for u, nbrs in adj.items():
            share = ((rank[u] * 85) // 100) // outdeg[u]
            for v in nbrs:
                contrib[v] = contrib.get(v, 0) + share
        rank = {
            n: (teleport if n in restart else 0) + contrib.get(n, 0)
            for n in adj
        }
    top = sorted(adj, key=lambda n: (-rank[n], n))[:100]
    rows = QUERIES[key](spark, sf_dir).collect()
    if key == "graph_ppr_seeded":
        want = {(n, n in restart, rank[n]) for n in top}
        got = {(r.node, r.is_seed, r.rank_fp) for r in rows}
    else:
        want = {(n, "customer" if n % 2 == 0 else "supplier", rank[n]) for n in top}
        got = {(r.node, r.node_type, r.rank_fp) for r in rows}
    assert got == want


def test_ppr_mass_concentrates_near_seeds(spark, sf_dir):
    """Personalization property: seeds (and their 1-hop suppliers) must
    dominate the top ranks, and far-from-seed mass must be lower than
    under uniform PageRank for at least the top node."""
    rows = QUERIES["graph_ppr_seeded"](spark, sf_dir).collect()
    top10 = sorted(rows, key=lambda r: (-r.rank_fp, r.node))[:10]
    # the highest-ranked nodes must include seed-adjacent mass: every
    # top-10 node is a seed or odd (supplier reachable from seeds)
    assert all(r.is_seed or r.node % 2 == 1 for r in top10)


def test_stream_topk_equals_batch_topk(spark, sf_dir):
    """The merged streaming state must equal the from-scratch per-type
    top-3 computed in Python."""
    rows = [
        r
        for r in spark.read.parquet(f"{sf_dir}/events.parquet").collect()
        if r.value is not None
    ]
    groups = {}
    for r in rows:
        c = math.floor(float(r.value) * 100.0 + 0.5)
        groups.setdefault(r.event_type, []).append((c, r.event_id))
    want = set()
    for et, items in groups.items():
        items.sort(key=lambda t: (-t[0], t[1]))
        for rnk, (c, eid) in enumerate(items[:3], start=1):
            want.add((et, eid, c, rnk))
    got = {
        (r.event_type, r.event_id, r.cents, r.rnk)
        for r in QUERIES["stream_topk_merge"](spark, sf_dir).collect()
    }
    assert got == want


def test_topk_merge_is_exact_for_insert_only():
    """Pure-python property behind the key: topk(topk(A) ∪ topk(B)) ==
    topk(A ∪ B) for any split — checked over a few adversarial splits
    including all-ties."""
    def topk(items, k=3):
        return sorted(items, key=lambda t: (-t[0], t[1]))[:k]

    cases = [
        ([(5, 1), (5, 2), (5, 3), (5, 4)], [(5, 5), (9, 6)]),
        ([(1, 1)], [(2, 2), (3, 3), (4, 4), (5, 5)]),
        ([], [(1, 1), (1, 2)]),
    ]
    for a, b in cases:
        assert topk(topk(a) + topk(b)) == topk(a + b)


def test_esd_peeling_matches_python_replay(spark, sf_dir):
    """Replay the 3-round integer-argmax peel in Python (moments
    recomputed after each removal) and compare picks and R stats."""
    daily = {}
    for r in spark.read.parquet(f"{sf_dir}/events.parquet").collect():
        if r.value is None:
            continue
        k = (r.event_type, r.ts.date())
        daily[k] = daily.get(k, 0) + math.floor(float(r.value) * 100.0 + 0.5)
    series = {}
    for (et, day), cents in daily.items():
        series.setdefault(et, []).append((day, cents))
    want = {}
    for et, pts in series.items():
        remaining = sorted(pts)
        for rnd in range(1, 4):
            n = len(remaining)
            s = sum(c for _, c in remaining)
            s2 = sum(c * c for _, c in remaining)
            if not (n > 4 and n * s2 > s * s):
                break
            pick = max(remaining, key=lambda t: (abs(n * t[1] - s), _NEG(t[0])))
            sd = math.sqrt((n * s2 - s * s) / (n * (n - 1)))
            r_stat = abs(n * pick[1] - s) / (n * sd)
            want[(et, rnd)] = (pick[0], pick[1], round(r_stat, 6))
            remaining.remove(pick)
    got = {
        (r.event_type, r.peel_round): (r.day, r.cents, r.r_stat)
        for r in QUERIES["ts_esd_outliers"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == want[k][1]
        assert abs(got[k][2] - want[k][2]) < 1e-6


class _NEG:
    """Reverse-order wrapper so max() breaks deviation ties toward the
    EARLIEST day (mirrors ORDER BY deviation DESC, day ASC)."""

    def __init__(self, v):
        self.v = v

    def __lt__(self, other):
        return self.v > other.v

    def __gt__(self, other):
        return self.v < other.v

    def __eq__(self, other):
        return self.v == other.v
