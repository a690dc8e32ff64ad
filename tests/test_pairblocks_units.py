"""Spark-free property tests for the blocked pair-overlap workers
(operators/pairblocks.py).

The end-to-end oracles (dedup_minhash_recall / dedup_simhash_recall /
graph_adamic_adar) hash-verify the pipelines; these pin the claims the
rewrite's correctness rests on, directly against brute force:

1. EXACT PAIR SETS — overlap_pairs_fn reproduces the inverted-index
   self-join + threshold exactly, for both the rational form
   (k*C >= union, boundary-safe integers) and the float form
   (float64(C)/float64(union) >= t, the engines' own compare replayed),
   on diagonal (self-join), two-sided and one-sided off-diagonal
   block-pair groups, with integer or raw string keys.  The f32 mask
   fast path and the biased superset prefilter must not change a
   single surviving pair.
2. EXACT WEIGHTED TOP-K — weighted_topk_fn's per-worker top-k under
   (aa DESC, id_a ASC, id_b ASC) equals brute force, including the
   integer micro-weight sums (exact in float64 under any summation
   order) and the shared-count column.
3. REPLICATION COVERS EACH PAIR ONCE — replicate_block_pairs sends an
   unordered item pair to EXACTLY one (block-pair, sides) group, so no
   cross-worker dedup is needed and no pair is lost.
"""

from __future__ import annotations

import itertools
import random

import numpy as np
import pandas as pd
import pytest

from hh_rumors_presto_spark.operators.pairblocks import (
    overlap_pairs_fn,
    weighted_topk_fn,
)

COLS = ["__bp_i", "__bp_j", "__side", "id", "vids"]


# Group shapes a worker can receive: the diagonal (0, 0) group (side A
# only, in-block triangle), a two-sided (0, 1) group, and a (0, 1) group
# whose side-B block is empty — side-A rows only, yet NOT diagonal, so
# it must pair nothing (its pairs belong to the (0, 0) group).
SHAPES = ("diag", "two_sided", "one_sided_off")


def _layout(shape: str, i: int) -> tuple[int, int, int]:
    """(__bp_i, __bp_j, __side) of row ``i`` in a group of ``shape``."""
    if shape == "diag":
        return 0, 0, 0
    return 0, 1, (i % 2) if shape == "two_sided" else 0


def _keys(vids, key):
    """The item's keys as ``key`` (int) or raw strings (shingle-like)."""
    return [v if key is int else f"w {v}" for v in vids]


def _group(
    n: int, shape: str, seed: int, vocab: int = 40, key=int
) -> pd.DataFrame:
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        vids = sorted(rng.sample(range(vocab), rng.randint(1, 12)))
        rows.append((*_layout(shape, i), i, _keys(vids, key)))
    return pd.DataFrame(rows, columns=COLS)


def _is_diag(pdf) -> bool:
    return bool(pdf["__bp_i"].iat[0] == pdf["__bp_j"].iat[0])


def _brute_pairs(pdf, rat=None, thr=None):
    sets = {r["id"]: set(r["vids"]) for _, r in pdf.iterrows()}
    sides = {r["id"]: r["__side"] for _, r in pdf.iterrows()}
    diag = _is_diag(pdf)
    out = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        if not diag and sides[a] == sides[b]:
            continue
        c = len(sets[a] & sets[b])
        if c < 1:
            continue
        u = len(sets[a] | sets[b])
        if rat is not None and rat[1] * c >= rat[0] * u:
            out.add((a, b))
        if thr is not None and float(c) / float(u) >= thr:
            out.add((a, b))
    return out


def test_overlap_pairs_matches_bruteforce():
    for seed, shape, key in itertools.product(range(6), SHAPES, (int, str)):
        pdf = _group(60, shape, seed, key=key)
        for rat, thr in [
            ((1, 2), None),
            ((7, 10), None),
            (None, 0.5),
            (None, 1.0 / 3.0),
        ]:
            fn = overlap_pairs_fn(rational=rat, float_threshold=thr)
            got = set(map(tuple, fn(pdf)[["id_a", "id_b"]].to_numpy().tolist()))
            want = _brute_pairs(pdf, rat=rat, thr=thr)
            assert got == want, (seed, shape, key, rat, thr)
            if shape == "one_sided_off":
                assert not got


def test_overlap_pairs_counts_and_jaccard_exact():
    # the ppjoin form: rational (7,10) with inter/uni/jaccard emitted —
    # counts must be the exact set cardinalities and jaccard their
    # float64 quotient.
    fn = overlap_pairs_fn(rational=(7, 10), emit_counts=True, emit_jaccard=True)
    for seed, key in itertools.product(range(4), (int, str)):
        # tiny vocab => dense overlaps
        pdf = _group(50, "diag", seed, vocab=12, key=key)
        sets = {r["id"]: set(r["vids"]) for _, r in pdf.iterrows()}
        got = {
            (r["id_a"], r["id_b"]): (r["inter"], r["uni"], r["jaccard"])
            for _, r in fn(pdf).iterrows()
        }
        want = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            c = len(sets[a] & sets[b])
            u = len(sets[a] | sets[b])
            if c >= 1 and 10 * c >= 7 * u:
                want[(a, b)] = (c, u, float(c) / float(u))
        assert got == want, (seed, key)


def test_overlap_pairs_float_boundary_exact():
    # two docs engineered onto the jaccard boundary: |A∩B|=1, |A∪B|=3,
    # jac = 1/3 exactly — the float compare must include it at t=1/3
    # (same IEEE division both engines run) and exclude it at the next
    # float up.
    t = 1.0 / 3.0
    for key in (int, str):
        pdf = pd.DataFrame(
            [
                (0, 0, 0, 1, _keys([10, 11], key)),
                (0, 0, 0, 2, _keys([10, 12], key)),
            ],
            columns=COLS,
        )
        keep = overlap_pairs_fn(float_threshold=t)(pdf)
        assert keep[["id_a", "id_b"]].to_numpy().tolist() == [[1, 2]], key
        drop = overlap_pairs_fn(float_threshold=np.nextafter(t, 1.0))(pdf)
        assert len(drop) == 0, key


def test_overlap_pairs_needs_exactly_one_threshold():
    # checked when the worker is built, not inside the Arrow worker
    for kwargs in ({}, {"rational": (1, 2), "float_threshold": 0.5}):
        with pytest.raises(ValueError, match="exactly one"):
            overlap_pairs_fn(**kwargs)


def test_overlap_pairs_empty_and_degenerate_typed():
    for fn in (
        overlap_pairs_fn(rational=(1, 2)),
        overlap_pairs_fn(rational=(7, 10), emit_counts=True, emit_jaccard=True),
        overlap_pairs_fn(float_threshold=0.5, emit_jaccard=True),
    ):
        for pdf in (
            pd.DataFrame([], columns=COLS),
            pd.DataFrame([(0, 0, 0, 7, [1, 2])], columns=COLS),  # 1 item
        ):
            out = fn(pdf)
            assert len(out) == 0
            assert str(out.dtypes["id_a"]) == "int64"
            assert str(out.dtypes["id_b"]) == "int64"
            if "jaccard" in out.columns:
                assert str(out.dtypes["jaccard"]) == "float64"


def _brute_weighted_topk(pdf, k):
    vids = {r["id"]: list(r["vids"]) for _, r in pdf.iterrows()}
    ws = {r["id"]: dict(zip(r["vids"], r["ws"])) for _, r in pdf.iterrows()}
    sides = {r["id"]: r["__side"] for _, r in pdf.iterrows()}
    diag = _is_diag(pdf)
    cand = []
    for a, b in itertools.combinations(sorted(vids), 2):
        if not diag and sides[a] == sides[b]:
            continue
        shared = set(vids[a]) & set(vids[b])
        if not shared:
            continue
        aa = sum(ws[a][v] for v in shared)
        cand.append((aa, len(shared), min(a, b), max(a, b)))
    cand.sort(key=lambda t: (-t[0], t[2], t[3]))
    return [(c[2], c[3], c[0], c[1]) for c in cand[:k]]


def test_weighted_topk_matches_bruteforce():
    rng = random.Random(11)
    wmap = {v: rng.randint(1, 1_400_000) for v in range(40)}
    for shape in SHAPES:
        rows = []
        for i in range(80):
            vv = sorted(rng.sample(range(40), rng.randint(1, 12)))
            rows.append((*_layout(shape, i), i, vv, [wmap[v] for v in vv]))
        pdf = pd.DataFrame(rows, columns=COLS + ["ws"])
        for k in (5, 20, 10_000):
            fn = weighted_topk_fn(k)
            got = [
                tuple(r)
                for r in fn(pdf)[["id_a", "id_b", "aa_micro", "n_shared"]]
                .to_numpy()
                .tolist()
            ]
            assert got == _brute_weighted_topk(pdf, k), (shape, k)
            if shape == "one_sided_off":
                assert not got


def test_weighted_topk_tie_pruning_keeps_all_boundary_candidates():
    # every pair shares exactly the same single vocab item => all aa
    # equal; top-k must resolve ties by (id_a ASC, id_b ASC) exactly.
    rows = [(0, 0, 0, i, [5], [100]) for i in range(12)]
    pdf = pd.DataFrame(rows, columns=COLS + ["ws"])
    got = weighted_topk_fn(7)(pdf)[["id_a", "id_b"]].to_numpy().tolist()
    want = sorted(
        [(min(a, b), max(a, b)) for a, b in itertools.combinations(range(12), 2)]
    )[:7]
    assert got == [list(t) for t in want]


def test_replication_covers_each_pair_exactly_once():
    # pure-python replay of replicate_block_pairs' routing: item in
    # block b is side A of (b, j>=b) and side B of (i<b, b).  Every
    # unordered block pair must meet in exactly one group with
    # opposite sides (or the diagonal group once).
    for bcount in (1, 2, 3, 5, 8):
        for ba, bb in itertools.product(range(bcount), repeat=2):
            meets = []
            for i, j in itertools.product(range(bcount), repeat=2):
                if i > j:
                    continue
                a_here = []
                b_here = []
                for blk, tag in ((ba, "x"), (bb, "y")):
                    if blk == i:  # side A of (i, j) for j >= i
                        a_here.append(tag)
                    if blk == j and j > i:  # side B of (i, j) for i < j
                        b_here.append(tag)
                if ba == bb:
                    if i == j == ba:
                        meets.append((i, j))  # diagonal triangle
                else:
                    if ("x" in a_here and "y" in b_here) or (
                        "y" in a_here and "x" in b_here
                    ):
                        meets.append((i, j))
            assert len(meets) == 1, (bcount, ba, bb, meets)
