"""Property tests for the cosine block workers (operators/cosblocks.py)
and the ANN coarse-quantizer scorer.

The end-to-end oracles (emb_knn_graph, emb_knn_graph_ann / _recall,
dedup_embedding) hash-verify the full pipelines; these pin the claims
their correctness rests on, directly against a brute force that folds
each cosine in the engines' sequential float64 order, comparing the
cosines as exact floats:

1. DISTRIBUTIVE EXACTNESS — per-node top-k over the union of a node's
   per-block top-k emissions equals top-k over the union of the raw
   blocks, under the exact total order (cos DESC NULLS LAST, NaN
   first, vec_b ASC). This is why block_topk_fn may emit only k
   neighbors per block without losing an edge.
2. ORDER SEMANTICS — the numpy lexsort keys reproduce the engines'
   ordering on the degenerate inputs: zero vectors (NULL cosine →
   ranked last, emitted as None), NaN elements (NaN cosine → ranked
   first under DESC, like both engines), and exact ties (vec_b ASC).
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd

from hh_rumors_presto_spark.operators.cosblocks import (
    block_thresh_pairs_fn,
    block_topk_fn,
    dots,
)
from hh_rumors_presto_spark.queries.ann_round3 import _ANN_K, _top_cells_udf


def _seq_cos(a: list, b: list) -> float | None:
    """One cosine folded left to right in float64, the engines' order;
    None where the engines return NULL (zero denominator)."""
    acc = na = nb = 0.0
    for d in range(len(a)):
        acc = acc + a[d] * b[d]
        na = na + a[d] * a[d]
        nb = nb + b[d] * b[d]
    denom = math.sqrt(na) * math.sqrt(nb)
    return None if denom == 0.0 else acc / denom


def _rep(cos: float | None):
    """The exact float, or a "null"/"nan" tag so sets compare."""
    if cos is None:
        return "null"
    return "nan" if math.isnan(cos) else cos


def _rank_key(vid: int, rep) -> tuple:
    """(cos DESC NULLS LAST, NaN first, id ASC) over _rep values."""
    if rep == "null":
        return (1, 0.0, vid)
    if rep == "nan":
        return (0, -math.inf, vid)
    return (0, -rep, vid)


def _brute_topk(pdf: pd.DataFrame, k: int) -> set[tuple]:
    """Reference: all-pairs sequential-fold cosine, per-node top-k
    under _rank_key. Returns {(vec_a, vec_b, _rep(cos))}."""
    ids = pdf["vec_id"].tolist()
    embs = [list(map(float, e)) for e in pdf["embedding"]]
    out = set()
    for i, a in enumerate(embs):
        cands = [
            (ids[j], _rep(_seq_cos(a, b))) for j, b in enumerate(embs) if j != i
        ]
        cands.sort(key=lambda t: _rank_key(*t))
        out.update((ids[i], vid, rep) for vid, rep in cands[:k])
    return out


def _worker_edges(pdf: pd.DataFrame, k: int) -> set[tuple]:
    res = block_topk_fn(k)(pdf)
    return {
        (r.vec_a, r.vec_b, _rep(r.cos_sim)) for r in res.itertuples(index=False)
    }


def _mk_pdf(rows):
    return pd.DataFrame(
        {
            "vec_id": pd.array([r[0] for r in rows], dtype="int64"),
            "label": ["x"] * len(rows),
            "embedding": [r[1] for r in rows],
        }
    )


def test_worker_matches_brute_force_random():
    rng = random.Random(11)
    for trial in range(25):
        m = rng.randint(2, 40)
        dim = rng.choice([2, 3, 8, 64])
        rows = []
        for i in range(m):
            if rng.random() < 0.15:
                emb = [0.0] * dim  # zero vector -> NULL cosine
            else:
                emb = [rng.uniform(-1, 1) for _ in range(dim)]
            rows.append((100 + i, emb))
        pdf = _mk_pdf(rows)
        assert _worker_edges(pdf, _ANN_K) == _brute_topk(pdf, _ANN_K), (
            f"trial {trial}"
        )


def test_worker_exact_tie_breaks_on_id():
    # identical vectors: cos == 1.0 against each other, tie broken by
    # vec_b ASC — node 1's top-2 must be (2, 3), never (4, ...)
    pdf = _mk_pdf([(i, [1.0, 2.0]) for i in (1, 2, 3, 4, 5)])
    edges = _worker_edges(pdf, 2)
    mine = sorted(b for a, b, _ in edges if a == 1)
    assert mine == [2, 3]


def test_worker_nan_ranks_first_null_ranks_last():
    pdf = _mk_pdf(
        [
            (1, [1.0, 0.0]),
            (2, [float("nan"), 1.0]),  # NaN cosine vs everyone
            (3, [0.0, 0.0]),  # NULL cosine vs everyone
            (4, [0.9, 0.1]),
        ]
    )
    edges = _worker_edges(pdf, 2)
    mine = [(b, rep) for a, b, rep in edges if a == 1]
    ranked = sorted(
        mine,
        key=lambda t: (0 if t[1] == "nan" else (2 if t[1] == "null" else 1)),
    )
    # top-2 for node 1: NaN partner first, then the valid cosine; the
    # NULL partner must have been cut by k=2
    assert [b for b, _ in ranked] == [2, 4]
    # and with k=3 the NULL partner appears, as None (true SQL NULL)
    edges3 = _worker_edges(pdf, 3)
    assert (1, 3, "null") in edges3


def test_distributive_topk_across_blocks():
    """Union-of-block-topk then global top-k == global top-k over the
    raw union: split one population into overlapping 'cells', run the
    worker per cell, re-reduce, compare against one-block truth."""
    rng = random.Random(23)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(20)
    ]
    whole = _mk_pdf(rows)
    truth = _brute_topk(whole, _ANN_K)

    # overlapping blocks (each node in >= 2 cells), mimicking multi-probe
    blocks = [rows[0:12], rows[6:20], rows[0:4] + rows[10:20]]
    partial = set()
    for blk in blocks:
        partial |= _worker_edges(_mk_pdf(blk), _ANN_K)
    # dedup (same pair from 2 blocks has the same cosine) then top-k
    per_node = {}
    for a, b, rep in partial:
        per_node.setdefault(a, {})[b] = rep

    reduced = set()
    for a, nbrs in per_node.items():
        for b, rep in sorted(nbrs.items(), key=lambda t: _rank_key(*t))[:_ANN_K]:
            reduced.add((a, b, rep))

    # the reduced set must contain every truth edge whose pair was
    # covered by some shared block (multi-probe coverage), and agree
    # exactly where coverage is total: here every pair of rows[6:12]
    # x anything is covered, so restrict to full-coverage nodes
    cover = {}
    for blk in blocks:
        idset = {r[0] for r in blk}
        for a in idset:
            cover.setdefault(a, set()).update(idset - {a})
    full = {a for a, cs in cover.items() if len(cs) == 19}
    assert {e for e in truth if e[0] in full} == {
        e for e in reduced if e[0] in full
    }


# ---------------------------------------------------------------------------
# row-chunking invariance, label emission, the threshold-pair worker, the
# hyperplane-signature projections and the coarse-quantizer scorer
# ---------------------------------------------------------------------------


def test_worker_chunking_is_bit_invariant():
    """row_chunk only bounds the live matrix; every acc element's add
    order is unchanged, so emissions must be IDENTICAL (not just close)
    for any chunk size."""
    rng = random.Random(42)
    rows = [
        (200 + i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(23)
    ]
    rows[5] = (205, [0.0] * 8)
    pdf = _mk_pdf(rows)
    base = block_topk_fn(_ANN_K, row_chunk=10**6)(pdf)
    for chunk in (1, 2, 3, 7, 23):
        got = block_topk_fn(_ANN_K, row_chunk=chunk)(pdf)
        assert got.values.tolist() == base.values.tolist(), chunk


def test_worker_emit_label_carries_block_label():
    pdf = pd.DataFrame(
        {
            "vec_id": pd.array([1, 2, 3], dtype="int64"),
            "label": pd.array([7, 7, 7], dtype="int32"),
            "embedding": [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0]],
        }
    )
    res = block_topk_fn(2, emit_label=True)(pdf)
    assert set(res.columns) == {"vec_a", "vec_b", "cos_sim", "label"}
    assert set(res["label"]) == {7}
    # same edges as the label-less worker
    plain = block_topk_fn(2)(pdf)
    assert res[["vec_a", "vec_b"]].values.tolist() == (
        plain[["vec_a", "vec_b"]].values.tolist()
    )


def test_thresh_pairs_matches_brute_force():
    """dedup_embedding's worker: every in-block pair with vec_a < vec_b
    and cos > t, NULL dropped (NULL > t is not true), NaN kept (both
    engines order NaN above every number)."""
    rng = random.Random(7)
    for trial in range(20):
        m = rng.randint(2, 12)
        rows = []
        for i in range(m):
            r = rng.random()
            if r < 0.12:
                emb = [0.0, 0.0, 0.0]
            elif r < 0.2:
                emb = [float("nan"), 1.0, 0.0]
            else:
                emb = [rng.uniform(-1, 1) for _ in range(3)]
            rows.append((300 + i, emb))
        pdf = _mk_pdf(rows)
        t = 0.3
        got = {
            (r.vec_a, r.vec_b, _rep(r.cos_sim))
            for r in block_thresh_pairs_fn(t, row_chunk=rng.choice([2, 64]))(
                pdf
            ).itertuples(index=False)
        }
        ids = pdf["vec_id"].tolist()
        embs = [list(map(float, e)) for e in pdf["embedding"]]
        want = set()
        for i in range(m):
            for j in range(m):
                if ids[i] >= ids[j]:
                    continue
                cos = _seq_cos(embs[i], embs[j])
                if cos is None:
                    continue  # NULL cosine: NULL > t is not true
                if math.isnan(cos) or cos > t:
                    want.add((ids[i], ids[j], _rep(cos)))
        assert got == want, f"trial {trial}"


def test_plane_sigs_dim_loop_matches_sequential_fold():
    """The signature generator's projections (cosblocks.dots) must
    reproduce the sequential left-to-right float64 fold bit-for-bit —
    the >= 0 sign bits AND the raw accumulators."""
    rng = random.Random(3)
    n_tables, n_bits, dim = 4, 5, 16
    planes = [
        [rng.uniform(-1, 1) for _ in range(dim)]
        for _ in range(n_tables * n_bits)
    ]
    embs = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(40)]
    acc = dots(np.array(embs), np.array(planes))
    for i, e in enumerate(embs):
        for p, plane in enumerate(planes):
            ref = 0.0
            for d in range(dim):
                ref = ref + e[d] * plane[d]
            assert acc[i, p] == ref, (i, p)  # bit-exact, not approx


def test_top_cells_matches_brute_force(spark):
    """emb_knn_graph_ann's scorer: per vector, the top-``probes``
    centroid ids by (cos DESC NULLS LAST, NaN first, cent_id ASC), over
    a batch larger than the kernel's row chunk, with zero vectors on
    both sides, a NaN element and exactly tied centroids.  ``spark``
    parses the UDF's DDL return type."""
    rng = random.Random(5)
    dim, probes = 4, 3
    cents = [(c, [rng.uniform(-1, 1) for _ in range(dim)]) for c in range(8)]
    cents[2] = (2, [0.0] * dim)  # NULL cosine against every vector
    cents[5] = (5, list(cents[1][1]))  # exact tie with centroid 1
    cents[7] = (7, [2 * x for x in cents[3][1]])  # same direction as 3
    embs = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(700)]
    embs[10] = [0.0] * dim  # every cosine NULL: ids ascending
    embs[600] = [float("nan")] + [0.5] * (dim - 1)  # every cosine NaN
    embs[650] = list(cents[1][1])  # ties centroids 1 and 5 at the top
    top_cells = _top_cells_udf(list(reversed(cents)), probes).func
    got = top_cells(pd.Series([np.array(e) for e in embs])).tolist()
    assert len(got) == len(embs)
    for i, e in enumerate(embs):
        ranked = sorted(_rank_key(cid, _rep(_seq_cos(e, c))) for cid, c in cents)
        assert got[i] == [key[2] for key in ranked[:probes]], i
    # all NULL, and all NaN (a NaN norm times 0 is NaN, not 0): ids ASC
    assert got[10] == got[600] == [0, 1, 2]
    assert got[650][:2] == [1, 5]
