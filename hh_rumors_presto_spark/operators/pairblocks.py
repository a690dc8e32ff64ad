"""Blocked all-pairs set-overlap counting.

The inverted-index self-join — ``inv a JOIN inv b ON a.key = b.key AND
a.id < b.id`` followed by ``GROUP BY (id_a, id_b)`` — counts set
intersections exactly, but it emits one row per shared key per pair and
aggregates the whole pair space through an exchange.  This module
computes the same counts as dense block matmuls inside per-(block-pair)
``applyInPandas`` workers instead:

- every item (document, customer) is hash-assigned to one of B blocks;
- each item row — (id, vids[, aligned ws]), ``vids`` an array of the
  item's distinct keys — is replicated to the B block-pairs its block
  participates in (side A for (b, j>=b), side B for (i<b, b)), so each
  unordered item pair meets in EXACTLY ONE worker and no cross-worker
  dedup is needed;
- the worker gives the keys group-local column ids with
  ``pd.factorize`` (any hashable key: ints, strings), builds binary item x
  local-vocab matrices and computes C = A @ B.T — C[i, j] IS
  ``count(*)`` of the equi-join group for that pair;
- only survivors of the caller's threshold (or per-block top-k) leave
  the worker, so the pair-sized aggregate and its exchange disappear
  from the plan.

EXACTNESS: every accumulated value is an INTEGER.  Counts are bounded
by the local vocab size (guarded < 2^24, so float32 partial sums are
exact; float64 otherwise), and Adamic–Adar micro-weight sums are
bounded by |suppliers| * floor(1e6/ln 2 + .5) < 2^53, so float64 sums
are exact integers under ANY summation order — BLAS reordering,
chunking and block count cannot change a single bit.  Float thresholds
(jaccard >= t) are applied by replaying the engines' own operation:
float64(C) / float64(union) compared to the float64 literal — the same
IEEE division on the same exact operands.

MEMORY: a worker holds its group's two side matrices DENSE — (side-A
rows x group-local vocab) and (side-B rows x group-local vocab), 4 or 8
bytes a cell; on the diagonal pair they are one matrix (the weighted
worker also stacks a weighted copy of side B).  ``_ROW_CHUNK`` bounds
only the live product C (chunk x side-B rows).  So worker memory
grows with the group's vocabulary, not just its rows.  B only balances
load: results are identical under any B.  Row bound: a side matrix
has one row per item of its block, and items are hash-assigned, so a
block holds n_items / B items on average.  B is one block per
``_ROWS_PER_BLOCK`` items up to its core-derived cap, so that average
is at most ``_ROWS_PER_BLOCK`` below the cap and n_items / cap above it.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ROW_CHUNK = 2048  # bounds the live C matrix at chunk x |B-side| floats

# Items per block.  Every block-pair group is one more applyInPandas
# task feeding a Python worker, a fixed cost that dominates small
# inputs.  dedup_ppjoin medians on a 4-core host at B=1/2/4: 500
# documents 0.66/0.67/1.06 s, 1000 documents 0.67/0.76/1.11 s, 2000
# documents 0.98/0.88/1.31 s, 5000 documents 3.52/2.14/2.15 s.  So one
# block holds up to 1000 items; the 5000-document and 15000-customer
# sf0.1 inputs still reach the cap.
_ROWS_PER_BLOCK = 1000


def block_count(n_items: int) -> int:
    """Number of item blocks B for at most ``n_items`` item rows: one
    block per ``_ROWS_PER_BLOCK`` items, capped where B(B+1)/2
    block-pair workers comfortably exceed the core count (load balance)
    while replication (B copies of each item row) stays modest;
    ceil(sqrt(2 * cores)) gives ~cores workers.  Results are identical
    under ANY B."""
    from hh_rumors_presto_spark.session import default_parallelism, tasks_for_rows

    cap = max(4, int(math.ceil(math.sqrt(2.0 * default_parallelism()))))
    return tasks_for_rows(n_items, _ROWS_PER_BLOCK, cap)


def replicate_block_pairs(df: DataFrame, block_col: str, n_blocks: int) -> DataFrame:
    """Fan each row out to every block-pair its block participates in.

    A row in block b is side A of pairs (b, j) for j in [b, B) and side
    B of pairs (i, b) for i in [0, b).  The diagonal pair (b, b) gets
    the row ONCE (side A); the worker handles the in-block triangle."""
    b = F.col(block_col)
    a_side = df.select(
        "*",
        b.alias("__bp_i"),
        F.explode(F.sequence(b, F.lit(n_blocks - 1), F.lit(1))).alias("__bp_j"),
        F.lit(0).alias("__side"),
    )
    b_side = df.filter(b > 0).select(
        "*",
        F.explode(F.sequence(F.lit(0), b - 1, F.lit(1))).alias("__bp_i"),
        b.alias("__bp_j"),
        F.lit(1).alias("__side"),
    )
    return a_side.unionByName(b_side)


def blocked_pairs(items: DataFrame, worker, schema: str, n_items: int) -> DataFrame:
    """Wire an item DataFrame — one row per item: (id, vids[, ws]) with
    ``vids`` an array of the item's distinct keys, of any hashable
    type — through block-pair replication and the given
    worker.  ``n_items`` is an upper bound on the item rows (the footer
    row count of their source table); it sizes B.  With more than one
    group the repartition is EXPLICIT (user repartitions are exempt from
    AQE coalescing): the shuffle input is thin array rows but the worker
    compute is pair-mass-sized, which AQE cannot see.  One group is left
    to the grouping's own hash exchange, which AQE coalesces to one
    task; a repartition to one partition would plan as SinglePartition,
    so the plan would no longer be keyed by block pair."""
    bcount = block_count(n_items)
    blocked = items.withColumn(
        "__blk", F.pmod(F.xxhash64(F.col("id")), F.lit(bcount)).cast("int")
    )
    rep = replicate_block_pairs(blocked, "__blk", bcount)
    # ship ONLY what the worker reads (opaque functions defeat column
    # pruning — project explicitly before the exchange)
    thin = rep.select("__bp_i", "__bp_j", "__side", *items.columns)
    n_groups = bcount * (bcount + 1) // 2
    if n_groups > 1:
        thin = thin.repartition(n_groups, "__bp_i", "__bp_j")
    return thin.groupBy("__bp_i", "__bp_j").applyInPandas(worker, schema)


def _concat_lists(cells) -> tuple[np.ndarray, np.ndarray]:
    """object Series of arrays -> (flat values, per-row lengths)."""
    lists = [np.asarray(x) for x in cells]
    lens = np.fromiter((len(x) for x in lists), dtype=np.int64, count=len(lists))
    flat = (
        np.concatenate(lists) if lists else np.array([], dtype=np.int64)
    )
    return flat, lens


def _group_matrices(pdf: pd.DataFrame, weighted: bool):
    """Parse one block-pair group into per-side (ids, matrix, set sizes)
    plus the per-local-vocab weight vector when ``weighted``.  The B
    side aliases the A side on the diagonal pair (each row arrives
    once; the worker takes the in-block upper triangle).  Diagonal means
    the group key i == j: an off-diagonal group whose rows all happen to
    be side A (its side-B block is empty) pairs nothing."""
    side = pdf["__side"].to_numpy()
    ids = pdf["id"].to_numpy()
    flat, lens = _concat_lists(pdf["vids"])
    # hash-based, so string keys cost about what ints do (np.unique's
    # comparison sort of object arrays measured ~20x slower)
    cols, vocab = pd.factorize(flat, use_na_sentinel=False)
    dt = np.float64 if weighted or len(vocab) >= (1 << 24) else np.float32
    wvec = None
    if weighted:
        wflat, _ = _concat_lists(pdf["ws"])
        wvec = np.zeros(len(vocab))
        wvec[cols] = wflat.astype(np.float64)
    rows = np.repeat(np.arange(len(ids)), lens)
    row_side = np.repeat(side, lens)

    def build(want: int):
        sel = np.nonzero(side == want)[0]
        remap = np.full(len(ids), -1, dtype=np.int64)
        remap[sel] = np.arange(len(sel))
        rmask = row_side == want
        m = np.zeros((len(sel), len(vocab)), dtype=dt)
        m[remap[rows[rmask]], cols[rmask]] = 1.0
        return ids[sel], m, lens[sel]

    diag = bool(pdf["__bp_i"].iat[0] == pdf["__bp_j"].iat[0])
    ida, ma, na = build(0)
    if diag:
        idb, mb, nb = ida, ma, na
    else:
        idb, mb, nb = build(1)
    return ida, ma, na, idb, mb, nb, diag, wvec


def overlap_pairs_fn(
    rational: tuple[int, int] | None = None,
    float_threshold: float | None = None,
    emit_jaccard: bool = False,
    emit_counts: bool = False,
):
    """applyInPandas worker: emit (id_a, id_b[, inter, uni][, jaccard])
    for every in-worker pair with intersection count C >= 1 that passes
    the caller's threshold, where id_a < id_b (pairs meeting a C >= 1
    gate replay the join's "pair exists only if it shares a key"
    semantics).

    - ``rational=(num, den)``: keep pairs with den*C >= num*(na+nb-C),
      i.e. Jaccard >= num/den, evaluated in exact integers (the truth
      tables' boundary-safe form; (1, 2) encodes Jaccard >= 0.5, (7,
      10) the ppjoin threshold).
    - ``float_threshold=t``: keep pairs with float64(C)/float64(union)
      >= t — the engines' own float comparison replayed on the same
      exact operands (NOT a rational rewrite: the boundary rounds the
      way the engines round it).

    Exactly one of ``rational`` and ``float_threshold`` must be given.
    """
    if (rational is None) == (float_threshold is None):
        raise ValueError(
            "overlap_pairs_fn needs exactly one of rational and float_threshold"
        )

    cols = ["id_a", "id_b"]
    empty_types = {"id_a": "int64", "id_b": "int64"}
    if emit_counts:
        cols += ["inter", "uni"]
        empty_types.update({"inter": "int64", "uni": "int64"})
    if emit_jaccard:
        cols.append("jaccard")
        empty_types["jaccard"] = "float64"

    def empty() -> pd.DataFrame:
        return pd.DataFrame({c: [] for c in cols}).astype(empty_types)

    # float-mode prefilter ratio: jac >= t  <=>  C >= (na+nb) * t/(1+t).
    # The mask only needs to keep a SUPERSET (the exact float64 compare
    # re-runs on the gathered survivors), so the ratio is lowered by
    # 1e-5 — orders of magnitude beyond float32 rounding (2^-24 per op)
    # — and the mask arithmetic can run in the matmul's own dtype with
    # NO exactness requirement.  (The 11x lesson: converting the
    # chunk x |B| matrix to float64 dominated the worker at sf1.)
    if float_threshold is not None:
        pre_ratio = (float_threshold / (1.0 + float_threshold)) * (1.0 - 1e-5)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return empty()
        ida, ma, na, idb, mb, nb, diag, _ = _group_matrices(pdf, weighted=False)
        if len(ida) == 0 or len(idb) == 0 or (diag and len(ida) < 2):
            return empty()
        out = {c: [] for c in cols}
        mbt = mb.T
        # rational mode's mask IS the final answer, so its products must
        # be EXACT: C <= min(max na, max nb) bounds every count, and
        # exact-integer float32 compare needs (den+num)*Cmax and
        # num*(na+nb) below 2^24.  Outside that (never at this corpus'
        # doc sizes) the chunk converts to float64 — the always-exact
        # path.
        f32_mask_ok = True
        if rational is not None and ma.dtype == np.float32:
            num, den = rational
            cmax = int(min(na.max(), nb.max()))
            f32_mask_ok = (den + num) * cmax < (1 << 24) and num * (
                int(na.max()) + int(nb.max())
            ) < (1 << 24)
        mdt = ma.dtype.type if f32_mask_ok else np.float64
        naf = na.astype(mdt)
        nbf = nb.astype(mdt)
        for lo in range(0, len(ida), _ROW_CHUNK):
            hi = min(lo + _ROW_CHUNK, len(ida))
            c = ma[lo:hi] @ mbt
            if c.dtype != mdt:
                c = c.astype(mdt, copy=False)
            # the threshold mask stays DENSE: gathering every C >= 1
            # pair first is pair-mass-sized (the r12 sf1 lesson)
            tot = naf[lo:hi, None] + nbf[None, :]
            if rational is not None:
                num, den = rational
                mask = (c >= 1.0) & ((den + num) * c >= num * tot)
            else:
                mask = (c >= 1.0) & (c >= tot * mdt(pre_ratio))
            if diag:
                mask &= ida[lo:hi, None] < idb[None, :]
            r, q = np.nonzero(mask)
            if len(r) == 0:
                continue
            u, w = ida[lo + r], idb[q]
            cv = c[r, q].astype(np.int64)
            uni = na[lo + r] + nb[q] - cv
            jac = None
            if rational is None:
                jac = cv.astype(np.float64) / uni.astype(np.float64)
                keep = jac >= float_threshold
                u, w, cv, uni, jac = (
                    u[keep],
                    w[keep],
                    cv[keep],
                    uni[keep],
                    jac[keep],
                )
                if len(u) == 0:
                    continue
            out["id_a"].append(np.minimum(u, w))
            out["id_b"].append(np.maximum(u, w))
            if emit_counts:
                out["inter"].append(cv)
                out["uni"].append(uni)
            if emit_jaccard:
                if jac is None:  # rational mode: the engines' division
                    jac = cv.astype(np.float64) / uni.astype(np.float64)
                out["jaccard"].append(jac)
        if not out["id_a"]:
            return empty()
        return pd.DataFrame({c: np.concatenate(v) for c, v in out.items()})

    return fn


def weighted_topk_fn(k: int):
    """applyInPandas worker for Adamic–Adar-style scoring: item rows
    carry aligned (vids, ws) arrays, where ws[i] is the integer
    micro-weight (>= 1 — the dense top-k threshold relies on valid
    scores being positive) of vocab item vids[i]; the worker computes, per
    in-worker pair, aa = Σ w over shared vocab ids and n_shared =
    |shared|, then emits the worker-local top-``k`` by (aa DESC,
    id_a ASC, id_b ASC).  Top-k of a union equals top-k over the union
    of per-worker top-k's (each unordered pair exists in exactly one
    worker), so the global top-k downstream is exact.

    Both sums accumulate exact integers < 2^53 in float64 — one stacked
    GEMM computes weighted and unweighted counts together."""

    empty_types = {
        "id_a": "int64",
        "id_b": "int64",
        "aa_micro": "int64",
        "n_shared": "int64",
    }

    def empty() -> pd.DataFrame:
        return pd.DataFrame({c: [] for c in empty_types}).astype(empty_types)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) == 0:
            return empty()
        ida, ma, na, idb, mb, nb, diag, wvec = _group_matrices(pdf, weighted=True)
        if len(ida) == 0 or len(idb) == 0 or (diag and len(ida) < 2):
            return empty()
        # stacked GEMM: [B*w ; B]^T gives (aa | n_shared) in one product
        stacked = np.concatenate([mb * wvec[None, :], mb], axis=0).T
        nb_items = len(idb)
        best = None  # (aa, n_shared, id_a, id_b) candidate pool
        for lo in range(0, len(ida), _ROW_CHUNK):
            hi = min(lo + _ROW_CHUNK, len(ida))
            both = ma[lo:hi] @ stacked
            aa, cnt = both[:, :nb_items], both[:, nb_items:]
            # the valid-pair mask AND the chunk-local top-k threshold
            # both stay DENSE — gathering every shared pair first is
            # pair-mass-sized (the r12 sf1 lesson).  Scores of valid
            # pairs are >= 1 > 0, so zeroing invalid cells keeps the
            # k-th-largest threshold exact (t = 0 when < k valid).
            mask = cnt >= 1.0
            if diag:
                mask &= ida[lo:hi, None] < idb[None, :]
            aam = np.where(mask, aa, 0.0)
            flat = aam.ravel()
            if flat.size > k:
                thr = np.partition(flat, flat.size - k)[flat.size - k]
                mask &= aam >= max(thr, 1.0)
            r, q = np.nonzero(mask)
            if len(r) == 0:
                continue
            u, w = ida[lo + r], idb[q]
            cand = (
                aa[r, q].astype(np.int64),
                cnt[r, q].astype(np.int64),
                np.minimum(u, w),
                np.maximum(u, w),
            )
            best = (
                cand
                if best is None
                else tuple(np.concatenate([b, c]) for b, c in zip(best, cand))
            )
            if len(best[0]) > 64 * k:
                best = _prune_topk(best, k)
        if best is None:
            return empty()
        aa, cnt, a_id, b_id = _prune_topk(best, k, final=True)
        return pd.DataFrame(
            {"id_a": a_id, "id_b": b_id, "aa_micro": aa, "n_shared": cnt}
        )

    return fn


def _prune_topk(cand, k: int, final: bool = False):
    """Keep the (aa DESC, id_a ASC, id_b ASC) top-k (ties on the k-th
    aa value are all kept when not final, so no potential winner is
    dropped before the exact ordering is applied)."""
    aa, cnt, a_id, b_id = cand
    if len(aa) > k:
        thr = np.partition(aa, len(aa) - k)[len(aa) - k]
        keep = aa >= thr
        aa, cnt, a_id, b_id = aa[keep], cnt[keep], a_id[keep], b_id[keep]
    if not final:
        return aa, cnt, a_id, b_id
    order = np.lexsort((b_id, a_id, -aa))[:k]
    return aa[order], cnt[order], a_id[order], b_id[order]
