"""Blocked exact cosine over embedding rows, bit-identical to the engines.

BIT-PARITY CONTRACT: Spark's ``functions.vectors.cosine_similarity`` fold
and DuckDB's ``list_inner_product`` (``functions.vectors.cosine_sql``)
both accumulate ``acc = acc + a[d]*b[d]`` left to right in float64.
:func:`dots` and :func:`norms` replay that order — the loop runs over
DIMENSIONS with vectorized row ops — so every dot product, norm and the
final ``dot / (sqrt(|a|^2) * sqrt(|b|^2))`` carries the same bits in all
three, and near-tie rankings cannot diverge.  A BLAS product
(``np.dot``, ``@``) sums pairwise and breaks this.  Row chunking does
not change any element's add order, so results do not depend on
``row_chunk``.

Degenerate values follow the engines: a zero denominator is
``nullif(.., 0)`` -> NULL (``invalid``), which ranks last under
``DESC NULLS LAST``; a NaN element gives a NaN cosine, which both
engines order above every number.

The workers run inside per-block ``applyInPandas`` groups, so the pair
mass is born and reduced in the worker and never crosses an exchange.
Live memory per worker is the block's embeddings plus a few
``row_chunk x block rows`` float64 matrices.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd

_ROW_CHUNK = 512  # bounds the live cosine matrix at chunk x |b| doubles


def stack(embs: Iterable) -> np.ndarray:
    """Rows of ``embs`` as one float64 matrix."""
    return np.vstack([np.asarray(e, dtype="float64") for e in embs])


def dots(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """``a (n x D)`` by ``b (m x D)`` dot products, ``n x m``, accumulated
    in dimension order."""
    acc = np.zeros((a.shape[0], b.shape[0]))
    for d in range(a.shape[1]):
        acc = acc + a[:, d : d + 1] * b[None, :, d]
    return acc


def norms(a: np.ndarray) -> np.ndarray:
    """Row L2 norms, the squares accumulated in dimension order."""
    n2 = np.zeros(a.shape[0])
    for d in range(a.shape[1]):
        n2 = n2 + a[:, d] * a[:, d]
    return np.sqrt(n2)


def cosine_chunks(
    a: np.ndarray, b: np.ndarray | None = None, row_chunk: int = _ROW_CHUNK
) -> Iterator[tuple[int, np.ndarray, np.ndarray]]:
    """Yield ``(lo, cos, invalid)`` per chunk of ``a``'s rows:
    ``cos[i, j]`` is the cosine of ``a[lo + i]`` and ``b[j]`` (``b``
    defaults to ``a``); ``invalid[i, j]`` marks a zero denominator, where
    the engines return NULL and ``cos`` holds junk."""
    nrm_a = norms(a)
    if b is None:
        b, nrm_b = a, nrm_a
    else:
        nrm_b = norms(b)
    for lo in range(0, a.shape[0], row_chunk):
        hi = min(lo + row_chunk, a.shape[0])
        denom = nrm_a[lo:hi, None] * nrm_b[None, :]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dots(a[lo:hi], b) / denom
        yield lo, cos, denom == 0.0


def rank_desc(cos: np.ndarray, invalid: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """Indices of one row in the engines' ``ORDER BY cos DESC NULLS
    LAST, id`` order: valid before NULL, NaN first, then cos descending,
    ties by ``ids`` ascending.  ``lexsort`` is last-key-primary."""
    key = np.where(invalid, 0.0, -cos)
    key = np.where(np.isnan(key) & ~invalid, -np.inf, key)
    return np.lexsort((ids, key, invalid))


def block_topk_fn(k: int, emit_label: bool = False, row_chunk: int = _ROW_CHUNK):
    """applyInPandas worker over ``(vec_id, embedding[, label])`` block
    rows: every node's block-local top-``k`` neighbours as ``(vec_a,
    vec_b, cos_sim)``, ordered ``(cos_sim DESC NULLS LAST, vec_b)``.

    Emitting only the block-local top-k is exact when a node sits in
    several blocks: top-k of a union equals top-k over the union of the
    per-block top-k's, under the same total order.  NULL cosines (zero
    vectors) stay candidates — with fewer than k valid neighbours the
    engines rank them in — and leave as ``None``, a true SQL NULL.
    ``emit_label`` adds the block's ``label`` column."""

    def block_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        dtypes = {"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"}
        if emit_label:
            dtypes["label"] = "int32"
        if len(pdf) < 2:
            return pd.DataFrame({c: [] for c in dtypes}).astype(dtypes)
        ids = pdf["vec_id"].to_numpy()
        emat = stack(pdf["embedding"])
        va, vb, cs_out = [], [], []
        for lo, cos, invalid in cosine_chunks(emat, row_chunk=row_chunk):
            for ci in range(len(cos)):
                i = lo + ci
                order = rank_desc(cos[ci], invalid[ci], ids)
                for j in order[order != i][:k]:
                    va.append(int(ids[i]))
                    vb.append(int(ids[j]))
                    cs_out.append(None if invalid[ci, j] else float(cos[ci, j]))
        out = {
            "vec_a": pd.array(va, dtype="int64"),
            "vec_b": pd.array(vb, dtype="int64"),
            "cos_sim": pd.array(cs_out, dtype="object"),
        }
        if emit_label:
            out["label"] = pd.array([pdf["label"].iloc[0]] * len(va), dtype="int32")
        return pd.DataFrame(out)

    return block_topk


def block_thresh_pairs_fn(threshold: float, row_chunk: int = _ROW_CHUNK):
    """applyInPandas worker over ``(vec_id, embedding)`` block rows:
    every in-block pair with ``vec_a < vec_b`` and ``cos_sim >
    threshold``.  NULL cosines drop out (``NULL > t`` is not true); NaN
    cosines stay, because both engines order NaN above every number."""

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        va, vb, cs_out = [], [], []
        if len(pdf) >= 2:
            emat = stack(pdf["embedding"])
            for lo, cos, invalid in cosine_chunks(emat, row_chunk=row_chunk):
                keep = ~invalid & ((cos > threshold) | np.isnan(cos))
                keep &= ids[lo : lo + len(cos), None] < ids[None, :]
                ci, j = np.nonzero(keep)
                va.extend(ids[lo + ci].tolist())
                vb.extend(ids[j].tolist())
                cs_out.extend(cos[ci, j].tolist())
        return pd.DataFrame(
            {
                "vec_a": pd.array(va, dtype="int64"),
                "vec_b": pd.array(vb, dtype="int64"),
                "cos_sim": pd.array(cs_out, dtype="float64"),
            }
        )

    return block_pairs
