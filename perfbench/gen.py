"""Seeded generator for the ten fixture tables the query registry reads.

The tables follow the shapes of the repository's synthetic test fixtures
(TESTDATA.md, FIXTURES.md: a TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings``): the same column names and parquet types,
the same value domains and the same row counts per scale factor, drawn from
uniform / exponential distributions.
The same ``(seed, sf)`` always gives byte-identical parquet files.

:func:`replicate` builds a larger input with ``tools/make_sf1.py``'s recipe
and offset table (disjoint key offsets applied consistently across PK/FK
pairs, text and labels copied), except that the seed picks each replica's
offset slot and the row order of every replicated table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "es", "de", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_EMB_DIM = 64

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (the test fixtures' sizes:
    lineitem ~6M x sf; documents and embeddings floor at 500 rows)."""
    n = lambda per_sf: max(1, int(round(per_sf * sf)))  # noqa: E731
    return {
        "region": 5,
        "nation": 25,
        "customer": n(150_000),
        "supplier": n(10_000),
        "part": n(200_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "events": n(1_000_000),
        "documents": max(500, n(50_000)),
        "embeddings": max(500, n(20_000)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(0, span_days, n) * _US_PER_DAY
    return pa.array(us, pa.int64()).cast(pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup texts of 10-100 words; 5% are a copy of an earlier
    document with `` dup`` appended (near-duplicates for the dedup keys)."""
    words = np.asarray(_WORDS, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), lengths[i])]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, _EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * _EMB_DIM + 1, _EMB_DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """Strictly increasing timestamps spread over January 2024."""
    gaps = rng.exponential(1.0, n)
    span = 30 * _US_PER_DAY - 60_000_000
    ts = _EPOCH_2024 + 1 + np.floor(np.cumsum(gaps) / gaps.sum() * span)
    ts = np.maximum.accumulate(ts.astype(np.int64) + np.arange(n))
    value = np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    c = row_counts(sf)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    nc, ns, npart, no, nl = (
        c["customer"], c["supplier"], c["part"], c["orders"], c["lineitem"],
    )
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": _REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": i64(np.arange(nc)),
            "c_name": _names("Customer", nc),
            "c_nationkey": i32(rng.integers(0, 25, nc)),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, _SEGMENTS, nc),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": i64(np.arange(ns)),
            "s_name": _names("Supplier", ns),
            "s_nationkey": i32(rng.integers(0, 25, ns)),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    adj = rng.integers(0, len(_ADJ), npart)
    noun = rng.integers(0, len(_NOUN), npart)
    t["part"] = pa.table(
        {
            "p_partkey": i64(np.arange(npart)),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": _pick(rng, _PTYPES, npart),
            "p_size": i32(rng.integers(1, 51, npart)),
            "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": i64(np.arange(no)),
            "o_custkey": i64(rng.integers(0, nc, no)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, no, 2405),
            "o_orderpriority": _pick(rng, _PRIORITIES, no),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, no, nl)),
            "l_partkey": i64(rng.integers(0, npart, nl)),
            "l_suppkey": i64(rng.integers(0, ns, nl)),
            "l_linenumber": i32(rng.integers(1, 8, nl)),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, nl, 2499),
        }
    )
    t["events"] = _events(rng, c["events"], max(1, int(round(15_000 * sf))))
    t["documents"] = _documents(rng, c["documents"])
    t["embeddings"] = _embeddings(rng, c["embeddings"])
    return t


def replicate(
    tables: dict[str, pa.Table], replicas: int, seed: int
) -> dict[str, pa.Table]:
    """``replicas`` copies of every keyed table with disjoint key offsets.

    The seed assigns each copy its offset slot and shuffles the rows of
    every replicated table; region and nation are shared key domains and
    are copied once."""
    from tools.make_sf1 import COPY_ONLY, OFFSETS

    rng = np.random.default_rng(seed)
    out = {name: tables[name] for name in COPY_ONLY}
    for name, offs in OFFSETS.items():
        base = tables[name]
        slots = rng.permutation(replicas)
        parts = []
        for slot in slots:
            cols = {}
            for col in base.column_names:
                arr = base[col]
                if col in offs:
                    arr = pc.add(arr, pa.scalar(int(offs[col] * slot), arr.type))
                cols[col] = arr
            parts.append(pa.table(cols))
        big = pa.concat_tables(parts)
        out[name] = big.take(pa.array(rng.permutation(big.num_rows)))
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, dict]:
    """Write one parquet file per table; return rows and bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path, compression="snappy")
        sizes[name] = {
            "rows": tables[name].num_rows,
            "bytes": os.path.getsize(path),
        }
    return sizes
