"""Local stand-in for the driver's correctness gate.

Runs every ``queries()[name]`` on Spark and, when an oracle exists, the
matching ``oracle_sql()[name]`` on DuckDB over the same parquet fixtures,
then compares row count, column names, and an order-insensitive value hash.

Usage:
    python tools/verify_local.py [--sf /root/testdata/sf0.01] [key ...]
"""

from __future__ import annotations

import argparse
import os
import hashlib
import math
import sys
import tempfile
import time
import traceback
from datetime import date, datetime
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, Decimal):
        # Type-tagged: an int128/decimal cell must NOT hash equal to a
        # BIGINT cell with the same digits — that distinction is exactly
        # what the external driver enforces (rounds-3-5 reds). A true
        # DECIMAL(p,s) oracle column only matches a Spark DecimalType
        # column, which also arrives here as Decimal.
        return f"dec:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if os.environ.get("VERIFY_EXACT_FLOATS"):
            return repr(v)  # bit-exact comparison mode
        # round-trip repr at 12 significant digits to absorb fp noise
        return f"{v:.12g}"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def duckdb_memory_limit() -> str:
    """Half of the host's MemTotal: a large oracle spills to the temp
    directory instead of growing until the kernel kills it."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return f"{int(line.split()[1]) // 2048}MB"
    raise RuntimeError("no MemTotal line in /proc/meminfo")


def arrow_rows(rel) -> list[tuple]:
    """Materialize a DuckDB relation through Arrow the way the external
    driver does, rebuilding rows POSITIONALLY from the Arrow columns.

    to_pylist() dicts (keyed by column name) would silently collapse
    DUPLICATE output column names into one value — diverging from both
    fetchall mode and the real driver (VERDICT r7 item 7; unit-tested by
    tests/test_verify_tools.py). to_pylist per column (not to_pandas)
    keeps NULLs as None instead of NaN-in-float64."""
    tbl = rel.fetch_arrow_table()
    if not tbl.num_columns:
        return []
    return list(zip(*[col.to_pylist() for col in tbl.columns]))


def value_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted(
        "|".join(_norm_cell(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--duckdb-arrow",
        action="store_true",
        help="materialize DuckDB results through Arrow->pandas like the "
        "external driver does (fetchall() returns Python ints for "
        "HUGEINT and hid the rounds-3-5 int128 divergence; this mode "
        "reproduces it locally)",
    )
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()
    with tempfile.TemporaryDirectory(prefix="verify_local_duckdb_") as spill:
        return _verify(args, spill)


def _verify(args: argparse.Namespace, spill: str) -> int:
    """Compare every requested key; DuckDB spills to ``spill``."""
    import duckdb

    import __spark_entry__ as ent
    from hh_rumors_presto_spark.session import get_spark

    spark = get_spark("verify_local")
    qs = ent.queries()
    oracles = ent.oracle_sql()

    con = duckdb.connect()
    con.execute(f"SET memory_limit = '{duckdb_memory_limit()}'")
    con.execute(f"SET temp_directory = '{spill}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    keys = args.keys or sorted(qs)
    n_pass = n_fail = n_rowsonly = 0
    for key in keys:
        t0 = time.time()
        try:
            sdf = qs[key](spark, args.sf)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception:
            print(f"FAIL  {key}: spark raised")
            traceback.print_exc()
            n_fail += 1
            continue
        elapsed = time.time() - t0
        if key not in oracles:
            print(f"rows-only  {key}: {len(srows)} rows  ({elapsed:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            rel = con.execute(oracles[key])
            dcols = [d[0] for d in rel.description]
            if args.duckdb_arrow:
                # Driver-fidelity path: HUGEINT materializes through Arrow
                # as decimal128(38,0) (Decimal objects), which _norm_cell
                # renders distinctly from Spark's LONG so the rounds-3-5
                # int128 divergence reproduces locally. See arrow_rows for
                # the positional-rebuild / duplicate-column contract.
                drows = arrow_rows(rel)
            else:
                drows = rel.fetchall()
        except Exception:
            print(f"FAIL  {key}: duckdb raised")
            traceback.print_exc()
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
        else:
            sh = value_hash([tuple(r) for r in srows], scols)
            dh = value_hash(drows, dcols)
            if sh != dh:
                problems.append("value-hash mismatch")
        if problems:
            n_fail += 1
            print(f"FAIL  {key}: {'; '.join(problems)}  ({elapsed:.1f}s)")
            if "value-hash mismatch" in "; ".join(problems) or len(srows) != len(drows):
                od = sorted(range(len(scols)), key=lambda i: scols[i])
                s_set = sorted("|".join(_norm_cell(r[i]) for i in od) for r in [tuple(x) for x in srows])
                oo = sorted(range(len(dcols)), key=lambda i: dcols[i])
                d_set = sorted("|".join(_norm_cell(r[i]) for i in oo) for r in drows)
                only_s = [x for x in s_set if x not in set(d_set)][:3]
                only_d = [x for x in d_set if x not in set(s_set)][:3]
                for x in only_s:
                    print(f"   spark-only : {x[:200]}")
                for x in only_d:
                    print(f"   duckdb-only: {x[:200]}")
        else:
            n_pass += 1
            print(f"PASS  {key}: {len(srows)} rows  ({elapsed:.1f}s)")

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
