"""Driver-evidence ledger: which registry keys still lack a driver
CORRECTNESS row, and what the next evaluation window will contain.

The driver evaluates the first 50 registry keys per round;
__spark_entry__._ordered serves keys whose latest committed
CORRECTNESS_r*.json row is not green first, then the rest in
registration order. This tool unions every
ledger file, diffs against the live registry, and prints:

- per-round key counts and failures;
- keys whose rows are not green under the CURRENT contract (red rows,
  or stale rows-only rows on keys that have since gained an oracle);
- the projected next window: the first N non-green keys in serving
  order — which is exactly what the driver will evaluate next round
  once the current window's rows land.

Usage: python tools/rotation_check.py [--window 50]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--window", type=int, default=50)
    args = ap.parse_args()

    import __spark_entry__ as ent
    from hh_rumors_presto_spark.registry import ORACLES

    registry = list(ent.queries())
    evaluated: dict[str, str] = {}  # key -> latest status
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rows = json.load(open(path))
        counts = {"green": 0, "rows_only": 0, "red": 0}
        fails = []
        for key, row in rows.items():
            if row.get("hash_match") is True:
                status = "green"
            elif (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            ):
                # rows-only row; green only while the key STILL lacks an
                # oracle (a graduation makes it stale -> re-prove)
                status = "rows_only" if key not in ORACLES else "red"
            else:
                status = "red"
            if status == "red":
                fails.append(key)
            counts[status] += 1
            evaluated[key] = status
        print(
            f"{path.rsplit('/', 1)[-1]}: {len(rows)} keys, "
            f"{counts['green']} green, {counts['rows_only']} rows-only"
            + (f", RED(current contract): {fails}" if fails else "")
        )

    never = [k for k in registry if k not in evaluated]
    not_green = [
        k for k in registry if evaluated.get(k) == "red"
    ]
    print(f"\nregistry: {len(registry)} keys")
    print(f"evaluated at least once: {len(evaluated)}")
    if not_green:
        print(
            f"latest row NOT green under current contract "
            f"({len(not_green)}): {not_green}"
        )
    print(f"never evaluated: {len(never)}")
    # serving order already puts red-retry first, then never-evaluated —
    # so the projected next window is just the first N keys that are not
    # currently green, in serving order
    pending = [
        k
        for k in registry
        if evaluated.get(k) in (None, "red")
    ]
    print(
        f"\nprojected next window (first {args.window} non-green keys "
        "in serving order):"
    )
    for k in pending[: args.window]:
        print(f"  {k}")
    if len(pending) > args.window:
        print(f"  ... and {len(pending) - args.window} more")
    return 0


if __name__ == "__main__":
    sys.exit(main())
