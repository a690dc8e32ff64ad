"""Capture .explain("formatted") for headline (or named) queries into
plans/<tag>/<query>_<suffix>.txt — the optimization round's plan evidence
(guide §1: measure first; §7.2: read the plan).

Usage:
    python tools/capture_plans.py --tag r11 --suffix before [key ...]
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="r11")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    from hh_rumors_presto_spark.session import get_spark
    import __spark_entry__ as ent
    import bench

    spark = get_spark("capture_plans")
    qs = ent.queries()
    keys = args.keys or bench.HEADLINE
    outdir = os.path.join(ROOT, "plans", args.tag)
    os.makedirs(outdir, exist_ok=True)
    for k in keys:
        df = qs[k](spark, args.sf)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{k}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt.splitlines())} lines)")


if __name__ == "__main__":
    main()
