"""Per-query wall-time profiler: warms the session with one ``agg_basic``
run, then runs each key ``--repeat`` times through the noop sink, each
run's Spark jobs tagged with the description ``key#i``.

Usage:
    python tools/stage_profile.py [--sf DIR] [--repeat N] key [key ...]

Prints, per run, the seconds spent building the DataFrame and the total
seconds including the noop write.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args()

    from hh_rumors_presto_spark.session import get_spark
    import __spark_entry__ as ent

    spark = get_spark("stage_profile")
    qs = ent.queries()

    # warmup the JVM/scan/Arrow paths once (bench protocol)
    qs["agg_basic"](spark, args.sf).write.format("noop").mode("overwrite").save()

    for k in args.keys:
        for i in range(args.repeat):
            spark.sparkContext.setJobDescription(f"{k}#{i}")
            t0 = time.time()
            df = qs[k](spark, args.sf)
            t_build = time.time() - t0
            df.write.format("noop").mode("overwrite").save()
            t_total = time.time() - t0
            print(f"{k} run{i}: build={t_build:.3f}s total={t_total:.3f}s")
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
