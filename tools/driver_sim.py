"""Driver-behavior simulator: run registry keys the way the spark-graft
driver does — sequentially, in serving order, in ONE SparkSession — and
check DOUBLE-RUN IDEMPOTENCY (the driver may retry a query; temp-path
reuse, conf leaks, cached-table collisions, or nondeterministic plans
all surface as a second-run hash mismatch).

This check found its purpose in round 4: the round-3 `stream_stateful`
red row was an environment-dependent divergence exactly of this class
(update-mode sink contents varying with micro-batching), and the whole
330-key registry was swept clean with it. Run it over any window before
staging the window for a driver round.

A second mode, --compare-partitions, re-runs each key under two
different spark.sql.shuffle.partitions settings (fresh sessions) and
diffs the value hashes — the executable form of the repo's
"bit-identical under any partitioning" claims (DECIMAL / fixed-point
reduction discipline). Round-4 sweep: 22 order-sensitive keys identical
at 3 vs 64 partitions.

A third mode, --env-parity, is the round-5 answer to two consecutive
rounds of local-green/driver-red rows: it re-runs each key under the
session variations the external driver plausibly differs in — a fresh
DEFAULT-conf session (200 shuffle partitions, default AQE), a forced
multi-file/out-of-order micro-batch streaming source (HH_STREAM_SPLIT),
a non-UTC session timezone, sessions at SPARK_GRAFT_CPUS=1 and =8
(local[1] and local[8]; the pair-block count and the streaming state
partitions follow the core count), one shuffle partition, AQE off, and
200 shuffle partitions with AQE off (so none are coalesced) — and diffs
every variant's value hash against the canonical session's. Library
versions are printed alongside. A key is staging-ready only when
canonical == defaults == splitstream == cores1 == cores8 == shuffle1 ==
aqe_off == shuffle_many; the tz variant is reported separately (informational: a
tz-divergent key is fragile only if the driver ever runs non-UTC).

Usage:
    python tools/driver_sim.py                 # first 50 in serving order
    python tools/driver_sim.py --all           # whole registry
    python tools/driver_sim.py key1 key2 ...   # specific keys
    python tools/driver_sim.py --sf /root/testdata/sf0.001
    python tools/driver_sim.py --compare-partitions 3 64 key1 key2 ...
    python tools/driver_sim.py --env-parity [key1 ...]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def value_hash(df) -> str:
    cols = sorted(df.columns)
    rows = sorted("|".join(repr(r[c]) for c in cols) for r in df.collect())
    m = hashlib.sha256()
    for r in rows:
        m.update(r.encode())
        m.update(b"\n")
    return m.hexdigest()


def _session(
    partitions: int | None,
    tz: str | None = "UTC",
    cpus: int = 32,
    aqe: bool = True,
):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master(f"local[{cpus}]").config(
        "spark.ui.enabled", "false"
    )
    if not aqe:
        b = b.config("spark.sql.adaptive.enabled", "false")
    if partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(partitions))
    if tz is not None:
        b = b.config("spark.sql.session.timeZone", tz)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# The driver-plausible session variations; name -> (conf thunk, env vars).
# "defaults" leaves shuffle.partitions and AQE at Spark's own defaults
# (what a bare getOrCreate() in the driver gives); "splitstream" forces
# the streaming file source through 5 interleaved files at one file per
# micro-batch; "tz" runs the whole surface in a non-UTC session zone;
# "cores1"/"cores8" run on 1 and 8 local cores with SPARK_GRAFT_CPUS set
# to match, which moves every fan-out sized from the core count;
# "shuffle1" plans every batch shuffle into one partition, "aqe_off"
# keeps the planned partition counts and join strategies at run time, and
# "shuffle_many" runs every batch shuffle on 200 uncoalesced partitions.
_ENV_VARIANTS = [
    ("canonical", {"partitions": 32, "tz": "UTC"}, {}),
    ("defaults", {"partitions": None, "tz": "UTC"}, {}),
    ("splitstream", {"partitions": 32, "tz": "UTC"}, {"HH_STREAM_SPLIT": "5"}),
    ("tz", {"partitions": 32, "tz": "America/New_York"}, {}),
    ("cores1", {"partitions": 32, "tz": "UTC", "cpus": 1}, {"SPARK_GRAFT_CPUS": "1"}),
    ("cores8", {"partitions": 32, "tz": "UTC", "cpus": 8}, {"SPARK_GRAFT_CPUS": "8"}),
    ("shuffle1", {"partitions": 1, "tz": "UTC"}, {}),
    ("aqe_off", {"partitions": 32, "tz": "UTC", "aqe": False}, {}),
    ("shuffle_many", {"partitions": 200, "tz": "UTC", "aqe": False}, {}),
]
_HARD_VARIANTS = (
    "defaults", "splitstream", "cores1", "cores8", "shuffle1", "aqe_off",
    "shuffle_many",
)


def _env_parity(ent, sf: str, keys_arg: list[str], window: int) -> int:
    import importlib.metadata as md
    import platform

    libs = {
        n: md.version(n) for n in ("pyspark", "pandas", "numpy", "pyarrow", "duckdb")
    }
    print(f"python {platform.python_version()}  " + "  ".join(f"{k} {v}" for k, v in libs.items()))

    hashes: dict[str, dict[str, str]] = {}
    keys: list[str] = []
    for name, conf, env in _ENV_VARIANTS:
        saved = {k: os.environ.get(k) for k in env}
        os.environ.update(env)
        spark = _session(
            conf["partitions"], conf["tz"], conf.get("cpus", 32), conf.get("aqe", True)
        )
        try:
            q = ent.queries()
            keys = keys_arg or list(q)[:window]
            row = {}
            for k in keys:
                try:
                    row[k] = value_hash(q[k](spark, sf))
                except Exception as ex:  # noqa: BLE001 — record, keep going
                    row[k] = f"ERROR: {str(ex)[:90]}"
            hashes[name] = row
            print(f"[{name}] {len(row)} keys hashed", flush=True)
        finally:
            spark.stop()
            for k, v in saved.items():
                if v is None:
                    os.environ.pop(k, None)
                else:
                    os.environ[k] = v

    base = hashes["canonical"]
    hard_bad: list[str] = []
    for name in _HARD_VARIANTS:
        diff = [k for k in keys if hashes[name][k] != base[k]]
        hard_bad.extend(d for d in diff if d not in hard_bad)
        print(f"{name} vs canonical: " + (str(diff) if diff else "identical"))
    tz_diff = [k for k in keys if hashes["tz"][k] != base[k]]
    print(
        "tz(America/New_York) vs canonical (informational): "
        + (str(tz_diff) if tz_diff else "identical")
    )
    errs = [k for k in keys if base[k].startswith("ERROR")]
    if errs:
        print(f"errors under canonical: {errs}")
    print(
        f"\nenv-parity: {len(keys) - len(hard_bad)}/{len(keys)} stable "
        f"across {'+'.join(_HARD_VARIANTS)}; {len(tz_diff)} tz-sensitive"
    )
    return 1 if hard_bad or errs else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--window", type=int, default=50)
    ap.add_argument(
        "--compare-partitions", nargs=2, type=int, metavar=("A", "B")
    )
    ap.add_argument("--env-parity", action="store_true")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as ent

    if args.env_parity:
        keys = list(ent.queries()) if args.all else args.keys
        return _env_parity(ent, args.sf, keys, args.window)

    if args.compare_partitions:
        pa, pb = args.compare_partitions
        results = []
        for parts in (pa, pb):
            spark = _session(parts)
            q = ent.queries()
            keys = args.keys or list(q)[: args.window]
            results.append(
                {k: value_hash(q[k](spark, args.sf)) for k in keys}
            )
            spark.stop()
        diff = [k for k in results[0] if results[0][k] != results[1][k]]
        print(
            f"partition-sensitive keys ({pa} vs {pb}): "
            + (str(diff) if diff else f"none ({len(results[0])} identical)")
        )
        return 1 if diff else 0

    spark = _session(32)
    q = ent.queries()
    if args.keys:
        keys = args.keys
    elif args.all:
        keys = list(q)
    else:
        keys = list(q)[: args.window]

    bad: list[tuple[str, str]] = []
    for k in keys:
        t0 = time.time()
        try:
            h1 = value_hash(q[k](spark, args.sf))
            h2 = value_hash(q[k](spark, args.sf))
            if h1 != h2:
                bad.append((k, "second-run hash mismatch"))
                print(f"FAIL  {k}: second-run hash mismatch", flush=True)
            else:
                print(f"PASS  {k}  ({time.time() - t0:.1f}s)", flush=True)
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            bad.append((k, str(ex)[:120]))
            print(f"FAIL  {k}: {str(ex)[:120]}", flush=True)

    print(f"\n{len(keys) - len(bad)} idempotent, {len(bad)} failures")
    for k, why in bad:
        print(f"  {k}: {why}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
