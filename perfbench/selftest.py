"""Self-test of the benchmark harness: pins its output schema.

    python3 perfbench/selftest.py

Runs the ``interactive`` workload for one second, untraced and traced (the
result line comes from the same code for every workload), and checks that
the last stdout line carries exactly the keys ``correct``, ``attempted``,
``failed`` and ``metrics``; that the metric names and units are exactly those
``BENCHMARK.json`` lists (``end_to_end`` untraced, ``per_layer`` traced);
that every value is a finite number and every result matched its oracle.
It also checks that bad arguments and a checkout without the program fail
fast, with a non-zero exit and no result line, and that ``BENCHMARK.json``
and ``workloads.json`` list the same workloads. Exit code 0 iff every check
passes.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def _last_json(stdout: str) -> dict | None:
    lines = stdout.strip().splitlines()
    if not lines:
        return None
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        return None


def check_result(result: dict | None, expected: dict[str, str]) -> list[str]:
    """Problems with one result line against ``{metric: unit}``."""
    if result is None:
        return ["no JSON result line"]
    errs = []
    if set(result) != RESULT_KEYS:
        errs.append(f"result keys {sorted(result)}")
    if result.get("correct") is not True:
        errs.append("correct is not true")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 1:
        errs.append(f"attempted={result.get('attempted')!r}")
    if result.get("failed") != 0:
        errs.append(f"failed={result.get('failed')!r}")
    metrics = result.get("metrics", {})
    if set(metrics) != set(expected):
        errs.append(
            f"metric names: missing {sorted(set(expected) - set(metrics))}, "
            f"extra {sorted(set(metrics) - set(expected))}"
        )
    for name, m in metrics.items():
        if set(m) != {"value", "unit"}:
            errs.append(f"{name}: keys {sorted(m)}")
            continue
        if m["unit"] != expected.get(name):
            errs.append(f"{name}: unit {m['unit']!r} != {expected.get(name)!r}")
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            errs.append(f"{name}: value {v!r}")
    return errs


def _run(args: list[str], cwd: str, timeout: int = 300) -> subprocess.CompletedProcess:
    return subprocess.run(
        args, cwd=cwd, capture_output=True, text=True, timeout=timeout
    )


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    failures: list[str] = []

    names = [w["name"] for w in bench["workloads"]]
    if names != list(spec["workloads"]):
        failures.append(f"BENCHMARK.json workloads {names} != workloads.json")
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}

    for trace, expected in (("0", e2e), ("1", layers)):
        proc = _run(
            RUN + ["--workload", "interactive", "--seed", "7", "--seconds", "1",
                   "--trace", trace],
            ROOT,
        )
        errs = [f"exit code {proc.returncode}"] if proc.returncode else []
        errs += check_result(_last_json(proc.stdout), expected)
        label = f"interactive --trace {trace}"
        print(f"{'FAIL' if errs else 'ok  '}  {label}", *errs, sep="\n      ")
        failures += [f"{label}: {e}" for e in errs]

    bad_args = [
        (["--workload", "nope", "--seed", "1", "--seconds", "1"], {}),
        (["--workload", names[0], "--seed", "x1", "--seconds", "1"], {}),
        (["--workload", names[0], "--seed", "1", "--seconds", "0"], {}),
        (["--workload", names[0], "--seed", "1", "--seconds", "1", "--trace", "2"], {}),
        (["--workload", names[0], "--seed", "1", "--seconds", "1"],
         {"SPARK_GRAFT_CPUS": "four"}),
    ]
    for args, env in bad_args:
        proc = subprocess.run(
            RUN + args, cwd=ROOT, capture_output=True, text=True, timeout=60,
            env={**os.environ, **env},
        )
        ok = proc.returncode != 0 and _last_json(proc.stdout) is None and proc.stderr
        print(f"{'ok  ' if ok else 'FAIL'}  rejects {args} {env}")
        if not ok:
            failures.append(f"not rejected: {args} {env}")

    # a checkout holding only the benchmark must fail without a result
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, os.path.basename(HERE)),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = _run(
            [sys.executable, os.path.join(bare, "perfbench", "run.py"),
             "--workload", names[0], "--seed", "1", "--seconds", "1"],
            bare, timeout=180,
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    ok = proc.returncode != 0 and _last_json(proc.stdout) is None
    print(f"{'ok  ' if ok else 'FAIL'}  fails in a checkout without the program")
    if not ok:
        failures.append("ran without the program")

    print(f"\n{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
