"""Closed-loop benchmark of the query engine, one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One process generates the workload's input
tables from ``--seed`` under ``.perfbench/``, starts the engine with
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use),
loads the query registry, warms up with one untimed pass over the
workload's keys, then plays one closed-loop client for at least
``--seconds`` seconds and at least four rounds: rounds over the workload's
keys, each round in a seeded order, the next query sent only when the
previous one has returned. A round that has started always finishes. Round 0
is still markedly slower than later rounds (the JIT is still warming), so its
results are checked but its times are left out of every metric. After the
timed window every collected result is checked against the key's DuckDB
oracle over the same input files (``tools/verify_local.py``'s normalisation
and hash).

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (``tracing.py``), in which untraced and traced rounds
alternate so the tracing overhead is measured in the same process.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The full run record (input sizes, load witness, per-query latencies and, when
traced, the spans and per-query layer numbers) goes to
``.perfbench/runs/<workload>-s<seed>-t<trace>.json``. Workloads, keys and
metric definitions live in ``workloads.json``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE_DIR = os.path.join(ROOT, ".perfbench")
MAX_SECONDS = 600
PROGRAM_FILES = (
    "__spark_entry__.py",
    "hh_rumors_presto_spark/__init__.py",
    "tools/verify_local.py",
)

E2E_UNITS = {
    "setup_s": "s",
    "round_s": "s",
    "latency_geomean_s": "s",
    "latency_tail_s": "s",
    "py_peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "io.load_table_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "spark.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.outside_stage_s": "s",
    "spark.run_s": "s",
    "spark.cpu_s": "s",
    "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.task_skew": "ratio",
    "pyworker.run_s": "s",
    "pyworker.bytes_sent": "B",
    "pyworker.peak_rss_mb": "MB",
    "spark.jvm_peak_rss_mb": "MB",
    "streaming.batches": "count",
    "streaming.state_rows": "count",
    "streaming.state_partitions": "count",
    "streaming.state_commit_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.add_batch_s": "s",
    "trace.round_s": "s",
    "trace.untraced_round_s": "s",
    "trace.overhead": "ratio",
}


# Layer numbers kept in the run record only: at these input sizes and after
# the warm-up they read 0 on most runs.
RECORD_ONLY_LAYERS = ("spark.gc_s", "spark.spill_bytes", "pyworker.start_s")


class UsageError(Exception):
    """A bad argument, environment value or checkout; raised before Spark starts."""


def load_spec() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def _int_arg(flag: str, raw: str, lo: int, hi: int) -> int:
    if not raw.isdigit() or not lo <= int(raw) <= hi:
        raise UsageError(f"{flag} must be an integer in [{lo}, {hi}], got {raw!r}")
    return int(raw)


def parse_args(argv: list[str], spec: dict) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, help="|".join(spec["workloads"]))
    p.add_argument("--seed", required=True, help="non-negative integer")
    p.add_argument("--seconds", required=True, help="length of the timed window")
    p.add_argument("--trace", default="0", help="0: end-to-end, 1: per-layer")
    args = p.parse_args(argv)
    if args.workload not in spec["workloads"]:
        raise UsageError(
            f"unknown workload {args.workload!r}; expected one of "
            f"{sorted(spec['workloads'])}"
        )
    args.seed = _int_arg("--seed", args.seed, 0, 2**32 - 1)
    args.seconds = _int_arg("--seconds", args.seconds, 1, MAX_SECONDS)
    if args.trace not in ("0", "1"):
        raise UsageError(f"--trace must be 0 or 1, got {args.trace!r}")
    args.trace = args.trace == "1"
    return args


def engine_cpus() -> int:
    """``SPARK_GRAFT_CPUS`` if set (validated), else this process's CPU count."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        n = len(os.sched_getaffinity(0))
        os.environ["SPARK_GRAFT_CPUS"] = str(n)
        return n
    if not raw.isdigit() or int(raw) < 1:
        raise UsageError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return int(raw)


def check_program() -> None:
    missing = [f for f in PROGRAM_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        raise UsageError(f"no program to benchmark under {ROOT}: missing {missing}")


class Workdir:
    """Per-run scratch space under ``.perfbench/work``; removed on exit.

    Inputs, Spark local dirs, the JVM's and Python's temp dirs and the
    working directory all point here, so a run writes only inside the
    checkout."""

    def __init__(self, name: str):
        self.path = os.path.join(STATE_DIR, "work", name)
        self.tmp = os.path.join(self.path, "tmp")
        self.data = os.path.join(self.path, "data")

    def __enter__(self) -> "Workdir":
        import tempfile

        shutil.rmtree(self.path, ignore_errors=True)
        for d in (self.tmp, self.data, os.path.join(self.path, "spark-local")):
            os.makedirs(d)
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.path, "spark-local")
        # -XX:-UsePerfData: each JVM (Spark's launcher and the engine) would
        # otherwise keep a file under /tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.showConsoleProgress=false --driver-java-options "
            f"'-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData' pyspark-shell"
        )
        # Python workers import the package too; they see only the environment
        old = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
        os.chdir(self.path)
        return self

    def __exit__(self, *exc) -> None:
        os.chdir(ROOT)
        shutil.rmtree(self.path, ignore_errors=True)


def make_input(spec: dict, seed: int, out_dir: str) -> dict:
    import gen

    tables = gen.build_tables(seed, spec["sf"])
    if spec["replicas"] > 1:
        tables = gen.replicate(tables, spec["replicas"], seed)
    return gen.write_tables(tables, out_dir)


def fingerprint(rows: list, columns: list[str]) -> tuple:
    from tools.verify_local import value_hash

    return (len(rows), sorted(columns), value_hash([tuple(r) for r in rows], columns))


def oracle_fingerprints(keys, oracles: dict, data_dir: str) -> dict:
    """Key -> fingerprint of the DuckDB oracle over ``data_dir``, or the
    reason there is none."""
    import duckdb
    from tools.verify_local import TABLES, arrow_rows, value_hash

    out = {}
    with duckdb.connect() as con:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for key in keys:
            if key not in oracles:
                out[key] = "no oracle"
                continue
            try:
                rel = con.execute(oracles[key])
                cols = [d[0] for d in rel.description]
                rows = arrow_rows(rel)
            except duckdb.Error as e:
                out[key] = f"oracle raised: {e}"
                continue
            out[key] = (len(rows), sorted(cols), value_hash(rows, cols))
    return out


def stop_engine() -> None:
    """Stop Spark, then the JVM and its Python workers, and wait for them."""
    import signal
    import subprocess

    from pyspark import SparkContext

    import procmon

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    below = [] if proc is None else [proc.pid, *procmon.descendants(proc.pid)]
    active = SparkContext._active_spark_context
    if active is not None:
        active.stop()
    if gateway is not None:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    for pid in procmon.wait_gone(below, 30):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    leftover = procmon.wait_gone(below, 10)
    if leftover:
        print(f"perfbench: processes still alive: {leftover}", file=sys.stderr)


class Run:
    """One benchmark invocation: set-up, timed window, oracle check."""

    def __init__(self, args: argparse.Namespace, spec: dict, work: Workdir,
                 cpus: int):
        self.args = args
        self.spec = spec
        self.wl = spec["workloads"][args.workload]
        self.keys = list(self.wl["keys"])
        self.work = work
        self.cpus = cpus
        self.record: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cpus": cpus,
            "keys": self.keys,
        }
        self.samples: list[dict] = []
        self.rounds: list[dict] = []
        self.failures: list[dict] = []
        self.results: dict[str, list[tuple]] = {k: [] for k in self.keys}
        self.tracer = None

    def prepare_inputs(self) -> float:
        t0 = time.perf_counter()
        self.data_dir = os.path.join(
            self.work.data, f"{self.args.workload}_s{self.args.seed}"
        )
        self.record["input"] = dict(self.wl["input"])
        self.record["input_sizes"] = make_input(
            self.wl["input"], self.args.seed, self.data_dir
        )
        return time.perf_counter() - t0

    def set_up(self) -> None:
        t0 = time.perf_counter()
        from hh_rumors_presto_spark.session import get_spark

        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        t2 = time.perf_counter()
        missing = [k for k in self.keys if k not in self.queries]
        if missing:
            raise RuntimeError(f"workload keys missing from the registry: {missing}")
        self.record["warmup"] = self._warm_up()
        t3 = time.perf_counter()
        self.setup_phases = {
            "session.start_s": t1 - t0,
            "registry.load_s": t2 - t1,
            "warmup_s": t3 - t2,
        }
        self.setup_spans = [
            {"trace": "setup", "name": name, "start": a, "end": b, "parent": None}
            for name, a, b in (("session.start", t0, t1), ("registry.load", t1, t2),
                               ("warmup", t2, t3))
        ]

    def _warm_up(self) -> dict:
        """Run every key once, so first-use costs (JIT, code generation,
        Python worker and state-store start) are paid before the timed
        window."""
        out = {}
        for key in self.keys:
            try:
                t0, _, t2 = self._query(key, None)[2]
            except Exception:
                self.failures.append(
                    {"phase": "warmup", "key": key, "error": traceback.format_exc()}
                )
                continue
            out[key] = t2 - t0
        return out

    def _query(self, key: str, group: str | None) -> tuple:
        """Build and collect one query; with ``group``, under job groups
        ``<group>/build`` and ``<group>/action``. Returns the rows, the
        column names and the three ``perf_counter`` times."""

        def in_group(phase: str):
            return self.tracer.job_group(f"{group}/{phase}") if group else nullcontext()

        fn = self.queries[key]
        t0 = time.perf_counter()
        with in_group("build"):
            df = fn(self.spark, self.data_dir)
        t1 = time.perf_counter()
        with in_group("action"):
            rows = df.collect()
        t2 = time.perf_counter()
        return rows, df.columns, (t0, t1, t2)

    def timed_window(self) -> None:
        import procmon

        rng = random.Random(self.args.seed)
        # round 0 and then at least three rounds for a median; traced runs
        # need two of each kind
        min_rounds = 5 if self.args.trace else 4
        with procmon.TreeSampler() as sampler:
            start = time.perf_counter()
            while (
                len(self.rounds) < min_rounds
                or time.perf_counter() - start < self.args.seconds
            ):
                self._round(len(self.rounds), rng)
        self.sampler = sampler
        self.record["window_s"] = time.perf_counter() - start
        self.record["peak_rss_mb"] = {
            "python": sampler.peak_python_mb,
            "jvm": sampler.peak_jvm_mb,
            "pyworkers": sampler.peak_pyworker_mb,
            "samples": sampler.samples,
        }

    def _round(self, index: int, rng: random.Random) -> None:
        order = self.keys[:]
        rng.shuffle(order)
        # Traced runs: round 0 settles the JIT and is left out of both sides;
        # then untraced, traced, traced, untraced, ... so a steady drift in
        # speed over the window cancels in the traced/untraced comparison.
        traced = self.args.trace and index % 4 in (2, 3)
        if traced and self.tracer is None:
            from tracing import Tracer

            self.tracer = Tracer(self.spark)
        n_traced = len(self.tracer.queries) if traced else 0
        check_s = 0.0
        complete = True
        r0 = time.perf_counter()
        with self.tracer if traced else nullcontext():
            for key in order:
                trace_id = f"{self.args.workload}-s{self.args.seed}-r{index}-{key}"
                snap = self.tracer.start(trace_id) if traced else None
                try:
                    rows, cols, times = self._query(key, trace_id if traced else None)
                except Exception:
                    complete = False
                    self.failures.append(
                        {"phase": "timed", "round": index, "key": key,
                         "error": traceback.format_exc()}
                    )
                    continue
                t0, t1, t2 = times
                if traced:
                    self.tracer.finish(snap, t0, t1, t2)
                c0 = time.perf_counter()
                self.results[key].append(fingerprint(rows, cols))
                check_s += time.perf_counter() - c0
                self.samples.append(
                    {"round": index, "key": key, "traced": traced,
                     "build_s": t1 - t0, "action_s": t2 - t1, "latency_s": t2 - t0}
                )
        self.rounds.append(
            {"round": index, "traced": traced, "complete": complete,
             "order": order, "wall_s": time.perf_counter() - r0 - check_s,
             "trace_queries": (n_traced, len(self.tracer.queries)) if traced else None}
        )

    def check(self) -> int:
        """Compare every collected result with its oracle; return mismatches."""
        t0 = time.perf_counter()
        expected = oracle_fingerprints(self.keys, self.oracles, self.data_dir)
        mismatched = 0
        report = {}
        for key in self.keys:
            want = expected[key]
            got = self.results[key]
            bad = len(got) if isinstance(want, str) else sum(fp != want for fp in got)
            mismatched += bad
            report[key] = {
                "checked": len(got),
                "mismatched": bad,
                "oracle": want if isinstance(want, str) else list(want[:2]),
                "rows": sorted({fp[0] for fp in got}),
            }
        self.record["oracle_check"] = report
        self.record["oracle_s"] = time.perf_counter() - t0
        return mismatched

    def metrics(self, setup_s: float) -> dict:
        if self.args.trace:
            values = self._layer_metrics()
            units = LAYER_UNITS
        else:
            timed = [r for r in self.rounds if r["complete"] and r["round"] > 0]
            samples = [s for s in self.samples if s["round"] > 0]
            slowest = [
                max(s["latency_s"] for s in samples if s["round"] == r["round"])
                for r in timed
            ]
            walls = [r["wall_s"] for r in timed]
            per_key = [
                statistics.median(s["latency_s"] for s in samples if s["key"] == k)
                for k in self.keys
                if any(s["key"] == k for s in samples)
            ]
            values = {
                "setup_s": setup_s,
                "round_s": statistics.median(walls) if walls else 0.0,
                "latency_geomean_s": (
                    statistics.geometric_mean(per_key) if per_key else 0.0
                ),
                "latency_tail_s": statistics.median(slowest) if slowest else 0.0,
                "py_peak_rss_mb": self.sampler.peak_python_mb,
            }
            units = E2E_UNITS
        return {k: {"value": values[k], "unit": u} for k, u in units.items()}

    def _layer_metrics(self) -> dict:
        from tracing import median_layers, round_layers

        traced = [r for r in self.rounds if r["traced"] and r["complete"]]
        plain = [
            r for r in self.rounds if not r["traced"] and r["complete"] and r["round"] > 0
        ]
        per_round = []
        for r in traced:
            lo, hi = r["trace_queries"]
            qs = self.tracer.queries[lo:hi]
            sums = round_layers(qs)
            sums["spark.task_skew"] = max(q["spark.task_skew"] for q in qs)
            per_round.append(sums)
        values = median_layers(per_round) if per_round else {}
        values.update(self.setup_phases)
        values["pyworker.peak_rss_mb"] = self.sampler.peak_pyworker_mb
        values["spark.jvm_peak_rss_mb"] = self.sampler.peak_jvm_mb
        traced_round = statistics.median(r["wall_s"] for r in traced) if traced else 0.0
        plain_round = statistics.median(r["wall_s"] for r in plain) if plain else 0.0
        values["trace.round_s"] = traced_round
        values["trace.untraced_round_s"] = plain_round
        values["trace.overhead"] = traced_round / plain_round if plain_round else 0.0
        self.record["key_agreement"] = self._key_agreement()
        self.record["record_only_layers"] = {
            k: values.get(k, 0.0) for k in RECORD_ONLY_LAYERS
        }
        return {k: values.get(k, 0.0) for k in LAYER_UNITS}

    def _key_agreement(self) -> dict:
        """Per key: median traced build + action over median untraced latency
        (round 0 excluded), against the tolerance in ``workloads.json``."""
        tol = self.spec["trace"]["key_agreement_tolerance"]
        out = {}
        for key in self.keys:
            mine = [s for s in self.samples if s["key"] == key and s["round"] > 0]
            t = [s["latency_s"] for s in mine if s["traced"]]
            u = [s["latency_s"] for s in mine if not s["traced"]]
            if t and u:
                ratio = statistics.median(t) / statistics.median(u)
                out[key] = {"ratio": ratio, "within_tolerance": abs(ratio - 1) <= tol}
        return out

    def execute(self) -> dict:
        import procmon

        gen_s = self.prepare_inputs()
        t0 = time.perf_counter()
        self.record["load_witness"] = procmon.load_witness(self.cpus)
        witness_s = time.perf_counter() - t0
        try:
            self.set_up()
            setup_s = time.perf_counter() - _T0 - gen_s - witness_s
            self.record["setup"] = dict(self.setup_phases, setup_s=setup_s,
                                        gen_s=gen_s, witness_s=witness_s)
            self.timed_window()
            self.record["load_witness"]["loadavg_after"] = _loadavg()
        finally:
            stop_engine()
        mismatched = self.check()
        raised = sum(f["phase"] == "timed" for f in self.failures)
        attempted = len(self.samples) + raised
        failed = raised + mismatched
        metrics = self.metrics(setup_s)
        self.record.update(
            samples=self.samples, rounds=self.rounds, failures=self.failures,
            attempted=attempted, failed=failed, metrics=metrics,
        )
        if self.tracer is not None:
            self.record["spans"] = self.setup_spans + self.tracer.spans
            self.record["trace_queries"] = self.tracer.queries
        return {
            "correct": failed == 0 and not self.failures,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]


def main(argv: list[str]) -> int:
    spec = load_spec()
    try:
        args = parse_args(argv, spec)
        cpus = engine_cpus()
        check_program()
    except UsageError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    name = f"{args.workload}-s{args.seed}-t{int(args.trace)}"
    with Workdir(f"{name}-{os.getpid()}") as work:
        run = Run(args, spec, work, cpus)
        result = run.execute()
    runs_dir = os.path.join(STATE_DIR, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    with open(os.path.join(runs_dir, f"{name}.json"), "w") as f:
        json.dump(run.record, f, indent=1, default=str)
    summary = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
    frac = result["failed"] / result["attempted"] if result["attempted"] else 1.0
    print(
        f"perfbench {name}: rounds={len(run.rounds)} queries={result['attempted']} "
        f"failed_frac={frac:.4f} {summary}",
        file=sys.stderr,
    )
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
