"""Per-layer tracing for the traced benchmark run.

Spans come from the benchmark's own code around calls into the program's
public entry points (``get_spark``, ``__spark_entry__.queries``,
``io.load_table`` / ``io.load_events``, ``queries()[key]`` and the action).
Engine numbers come from Spark's own stores, read after each query:

- the app status store (jobs by job group, then per-stage run / CPU / GC
  time, bytes and task counts),
- the SQL status store (file-scan bytes and the Python-worker metrics of
  every SQL execution the query started),
- a ``StreamingQueryListener`` (micro-batch progress: state rows, state
  store instances, commit and WAL times).

Every query runs under its own job groups (``<trace id>/build`` and
``<trace id>/action``); the micro-batches of a streaming query run under
their own run id, which the progress events name.
"""

from __future__ import annotations

import json
import re
import statistics
import sys
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

# SQL metrics summed over every SQL execution a query started. File-scan
# bytes come from here because the stage-level ``inputBytes`` of the
# vectorized parquet reader stays near zero in this Spark build.
_SQL_METRICS = {
    "size of files read": "spark.input_bytes",
    "time to run Python workers": "pyworker.run_s",
    "time to start Python workers": "pyworker.start_s",
    "data sent to Python workers": "pyworker.bytes_sent",
}
_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_TOTAL_RE = re.compile(r"^\s*(?:total[^\n]*\n)?\s*([0-9.]+)\s*([A-Za-z]+)")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric (``'9.4 s (257 ms, ...)'`` or
    ``'total (min, med, max ...)\\n470.6 KiB (...)'``) in seconds / bytes."""
    m = _TOTAL_RE.match(text)
    if not m or m.group(2) not in _UNIT:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1)) * _UNIT[m.group(2)]


class _ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress event (as parsed JSON) in memory."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class _IoTimer:
    """Times the outermost ``io.load_table`` / ``io.load_events`` call.

    The wrappers replace the functions in the ``io`` module and in every
    loaded module that imported them by name; :meth:`uninstall` restores
    the originals."""

    NAMES = ("load_table", "load_events")

    def __init__(self) -> None:
        self.seconds = 0.0
        self.intervals: list[tuple[float, float]] = []
        self._depth = 0
        self._patched: list[tuple[object, str, object]] = []

    def _wrap(self, fn):
        def timed(*args, **kwargs):
            if self._depth:
                return fn(*args, **kwargs)
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                self.seconds += t1 - t0
                self.intervals.append((t0, t1))
                self._depth -= 1

        return timed

    def install(self) -> None:
        from hh_rumors_presto_spark import io

        originals = {n: getattr(io, n) for n in self.NAMES}
        wrapped = {n: self._wrap(fn) for n, fn in originals.items()}
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(
                "hh_rumors_presto_spark"
            ):
                continue
            for n, fn in originals.items():
                if getattr(mod, n, None) is fn:
                    setattr(mod, n, wrapped[n])
                    self._patched.append((mod, n, fn))

    def uninstall(self) -> None:
        for mod, n, fn in self._patched:
            setattr(mod, n, fn)
        self._patched.clear()


class Tracer:
    """Collects spans and per-query engine numbers for one traced run."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.listener = _ProgressListener()
        self.io = _IoTimer()
        self.spans: list[dict] = []
        self.queries: list[dict] = []
        self._stage_defaults = (
            getattr(self.store, "stageData$default$3")(),
            getattr(self.store, "stageData$default$5")(),
        )

    def span(self, trace_id: str, name: str, start: float, end: float,
             parent: str | None = None) -> None:
        self.spans.append(
            {"trace": trace_id, "name": name, "start": start, "end": end,
             "parent": parent}
        )

    def __enter__(self) -> "Tracer":
        self.spark.streams.addListener(self.listener)
        self.io.install()
        return self

    def __exit__(self, *exc) -> None:
        self.io.uninstall()
        self.spark.streams.removeListener(self.listener)

    def _flush(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    @contextmanager
    def job_group(self, group: str):
        self.sc.setJobGroup(group, group, False)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def start(self, trace_id: str) -> dict:
        """Snapshot the stores' positions before query ``trace_id`` runs."""
        return {
            "trace": trace_id,
            "last_exec": self._last_execution_id(),
            "n_events": len(self.listener.events),
            "n_io": len(self.io.intervals),
            "io_s": self.io.seconds,
            "wall0": time.time(),
        }

    def finish(self, snap: dict, t0: float, t1: float, t2: float) -> None:
        """Record the spans and engine numbers of a query that built in
        [t0, t1] and ran its action in [t1, t2] (``perf_counter`` times)."""
        trace_id = snap["trace"]
        wall2 = snap["wall0"] + (t2 - t0)
        io_s = self.io.seconds - snap["io_s"]
        self.span(trace_id, "queries.build", t0, t1)
        for a, b in self.io.intervals[snap["n_io"]:]:
            self.span(trace_id, "io.load_table", a, b, parent="queries.build")
        self.span(trace_id, "spark.action", t1, t2)
        self._flush()
        rec = {
            "trace": trace_id,
            "build_s": t1 - t0,
            "action_s": t2 - t1,
            "io.load_table_s": io_s,
            "queries.build_s": t1 - t0 - io_s,
            "spark.action_s": t2 - t1,
        }
        events = self.listener.events[snap["n_events"]:]
        rec.update(self._engine(trace_id, events, snap["wall0"], wall2))
        rec.update(self._sql_metrics(snap["last_exec"]))
        rec.update(self._streaming(events))
        self.queries.append(rec)

    def _job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def _engine(self, trace_id: str, events: list[dict], w0: float,
                w2: float) -> dict:
        build_jobs = self._job_ids(f"{trace_id}/build")
        jobs = set(build_jobs) | set(self._job_ids(f"{trace_id}/action"))
        for run_id in {e["runId"] for e in events}:
            jobs |= set(self._job_ids(run_id))
        stage_ids: set[int] = set()
        for j in jobs:
            seq = self.store.job(j).stageIds()
            stage_ids |= {seq.apply(i) for i in range(seq.size())}
        out = dict.fromkeys(
            ("spark.run_s", "spark.cpu_s", "spark.gc_s",
             "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
             "spark.spill_bytes"), 0.0)
        stages = tasks = 0
        spans: list[tuple[float, float]] = []
        slowest = None
        d3, d5 = self._stage_defaults
        for sid in sorted(stage_ids):
            attempts = self.store.stageData(sid, False, d3, False, d5)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                done = st.numCompleteTasks() + st.numFailedTasks()
                if done == 0:  # skipped: its shuffle output was reused
                    continue
                stages += 1
                tasks += done
                run_s = st.executorRunTime() / 1e3
                out["spark.run_s"] += run_s
                out["spark.cpu_s"] += st.executorCpuTime() / 1e9
                out["spark.gc_s"] += st.jvmGcTime() / 1e3
                out["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spark.spill_bytes"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                )
                sub, comp = st.submissionTime(), st.completionTime()
                if sub.isDefined() and comp.isDefined():
                    spans.append(
                        (sub.get().getTime() / 1e3, comp.get().getTime() / 1e3)
                    )
                if slowest is None or run_s > slowest[0]:
                    slowest = (run_s, sid, st.attemptId())
        covered = 0.0
        end = w0
        for a, b in sorted(spans):
            a, b = max(a, end), min(b, w2)
            if b > a:
                covered += b - a
                end = b
        out.update(
            {
                "queries.build_jobs": len(build_jobs),
                "spark.jobs": len(jobs),
                "spark.stages": stages,
                "spark.tasks": tasks,
                "spark.outside_stage_s": max(0.0, (w2 - w0) - covered),
                "spark.task_skew": self._skew(slowest) if slowest else 1.0,
            }
        )
        return out

    def _skew(self, slowest: tuple[float, int, int]) -> float:
        """max / median task run time of the slowest stage."""
        _, sid, attempt = slowest
        quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        dist = self.store.taskSummary(sid, attempt, quantiles)
        if not dist.isDefined():
            return 1.0
        q = dist.get().executorRunTime()
        med, top = q.apply(0), q.apply(1)
        return top / med if med > 0 else 1.0

    def _last_execution_id(self) -> int:
        total = self.sql_store.executionsCount()
        if total == 0:
            return -1
        return self.sql_store.executionsList(total - 1, 1).apply(0).executionId()

    def _new_executions(self, after_id: int) -> list[int]:
        """Ids of the SQL executions newer than ``after_id``."""
        ids: list[int] = []
        end = self.sql_store.executionsCount()
        while end > 0:
            start = max(0, end - 16)
            page = self.sql_store.executionsList(start, end - start)
            page_ids = [page.apply(i).executionId() for i in range(page.size())]
            ids += [e for e in page_ids if e > after_id]
            if not page_ids or min(page_ids) <= after_id:
                break
            end = start
        return ids

    def _sql_metrics(self, after_id: int) -> dict:
        out = dict.fromkeys(_SQL_METRICS.values(), 0.0)
        for eid in self._new_executions(after_id):
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                metrics = nodes.apply(k).metrics()
                for m in range(metrics.size()):
                    pm = metrics.apply(m)
                    key = _SQL_METRICS.get(pm.name())
                    if key is None:
                        continue
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        out[key] += parse_sql_metric(v.get())
        return out

    @staticmethod
    def _streaming(events: list[dict]) -> dict:
        out = {
            "streaming.batches": len(events),
            "streaming.state_rows": 0,
            "streaming.state_partitions": 0,
            "streaming.state_commit_s": 0.0,
            "streaming.wal_commit_s": 0.0,
            "streaming.add_batch_s": 0.0,
        }
        instances: dict[str, int] = {}
        for e in events:
            d = e.get("durationMs", {})
            out["streaming.wal_commit_s"] += (
                d.get("walCommit", 0) + d.get("commitOffsets", 0)
            ) / 1e3
            out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            for op in e.get("stateOperators", []):
                out["streaming.state_rows"] += op.get("numRowsUpdated", 0)
                out["streaming.state_commit_s"] += op.get("commitTimeMs", 0) / 1e3
                instances[e["runId"]] = max(
                    instances.get(e["runId"], 0),
                    op.get("numStateStoreInstances", 0),
                )
        out["streaming.state_partitions"] = sum(instances.values())
        return out


def round_layers(queries: list[dict]) -> dict:
    """Sum each numeric per-query field over one round's queries."""
    out: dict[str, float] = {}
    for q in queries:
        for k, v in q.items():
            if isinstance(v, (int, float)) and "." in k:
                out[k] = out.get(k, 0) + v
    return out


def median_layers(rounds: list[dict]) -> dict:
    keys = sorted({k for r in rounds for k in r})
    return {k: statistics.median(r.get(k, 0) for r in rounds) for k in keys}
