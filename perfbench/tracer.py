"""Benchmark-side tracing: spans, counters and Spark's own counters.

Everything here observes the engine from outside. The tracer times the
benchmark's calls into each module's public functions, wraps the
helpers the engine imports by name (``run_overlapped``, ``memo_get``),
and reads Spark's event log and streaming progress events. Spans stay
in memory and are written once, when the run ends. With tracing off the
benchmark uses ``NullTracer``, which records nothing.
"""

from __future__ import annotations

import contextlib
import glob
import importlib
import json
import os
import statistics
import threading
import time
from collections import Counter
from typing import Any, Callable, Iterator

#: Modules that import ``run_overlapped`` / ``memo_get`` by name. The
#: tracer rebinds the name in each of them, plus the defining module.
OVERLAP_USERS = (
    "kafka_flink_exactlyonce_example_spark.operators.overlap",
    "kafka_flink_exactlyonce_example_spark.operators.ingest",
    "kafka_flink_exactlyonce_example_spark.lifecycle",
)
MEMO_USERS = (
    "kafka_flink_exactlyonce_example_spark.operators.overlap",
    "kafka_flink_exactlyonce_example_spark.operators.dedup",
    "kafka_flink_exactlyonce_example_spark.operators.simsearch",
    "kafka_flink_exactlyonce_example_spark.operators.textstats",
    "kafka_flink_exactlyonce_example_spark.sources.catalog",
)
CATALOG_MODULE = "kafka_flink_exactlyonce_example_spark.sources.catalog"


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class NullTracer:
    """Tracing off: the same interface, no bookkeeping."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[None]:
        yield

    def count(self, name: str, n: float = 1) -> None:
        pass

    def sample(self, name: str, value: float) -> None:
        pass

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass


class Tracer(NullTracer):
    """Spans (name, start, end, parent) plus named counters."""

    enabled = True

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.epoch0 = time.time()
        self.spans: list[dict[str, Any]] = []
        self.counters: Counter[str] = Counter()
        self.samples: dict[str, list[float]] = {}
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[Any, str, Any]] = []

    # -- spans and counters -------------------------------------------------

    def _now(self) -> float:
        return time.perf_counter() - self.t0

    @contextlib.contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[None]:
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "parent": stack[-1] if stack else None,
                    "start": self._now(),
                    "end": None,
                    **attrs,
                }
            )
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid]["end"] = self._now()

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] += n

    def sample(self, name: str, value: float) -> None:
        with self._lock:
            self.samples.setdefault(name, []).append(value)

    # -- wrappers around helpers the engine imports by name -------------------

    def _rebind(self, module_names: tuple[str, ...], attr: str, wrapper: Any) -> None:
        for mod_name in module_names:
            mod = importlib.import_module(mod_name)
            if hasattr(mod, attr):
                self._restore.append((mod, attr, getattr(mod, attr)))
                setattr(mod, attr, wrapper)

    def install(self) -> None:
        overlap = importlib.import_module(OVERLAP_USERS[0])
        orig_run, orig_memo = overlap.run_overlapped, overlap.memo_get
        tracer = self

        def run_overlapped(*thunks: Callable[[], Any]) -> list[Any]:
            walls: list[float] = []

            def timed(thunk: Callable[[], Any]) -> Callable[[], Any]:
                def call() -> Any:
                    t = time.perf_counter()
                    try:
                        return thunk()
                    finally:
                        walls.append(time.perf_counter() - t)

                return call

            t = time.perf_counter()
            with tracer.span("overlap.wave", thunks=len(thunks)):
                out = orig_run(*(timed(th) for th in thunks))
            wave = time.perf_counter() - t
            tracer.count("overlap.waves")
            tracer.count("overlap.thunks", len(thunks))
            tracer.count("overlap.wave_s", wave)
            tracer.count("overlap.thunk_s", sum(walls))
            return out

        def make_memo(from_catalog: bool) -> Callable[..., Any]:
            def memo_get(cache: dict, key: Any, build: Callable[[], Any]) -> Any:
                present = key in cache
                t = time.perf_counter()
                entered: list[float] = []

                def timed_build() -> Any:
                    entered.append(time.perf_counter())
                    return build()

                out = orig_memo(cache, key, timed_build)
                if entered:
                    tracer.count("memo.misses")
                else:
                    tracer.count("memo.hits")
                if not present:  # went through the lock
                    tracer.count(
                        "memo.lock_wait_s",
                        (entered[0] if entered else time.perf_counter()) - t,
                    )
                if from_catalog:
                    tracer.count("catalog.table_calls")
                    tracer.count("catalog.table_hits", 0 if entered else 1)
                return out

            return memo_get

        self._rebind(OVERLAP_USERS, "run_overlapped", run_overlapped)
        self._rebind(
            tuple(m for m in MEMO_USERS if m != CATALOG_MODULE),
            "memo_get",
            make_memo(False),
        )
        self._rebind((CATALOG_MODULE,), "memo_get", make_memo(True))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()

    def dump(self, path: str, extra: dict[str, Any]) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "epoch0": self.epoch0,
                    "counters": dict(self.counters),
                    "spans": self.spans,
                    **extra,
                },
                fh,
            )


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


def read_event_log(log_dir: str) -> dict[str, list[dict[str, Any]]]:
    """Jobs, stages and tasks from the (uncompressed) event log files."""
    jobs: list[dict[str, Any]] = []
    stages: list[dict[str, Any]] = []
    tasks: list[dict[str, Any]] = []
    # Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path, errors="replace") as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a partly written last line
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(
                        {
                            "id": ev["Job ID"],
                            "submit_s": ev["Submission Time"] / 1e3,
                            "stages": ev.get("Stage IDs", []),
                        }
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages.append(
                        {"id": info["Stage ID"], "tasks": info["Number of Tasks"]}
                    )
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    info = ev.get("Task Info") or {}
                    tasks.append(
                        {
                            "stage": ev["Stage ID"],
                            "finish_s": info.get("Finish Time", 0) / 1e3,
                            "run_ms": m.get("Executor Run Time", 0),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                            "spill_bytes": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def scheduler_metrics(
    log: dict[str, list[dict[str, Any]]],
    windows: list[tuple[float, float]],
    cpus: int,
    n_ops: int,
) -> dict[str, float]:
    """Scheduler and executor counters for jobs submitted inside the
    timed ops' wall-clock windows (epoch seconds), per op."""

    def inside(t: float) -> bool:
        return any(a <= t < b for a, b in windows)

    jobs = [j for j in log["jobs"] if inside(j["submit_s"])]
    stage_ids = {s for j in jobs for s in j["stages"]}
    done = [s for s in log["stages"] if s["id"] in stage_ids]
    tasks = [t for t in log["tasks"] if t["stage"] in stage_ids]
    wall = sum(b - a for a, b in windows)
    n_ops = max(1, n_ops)
    run_ms = sum(t["run_ms"] for t in tasks)
    return {
        "spark.jobs_per_op": len(jobs) / n_ops,
        "spark.stages_per_op": len({s["id"] for s in done}) / n_ops,
        "spark.tasks_per_op": len(tasks) / n_ops,
        "spark.task_busy_ratio": run_ms / 1e3 / (wall * cpus) if wall else 0.0,
        "spark.gc_ms": float(sum(t["gc_ms"] for t in tasks)),
        "spark.shuffle_write_bytes": float(sum(t["shuffle_write_bytes"] for t in tasks)),
        "spark.spill_bytes": float(sum(t["spill_bytes"] for t in tasks)),
    }


def jobs_between(log: dict[str, list[dict[str, Any]]], a: float, b: float) -> int:
    return sum(1 for j in log["jobs"] if a <= j["submit_s"] < b)
