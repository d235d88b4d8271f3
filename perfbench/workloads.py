"""The benchmark's workloads.

Each workload is a function ``(ctx) -> None`` that fills ``ctx.result``.
It generates its inputs (``ctx.gen``, excluded from set-up time), sets
up (``ctx.start_session`` plus a fixed warm-up), marks the first timed
op with ``ctx.begin_timed()``, runs the timed phase, and checks every
output after the timed phase.

- ``stream_wordcount_eo``: the paper's pipeline under injected crashes.
- ``batch_lifecycle``: the index-lifecycle registry keys, with the
  session caches they consume built during set-up.
"""

from __future__ import annotations

import inspect
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from typing import Any

import checks
import datagen
import tracer as tr

# --------------------------------------------------------------------------
# stream_wordcount_eo
# --------------------------------------------------------------------------

#: Backlog files (one per trigger) per second of ``--seconds``. Sized so
#: that the timed phase lasts about ``--seconds`` on a 4-core host.
STREAM_FILES_PER_S = 0.7
STREAM_LINES_PER_FILE = 1_000
STREAM_CRASHES = 10
STREAM_WARMUP_FILES = 1
STREAM_SCHEMA = "ts TIMESTAMP, value STRING"


class InjectedCrash(RuntimeError):
    pass


def _dir_bytes(path: str) -> tuple[int, int]:
    files = [os.path.join(path, f) for f in os.listdir(path) if not f.startswith((".", "_"))]
    return sum(os.path.getsize(f) for f in files), len(files)


class CrashingSink:
    """The benchmark's ``foreachBatch`` function: calls the engine's
    ``IdempotentBatchSink`` and, once for each batch in ``crash_plan``,
    tears it: removes the fresh commit marker and raises. The batch's
    data directory is then written but never marked, as after a crash
    between the sink's steps 2 and 3, and the replay must overwrite it.

    (A crash after the marker, whose replay the sink skips, is not
    injected: on this Spark version a ``foreachBatch`` that returns
    without consuming a stateful batch fails the state-store commit
    validation, so the skip path cannot complete.)"""

    def __init__(self, sink: Any, tracer: Any, crash_plan: set[int]) -> None:
        self.sink = sink
        self.tracer = tracer
        self.crash_plan = crash_plan
        self.crashed: set[int] = set()
        self.replay: dict[str, Any] | None = None
        self.recoveries: list[dict[str, float]] = []

    def expect_replay(self, batch_id: int, restart_t: float) -> None:
        self.replay = {"batch": batch_id, "t": restart_t}

    def __call__(self, df: Any, batch_id: int) -> None:
        sink, t = self.sink, self.tracer
        marker = os.path.join(sink.commits_dir, str(batch_id))
        data = os.path.join(sink.data_dir, f"batch_id={batch_id}")
        marked_before, data_before = os.path.exists(marker), os.path.exists(data)
        t0 = time.perf_counter()
        with t.span("sink.call", batch=batch_id):
            sink(df, batch_id)
        write_s = time.perf_counter() - t0
        tear = batch_id in self.crash_plan and batch_id not in self.crashed
        if tear:
            self.crashed.add(batch_id)
            os.remove(marker)
        if t.enabled:
            if marked_before:
                t.count("sink.replay_skips")
            elif not tear:
                t.count("sink.commits")
                t.sample("sink.write_ms", write_s * 1e3)
                nbytes, nfiles = _dir_bytes(data)
                t.sample("sink.bytes", nbytes)
                t.sample("sink.files", nfiles)
                if data_before:
                    t.count("sink.torn_overwrites")
        if self.replay and self.replay["batch"] == batch_id:
            self.recoveries.append(
                {"batch": batch_id, "recovery_s": time.perf_counter() - self.replay["t"]}
            )
            self.replay = None
        if tear:
            raise InjectedCrash(f"injected torn crash at batch {batch_id}")


class ProgressListener:
    """Collects ``QueryProgressEvent`` payloads (traced runs only)."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events: list[dict[str, Any]] = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event: Any) -> None:
                pass

            def onQueryProgress(self, event: Any) -> None:
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event: Any) -> None:
                pass

            def onQueryTerminated(self, event: Any) -> None:
                pass

        self.events = events
        self.listener = _L()


def _run_stream(ctx: Any, root: str, backlog_dir: str, handler: CrashingSink | None, sink: Any):
    """Drive the query to the end of the backlog, restarting on the
    same checkpoint after every injected crash. Returns the progress
    records of all query runs and the restart records."""
    from kafka_flink_exactlyonce_example_spark.streaming import jobs, sources

    spark = ctx.spark
    progress: list[dict[str, Any]] = []
    restarts: list[dict[str, Any]] = []
    fn = handler if handler is not None else sink

    def start() -> Any:
        lines = sources.file_stream(spark, backlog_dir, STREAM_SCHEMA, maxFilesPerTrigger="1")
        return jobs.run_exactly_once(
            jobs.streaming_wordcount(lines, "ts"),
            fn,
            os.path.join(root, "checkpoint"),
            output_mode="update",
        )

    query = start()
    while True:
        try:
            query.awaitTermination()
            progress.extend(query.recentProgress)
            break
        except Exception as exc:  # an injected crash ends the query
            progress.extend(query.recentProgress)
            if handler is None or not handler.crashed or "injected" not in str(exc):
                raise
            batch_id = max(handler.crashed)
            t = time.perf_counter()
            handler.expect_replay(batch_id, t)
            with ctx.tracer.span("recovery.restart", batch=batch_id):
                query = start()
            restarts.append({"batch": batch_id, "query_start_ms": (time.perf_counter() - t) * 1e3})
    return progress, restarts


def stream_wordcount_eo(ctx: Any) -> None:
    from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
        IdempotentBatchSink,
    )

    n_files = max(STREAM_CRASHES + 2, round(STREAM_FILES_PER_S * ctx.seconds))
    # STREAM_CRASHES torn batches, evenly spaced over the backlog
    crash_plan = {int((i + 0.75) * n_files / STREAM_CRASHES) for i in range(STREAM_CRASHES)}
    with ctx.gen():
        warm = datagen.stream_backlog(
            ctx.path("warmup", "in"), ctx.seed + 1_000_003, STREAM_WARMUP_FILES, STREAM_LINES_PER_FILE
        )
        backlog = datagen.stream_backlog(
            ctx.path("stream", "in"), ctx.seed, n_files, STREAM_LINES_PER_FILE
        )
        expected = checks.reference_counts(backlog.rows)
    ctx.start_session()
    # fixed warm-up: the same pipeline over a short backlog of its own
    warm_sink = IdempotentBatchSink(ctx.path("warmup", "out"))
    _run_stream(ctx, ctx.path("warmup"), os.path.dirname(warm.files[0]), None, warm_sink)

    listener = None
    if ctx.tracer.enabled:
        listener = ProgressListener()
        ctx.spark.streams.addListener(listener.listener)
    sink = IdempotentBatchSink(ctx.path("stream", "out"))
    handler = CrashingSink(sink, ctx.tracer, crash_plan)

    ctx.begin_timed()
    with ctx.tracer.span("stream.timed"):
        progress, restarts = _run_stream(
            ctx, ctx.path("stream"), os.path.dirname(backlog.files[0]), handler, sink
        )
    ctx.end_timed()

    triggers = [p for p in progress if p.get("numInputRows", 0) > 0]
    op_ms = [float(p["durationMs"]["triggerExecution"]) for p in triggers]
    n_batches = 1 + max(int(p["batchId"]) for p in progress)
    problems, failed = checks.check_stream(sink, ctx.spark, n_batches, expected)
    recoveries = [r["recovery_s"] for r in handler.recoveries]
    if len(recoveries) != len(crash_plan):
        problems.append(f"{len(recoveries)} recoveries measured for {len(crash_plan)} crashes")
    ctx.record_ops(op_ms, failed=failed, problems=problems)
    ctx.result["e2e_extra"]["recovery_s"] = tr.p50(recoveries)
    ctx.result["workload_info"] = {
        "files": n_files,
        "lines_per_file": STREAM_LINES_PER_FILE,
        "batches": n_batches,
        "crashes": sorted(crash_plan),
        "late_rows": sum(lt for f in backlog.rows for _, _, lt in f),
    }

    if ctx.tracer.enabled:
        ctx.spark.streams.removeListener(listener.listener)
        events = [e for e in listener.events if e.get("numInputRows", 0) > 0]
        layer = ctx.layer
        for phase in ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
                      "commitOffsets", "latestOffset", "getBatch"):
            name = "trigger" if phase == "triggerExecution" else phase
            layer[f"stream.{name}_ms"] = tr.p50([e["durationMs"].get(phase, 0) for e in events])
        ops = [e["stateOperators"][0] for e in events if e.get("stateOperators")]
        last = ops[-1] if ops else {}
        layer["stream.state_rows_total"] = last.get("numRowsTotal", 0)
        layer["stream.state_memory_bytes"] = last.get("memoryUsedBytes", 0)
        layer["stream.state_commit_ms"] = tr.p50([o.get("commitTimeMs", 0) for o in ops])
        layer["stream.rows_dropped_by_watermark"] = sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops
        )
        t = ctx.tracer
        layer["sink.write_ms"] = tr.p50(t.samples.get("sink.write_ms", []))
        layer["sink.bytes_per_batch"] = tr.p50(t.samples.get("sink.bytes", []))
        layer["sink.files_per_batch"] = tr.p50(t.samples.get("sink.files", []))
        for k in ("commits", "replay_skips", "torn_overwrites"):
            layer[f"sink.{k}"] = t.counters.get(f"sink.{k}", 0)
        layer["recovery.query_start_ms"] = tr.p50([r["query_start_ms"] for r in restarts])
        replayed = {r["batch"] for r in restarts}
        first: dict[int, float] = {}
        for p in progress:
            b = int(p["batchId"])
            if b in replayed and b not in first:
                first[b] = float(p["durationMs"]["triggerExecution"])
        layer["recovery.replay_batch_ms"] = tr.p50(list(first.values()))
        ctx.scheduler_layers()


# --------------------------------------------------------------------------
# batch_lifecycle
# --------------------------------------------------------------------------

LIFECYCLE_MODULES = ("lifecycle", "ingest", "pipeline")
LIFECYCLE_EXTRA_KEYS = ("q_gen_promote",)
#: The shared session caches the lifecycle keys consume, built during
#: set-up in ``CACHE_BUILDERS`` order. Found by running the keys on a
#: fresh session and then timing every builder: these came back as
#: already built.
LIFECYCLE_CACHES = (
    "shingles",
    "minhash_sigs",
    "capped_bands",
    "lsh_edges",
    "ivf_seeds",
    "ivf_cells",
    "inc_ann_index",
    "inc_indexed1",
    "gate_flags",
)
#: Catalog row-count scale: FIXTURES.md's sf0.01 counts. One pass of
#: the 14 keys takes about 45 s on 4 cores at this size (see README).
CATALOG_SCALE = 0.01
#: One pass per this many seconds of ``--seconds``, at least one.
LIFECYCLE_PASS_S = 45


def lifecycle_keys(registry: Any) -> list[str]:
    keys = sorted(
        k
        for k, fn in registry.QUERIES.items()
        if inspect.unwrap(fn).__module__.rsplit(".", 1)[-1] in LIFECYCLE_MODULES
    )
    return keys + [k for k in LIFECYCLE_EXTRA_KEYS if k in registry.QUERIES]


def _phases_ms(df: Any) -> dict[str, float]:
    """``QueryPlanningTracker`` phase durations of the frame's plan."""
    out: dict[str, float] = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def batch_lifecycle(ctx: Any) -> None:
    with ctx.gen():
        sf_dir = datagen.write_catalog(ctx.path("catalog"), ctx.seed, CATALOG_SCALE)
    from kafka_flink_exactlyonce_example_spark import registry
    from kafka_flink_exactlyonce_example_spark.sources import TABLES

    registry.load_all()
    keys = lifecycle_keys(registry)
    # The DuckDB oracles run at low priority while the session starts,
    # and are joined before the timed phase so they never overlap it.
    pool = ThreadPoolExecutor(max_workers=1)
    oracle_sql = {k: registry.ORACLES.get(k) for k in keys}
    pending = pool.submit(_niced, checks.run_oracles, sf_dir, oracle_sql, TABLES)
    ctx.start_session()
    spark = ctx.spark
    from kafka_flink_exactlyonce_example_spark.operators import scale, session_caches

    # the shared caches these keys consume; they are also the warm-up
    cache_s: dict[str, float] = {}
    for name, build in session_caches.CACHE_BUILDERS.items():
        if name in LIFECYCLE_CACHES:
            t0 = time.perf_counter()
            with ctx.tracer.span("cache.build", cache=name):
                build(spark, sf_dir)
            cache_s[name] = time.perf_counter() - t0
    scale.unpersist_all()
    oracles = pending.result()
    pool.shutdown()

    passes = max(1, round(ctx.seconds / LIFECYCLE_PASS_S))
    outputs: dict[str, Any] = {}
    errors: dict[str, str] = {}
    op_ms: list[float] = []
    windows: list[tuple[float, float]] = []
    build_windows: list[tuple[float, float]] = []
    per_op: list[dict[str, Any]] = []
    unpersisted = 0
    ctx.begin_timed()
    for p in range(passes):
        for key in keys:
            rec: dict[str, Any] = {"key": key, "pass": p}
            e0, t0 = time.time(), time.perf_counter()
            try:
                with ctx.tracer.span("query.op", key=key):
                    with ctx.tracer.span("query.build", key=key):
                        df = registry.QUERIES[key](spark, sf_dir)
                    e1, t1 = time.time(), time.perf_counter()
                    with ctx.tracer.span("query.exec", key=key):
                        pdf = df.toPandas()
                t2 = time.perf_counter()
                rec.update(build_ms=(t1 - t0) * 1e3, exec_ms=(t2 - t1) * 1e3)
                if ctx.tracer.enabled:
                    rec["phases"] = _phases_ms(df)
                outputs[key] = pdf
            except Exception as exc:  # a failing key is a failed op
                t2, e1 = time.perf_counter(), time.time()
                errors[key] = f"{type(exc).__name__}: {str(exc)[:300]}"
            op_ms.append((t2 - t0) * 1e3)
            windows.append((e0, time.time()))
            build_windows.append((e0, e1))
            with ctx.tracer.span("scale.unpersist_all"):
                n = scale.unpersist_all()
            unpersisted += n
            per_op.append(rec)
    ctx.end_timed()

    # checks, after the timed phase: every key against its DuckDB oracle
    ctx.stop_session()
    problems: list[str] = [f"{k}: {e}" for k, e in errors.items()]
    failed_keys = set(errors)
    for key, pdf in outputs.items():
        found = checks.check_batch_key(key, pdf, oracles[key])
        if found:
            problems.extend(found)
            failed_keys.add(key)
    failed = sum(1 for r in per_op if r["key"] in failed_keys)
    ctx.record_ops(op_ms, failed=failed, problems=problems)
    ctx.result["workload_info"] = {
        "keys": keys,
        "passes": passes,
        "catalog_scale": CATALOG_SCALE,
        "cache_build_s": cache_s,
        "ops": per_op,
    }

    if ctx.tracer.enabled:
        layer, t = ctx.layer, ctx.tracer
        n = max(1, len(per_op))
        for name in LIFECYCLE_CACHES:
            layer[f"cache.{name}_s"] = cache_s.get(name, 0.0)
        layer["cache.build_s"] = sum(cache_s.values())
        calls = t.counters.get("catalog.table_calls", 0)
        layer["catalog.table_calls"] = calls
        layer["catalog.table_hit_ratio"] = t.counters.get("catalog.table_hits", 0) / calls if calls else 0.0
        ok = [r for r in per_op if "build_ms" in r]
        layer["query.build_ms"] = sum(r["build_ms"] for r in ok) / max(1, len(ok))
        layer["query.exec_ms"] = sum(r["exec_ms"] for r in ok) / max(1, len(ok))
        for phase in ("analysis", "optimization", "planning"):
            layer[f"catalyst.{phase}_ms"] = sum(r["phases"].get(phase, 0.0) for r in ok) / max(1, len(ok))
        waves = t.counters.get("overlap.waves", 0)
        layer["overlap.waves"] = waves
        layer["overlap.thunks"] = t.counters.get("overlap.thunks", 0)
        layer["overlap.wave_ms"] = t.counters.get("overlap.wave_s", 0) * 1e3 / waves if waves else 0.0
        wave_s = t.counters.get("overlap.wave_s", 0)
        layer["overlap.speedup"] = t.counters.get("overlap.thunk_s", 0) / wave_s if wave_s else 0.0
        layer["memo.hits"] = t.counters.get("memo.hits", 0)
        layer["memo.misses"] = t.counters.get("memo.misses", 0)
        layer["memo.lock_wait_ms"] = t.counters.get("memo.lock_wait_s", 0) * 1e3
        layer["scale.unpersisted_per_op"] = unpersisted / n
        log = ctx.event_log()
        layer["query.eager_jobs"] = sum(tr.jobs_between(log, a, b) for a, b in build_windows) / n
        ctx.scheduler_layers(windows)


def _niced(fn: Any, *args: Any) -> Any:
    """Run ``fn`` in this thread at nice 10; threads it starts inherit it."""
    os.setpriority(os.PRIO_PROCESS, threading.get_native_id(), 10)
    return fn(*args)


WORKLOADS = {
    "stream_wordcount_eo": stream_wordcount_eo,
    "batch_lifecycle": batch_lifecycle,
}
