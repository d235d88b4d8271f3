"""Run one benchmark workload in a fresh process and print its metrics.

    python3 perfbench/run.py --workload stream_wordcount_eo --seed 1 \
        --seconds 20 --trace 0

Run it from the repository root. The run wipes ``perfbench/work/``,
generates its inputs from ``--seed`` there, opens a ``local[N]`` session
with N = this process's CPU affinity count, runs the workload, checks
every output, writes the full record to ``perfbench/results/`` and
prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` turns tracing on (spans, wrapped helpers, Spark event
log) and reports the per-layer metrics instead.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import ctypes  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from typing import Any, Iterator  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import tracer as tr  # noqa: E402

LOG4J = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def cpu_jiffies() -> dict[str, int]:
    """Whole-machine CPU time split from /proc/stat (clock ticks)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return {"busy": f[0] + f[1] + f[2] + f[5] + f[6], "idle": f[3] + f[4], "steal": f[7]}


def _proc_stat(pid: int) -> tuple[int, str] | None:
    """(parent pid, start time) of a live process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    if fields[0] == "Z":  # exited, only waiting to be reaped
        return None
    return int(fields[1]), fields[19]


def descendants(root: int) -> dict[int, str]:
    """Every live process below ``root``: pid -> start time."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _proc_stat(int(name))) is not None:
            stats[int(name)] = st
    found: dict[int, str] = {}
    frontier = [root]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, start) in stats.items():
            if ppid == parent and pid not in found:
                found[pid] = start
                frontier.append(pid)
    return found


def stop_jvm() -> None:
    """Close the py4j gateway and wait until the JVM has exited.

    ``SparkSession.stop`` leaves the JVM running; it exits on its own
    only when this process's end closes its stdin, after this process
    is gone.
    """
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = None
    SparkContext._jvm = None
    with contextlib.suppress(Exception):
        gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    with contextlib.suppress(OSError):
        proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def become_subreaper() -> None:
    """Have orphaned descendants (children of the JVM once it has exited)
    re-parented to this process rather than to init, so that this
    process can wait for them."""
    pr_set_child_subreaper = 36
    with contextlib.suppress(OSError, AttributeError):
        ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def reap_children() -> None:
    """Collect every child of this process that has already exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(procs: dict[int, str], grace_s: float = 10.0) -> None:
    """Wait for the given processes to end, terminating, then killing,
    stragglers; then reap every exited child of this process."""

    def alive() -> list[int]:
        out = []
        for pid, start in procs.items():
            st = _proc_stat(pid)
            if st is not None and st[1] == start:
                out.append(pid)
            else:
                with contextlib.suppress(ChildProcessError, OSError):
                    os.waitpid(pid, os.WNOHANG)
        return out

    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        pids = alive()
        if not pids:
            break
        if sig is not None:
            for pid in pids:
                with contextlib.suppress(OSError):
                    os.kill(pid, sig)
        deadline = time.monotonic() + wait_s
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)
    reap_children()


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
        return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def prepare_environment(trace: bool) -> None:
    """Wipe the work directory and point every Spark output into it."""
    shutil.rmtree(WORK, ignore_errors=True)
    conf_dir = os.path.join(WORK, "conf")
    for d in ("conf", "spark-local", "warehouse", "eventlog", "tmp"):
        os.makedirs(os.path.join(WORK, d))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
        f" -Dderby.system.home={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(WORK, "eventlog")
        conf["spark.eventLog.compress"] = "false"
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as fh:
        fh.writelines(f"{k} {v}\n" for k, v in conf.items())
    with open(os.path.join(conf_dir, "log4j2.properties"), "w") as fh:
        fh.write(LOG4J)
    os.environ.update(
        SPARK_CONF_DIR=conf_dir,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_GRAFT_CPUS=str(cpu_count()),
        # the engine's 8g default is sized for sf0.1; sf0.01 runs in far
        # less, and the host's memory is shared
        SPARK_GRAFT_DRIVER_MEM="3g",
        TMPDIR=os.path.join(WORK, "tmp"),
    )


class Context:
    """What a workload needs: paths, seed, tracer, session and timers."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.cpus = cpu_count()
        self.tracer = tr.Tracer() if args.trace else tr.NullTracer()
        self.spark: Any = None
        self.gen_s = 0.0
        self.session_s = 0.0
        self.timed: list[float] = []
        self.timed_epoch: list[float] = []
        self.layer: dict[str, float] = {}
        self.result: dict[str, Any] = {"e2e_extra": {}}
        #: seconds since process start at named points of the run
        self.marks: dict[str, float] = {}

    def mark(self, name: str) -> None:
        self.marks[name] = time.perf_counter() - PROCESS_T0

    def path(self, *parts: str) -> str:
        p = os.path.join(WORK, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    @contextlib.contextmanager
    def gen(self) -> Iterator[None]:
        t = time.perf_counter()
        yield
        self.gen_s += time.perf_counter() - t

    def start_session(self) -> None:
        from kafka_flink_exactlyonce_example_spark.session import get_spark

        self.mark("session_call")
        t = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name=f"perfbench-{self.seed}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t
        self.mark("session_ready")
        self.tracer.install()

    def stop_session(self) -> None:
        """Stop the session and its JVM (idempotent).

        The event log is complete after it, and no process the session
        started outlives the call.
        """
        self.tracer.uninstall()
        started = descendants(os.getpid())
        try:
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
                self.mark("session_stopped")
        finally:
            stop_jvm()
            stop_processes(started)

    def begin_timed(self) -> None:
        self.mark("timed_start")
        self.timed = [time.perf_counter()]
        self.timed_epoch = [time.time()]
        self.jiffies = [cpu_jiffies()]

    def end_timed(self) -> None:
        self.mark("timed_end")
        self.timed.append(time.perf_counter())
        self.timed_epoch.append(time.time())
        self.jiffies.append(cpu_jiffies())

    def record_ops(self, op_ms: list[float], failed: int, problems: list[str]) -> None:
        self.result.update(op_ms=op_ms, failed=failed, problems=problems)

    def event_log(self) -> dict[str, list[dict[str, Any]]]:
        if not hasattr(self, "_log"):
            self._log = tr.read_event_log(os.path.join(WORK, "eventlog"))
        return self._log

    def scheduler_layers(self, windows: list[tuple[float, float]] | None = None) -> None:
        windows = windows or [tuple(self.timed_epoch)]
        n_ops = len(self.result.get("op_ms", [])) or 1
        self.layer.update(tr.scheduler_metrics(self.event_log(), windows, self.cpus, n_ops))


def main(argv: list[str] | None = None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail fast, before wiping anything, when the engine is not here
    import kafka_flink_exactlyonce_example_spark  # noqa: F401
    from tools import crosscheck  # noqa: F401

    load_spec()

    # a terminated run still stops the JVM, on the way out through finally
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    load_before = os.getloadavg()
    prepare_environment(bool(args.trace))
    ctx = Context(args)
    try:
        workloads.WORKLOADS[args.workload](ctx)
        ctx.mark("checks_done")
    finally:
        ctx.stop_session()
    load_after = os.getloadavg()

    op_ms = ctx.result["op_ms"]
    setup_s = ctx.timed[0] - PROCESS_T0 - ctx.gen_s
    total_s = ctx.timed[1] - ctx.timed[0]
    e2e = {
        "setup_s": (setup_s, "s"),
        "total_s": (total_s, "s"),
        "op_p50_ms": (statistics.median(op_ms), "ms"),
    }
    extra = {k: (v, "s") for k, v in ctx.result.pop("e2e_extra").items()}
    if len(op_ms) >= 100:
        extra["op_p90_ms"] = (statistics.quantiles(op_ms, n=10)[-1], "ms")
    layer = {"session.start_s": ctx.session_s, "traced.total_s": total_s, **ctx.layer}
    failed = int(ctx.result["failed"])
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": ctx.cpus,
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        "commit": git_commit(),
        "gen_s": ctx.gen_s,
        "marks": ctx.marks,
        # machine CPU time during the timed phase: steal is time the host
        # took from this VM, the usual cause of a slow run here
        "timed_cpu_ticks": {k: ctx.jiffies[1][k] - ctx.jiffies[0][k] for k in ctx.jiffies[0]},
        "attempted": len(op_ms),
        "failed": failed,
        "problems": ctx.result["problems"],
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "end_to_end_extra": {k: v for k, (v, _) in extra.items()},
        "per_layer": layer if args.trace else {},
        "layers_not_exercised": sorted(set(load_spec()["per_layer"]) - set(layer)) if args.trace else [],
        **{k: v for k, v in ctx.result.items() if k not in ("op_ms", "failed", "problems")},
        "op_ms": op_ms,
    }
    os.makedirs(RESULTS, exist_ok=True)
    stem = os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        ctx.tracer.dump(stem + ".spans.json", {"workload": args.workload, "seed": args.seed})

    for name, (value, unit) in {**e2e, **extra}.items():
        print(f"{name} = {value:.4f} {unit}", file=sys.stderr)
    for p in ctx.result["problems"]:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    # the last line carries exactly the metrics BENCHMARK.json declares; a
    # per-layer metric of a layer this workload does not exercise reads 0
    spec = load_spec()
    if args.trace:
        values = {name: layer.get(name, 0.0) for name in spec["per_layer"]}
    else:
        values = {name: e2e[name][0] for name in spec["end_to_end"]}
    units = {**spec["per_layer"], **spec["end_to_end"]}
    metrics = {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}
    print(
        json.dumps(
            {
                "correct": failed == 0 and not ctx.result["problems"],
                "attempted": len(op_ms),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def load_spec() -> dict[str, dict[str, str]]:
    """Metric name -> unit, per section of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {
        sec: {m["name"]: m["unit"] for m in spec[sec]} for sec in ("end_to_end", "per_layer")
    }


if __name__ == "__main__":
    sys.exit(main())
