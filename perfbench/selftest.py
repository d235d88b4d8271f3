"""Self-test of the benchmark's output checks.

    python3 perfbench/selftest.py [--seed 7]

Every check must pass on real engine output and fail on a planted
error. The test produces real output once, then plants one error at a
time into a copy of it:

- batch: one key's output against its DuckDB oracle, with one row
  dropped, then with one value changed; a rows-only key with no rows;
- stream: the exactly-once sink's output of a short crashing run, with
  one committed batch applied twice, one batch missing, a torn attempt
  made visible to ``read_committed``, a torn attempt left uncommitted,
  and one (window, word) count off by one against the pure-Python
  reference.

Prints one line per case and exits non-zero unless every check passed
on the real output and failed on every planted error. A JSON record
goes to ``perfbench/results/selftest.json``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
from typing import Any, Callable

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import run  # noqa: E402

BATCH_KEY = "q_pipeline_curate"


class _Ctx:
    def __init__(self, spark: Any) -> None:
        import tracer

        self.spark = spark
        self.tracer = tracer.NullTracer()


def batch_cases(spark: Any, seed: int) -> list[tuple[str, bool, list[str]]]:
    import checks
    import datagen
    from kafka_flink_exactlyonce_example_spark import registry
    from kafka_flink_exactlyonce_example_spark.sources import TABLES

    registry.load_all()
    sf_dir = datagen.write_catalog(os.path.join(run.WORK, "selftest", "catalog"), seed)
    real = registry.QUERIES[BATCH_KEY](spark, sf_dir).toPandas()
    oracle = checks.run_oracles(sf_dir, {BATCH_KEY: registry.ORACLES[BATCH_KEY]}, TABLES)[BATCH_KEY]

    dropped = real.drop(index=real.index[len(real) // 2])
    changed = real.copy()
    col = sorted(changed.columns)[-1]
    v = changed.at[changed.index[0], col]
    changed.at[changed.index[0], col] = v + 1 if not isinstance(v, str) else v + "x"
    out = [("batch: real output vs oracle", True, checks.check_batch_key(BATCH_KEY, real, oracle))]
    out.append(("batch: one dropped row", False, checks.check_batch_key(BATCH_KEY, dropped, oracle)))
    out.append((f"batch: one changed value ({col})", False, checks.check_batch_key(BATCH_KEY, changed, oracle)))
    out.append(("batch: rows-only key, rows", True, checks.check_batch_key("rows_only", real, None)))
    out.append(("batch: rows-only key, no rows", False, checks.check_batch_key("rows_only", real.iloc[:0], None)))
    return out


def _parquet_files(batch_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(batch_dir, "part-*.parquet")))


def _rows(path: str) -> int:
    """Rows in one parquet file."""
    import pyarrow.parquet as pq

    return pq.read_metadata(path).num_rows


def _rewrite(batch_dir: str, edit: Callable[[Any], Any]) -> None:
    """Replace a committed batch's data with ``edit(rows)``."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(_parquet_files(batch_dir))
    for f in os.listdir(batch_dir):
        os.remove(os.path.join(batch_dir, f))
    # Spark writes timestamps as INT96; keep the physical type it reads
    pq.write_table(
        edit(tbl),
        os.path.join(batch_dir, "part-00000-planted.parquet"),
        use_deprecated_int96_timestamps=True,
    )


def stream_cases(spark: Any, seed: int) -> list[tuple[str, bool, list[str]]]:
    import checks
    import datagen
    import workloads
    from kafka_flink_exactlyonce_example_spark.streaming.exactly_once import (
        IdempotentBatchSink,
    )

    root = os.path.join(run.WORK, "selftest", "stream")
    backlog = datagen.stream_backlog(os.path.join(root, "in"), seed, 14, 200)
    expected = checks.reference_counts(backlog.rows)
    sink = IdempotentBatchSink(os.path.join(root, "out"))
    handler = workloads.CrashingSink(sink, _Ctx(spark).tracer, {3, 8})
    progress, _ = workloads._run_stream(_Ctx(spark), root, os.path.join(root, "in"), handler, sink)
    n_batches = 1 + max(int(p["batchId"]) for p in progress)
    nonempty = [
        b
        for b in sink.committed_batches()
        if any(_rows(f) for f in _parquet_files(os.path.join(sink.data_dir, f"batch_id={b}")))
    ]
    mid, last = nonempty[len(nonempty) // 2], nonempty[-1]

    def planted(label: str, plant: Callable[[Any], None]) -> tuple[str, bool, list[str]]:
        copy = os.path.join(run.WORK, "selftest", "planted")
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(sink.out_dir, copy)
        s = IdempotentBatchSink(copy)
        plant(s)
        return (f"stream: {label}", False, checks.check_stream(s, spark, n_batches, expected)[0])

    def batch_dir(s: Any, b: int) -> str:
        return os.path.join(s.data_dir, f"batch_id={b}")

    def applied_twice(s: Any) -> None:
        src = next(f for f in _parquet_files(batch_dir(s, mid)) if _rows(f))
        shutil.copy(src, src.replace("part-", "part-again-"))

    def missing(s: Any) -> None:
        os.remove(os.path.join(s.commits_dir, str(mid)))
        shutil.rmtree(batch_dir(s, mid))

    def torn_visible(s: Any) -> None:
        _rewrite(batch_dir(s, last), lambda t: t.slice(0, t.num_rows // 2))

    def torn_uncommitted(s: Any) -> None:
        shutil.copytree(batch_dir(s, last), batch_dir(s, n_batches))

    def count_off(s: Any) -> None:
        import pyarrow as pa

        def bump(t: Any) -> Any:
            cnt = t.column("cnt").to_pylist()
            cnt[0] += 1
            return t.set_column(t.schema.get_field_index("cnt"), "cnt", pa.array(cnt, pa.int64()))

        _rewrite(batch_dir(s, last), bump)

    out = [("stream: real output", True, checks.check_stream(sink, spark, n_batches, expected)[0])]
    out.append(planted(f"batch {mid} applied twice", applied_twice))
    out.append(planted(f"batch {mid} missing", missing))
    out.append(planted(f"torn attempt of batch {last} visible to read_committed", torn_visible))
    out.append(planted("torn attempt left uncommitted", torn_uncommitted))
    out.append(planted(f"one count off by one in batch {last}", count_off))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    run.prepare_environment(trace=False)
    run.become_subreaper()
    from kafka_flink_exactlyonce_example_spark.session import get_spark

    try:
        spark = get_spark(app_name="perfbench-selftest")
        spark.sparkContext.setLogLevel("ERROR")
        try:
            cases = batch_cases(spark, args.seed) + stream_cases(spark, args.seed)
        finally:
            spark.stop()
    finally:
        started = run.descendants(os.getpid())
        run.stop_jvm()
        run.stop_processes(started)
    ok_all = True
    record = []
    for label, should_pass, problems in cases:
        ok = (not problems) if should_pass else bool(problems)
        ok_all &= ok
        verdict = "ok  " if ok else "BAD "
        print(
            f"{verdict} {label}: check {'failed' if problems else 'passed'}"
            f" (must {'pass' if should_pass else 'fail'})"
        )
        for p in problems[:2]:
            print(f"       {p[:160]}")
        record.append({"case": label, "must_pass": should_pass, "ok": ok, "problems": problems})
    os.makedirs(run.RESULTS, exist_ok=True)
    with open(os.path.join(run.RESULTS, "selftest.json"), "w") as fh:
        json.dump({"seed": args.seed, "all_ok": ok_all, "cases": record}, fh, indent=1)
    print("self-test", "PASSED" if ok_all else "FAILED")
    return 0 if ok_all else 1


if __name__ == "__main__":
    sys.exit(main())
