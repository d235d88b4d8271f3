"""Spread report: one workload over many seeds.

    python3 perfbench/spread.py --workload stream_wordcount_eo --seeds 1-10
    python3 perfbench/spread.py --workload batch_lifecycle --seeds 1-3 --trace 1

Runs ``run.py`` once per seed, one after another, each in a fresh
process, with ``--seconds`` from ``BENCHMARK.json``. For each metric it
prints the median, the quartile distance as a share of the median
(quartiles as ``statistics.quantiles(values, n=4)`` gives them) and, for
end-to-end metrics, whether that share is within the metric's bound and
within a third of it. With ``--trace 1`` it also prints the tracing
overhead: the median traced ``total_s`` over the median untraced
``total_s`` of an earlier untraced report on the same seeds.

The report goes to ``perfbench/results/spread-<workload>-trace<k>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(HERE, "results")


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """(median, quartile distance / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def run_seed(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"seed {seed}: run.py exited {proc.returncode}")
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    return {"seed": seed, "wall_s": wall, **last}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    runs = []
    for seed in parse_seeds(args.seeds):
        r = run_seed(args.workload, seed, spec["run_seconds"], args.trace)
        runs.append(r)
        vals = "" if args.trace else " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
        print(f"seed {seed}: wall {r['wall_s']:.1f} s, correct={r['correct']}, "
              f"attempted={r['attempted']}, failed={r['failed']} {vals}", flush=True)

    names = list(runs[0]["metrics"])
    report = {"workload": args.workload, "trace": args.trace, "seeds": [r["seed"] for r in runs],
              "cpus": len(os.sched_getaffinity(0)), "loadavg_end": os.getloadavg(),
              "wall_s": [r["wall_s"] for r in runs],
              "all_correct": all(r["correct"] and r["failed"] == 0 for r in runs), "metrics": {}}
    print(f"\n{args.workload} over {len(runs)} seeds, wall per run median "
          f"{statistics.median(report['wall_s']):.1f} s, all correct: {report['all_correct']}")
    print(f"{'metric':34} {'median':>12} {'IQR/med':>8} {'bound':>6}  within  <bound/3")
    for name in names:
        values = [r["metrics"][name]["value"] for r in runs]
        med, rel = spread(values) if len(values) >= 2 else (values[0], 0.0)
        row = {"median": med, "iqr_over_median": rel, "values": values}
        line = f"{name:34} {med:12.4f} {rel:8.4f}"
        if name in bounds:
            row.update(bound=bounds[name], within=rel <= bounds[name], within_third=rel <= bounds[name] / 3)
            line += f" {bounds[name]:6.2f}  {str(row['within']):6}  {row['within_third']}"
        report["metrics"][name] = row
        print(line)

    if args.trace:
        other = os.path.join(RESULTS, f"spread-{args.workload}-trace0.json")
        if os.path.exists(other):
            with open(other) as fh:
                base = json.load(fh)
            same = [s for s in report["seeds"] if s in base["seeds"]]
            untraced = [v for s, v in zip(base["seeds"], base["metrics"]["total_s"]["values"]) if s in same]
            traced = [r["metrics"]["traced.total_s"]["value"] for r in runs if r["seed"] in same]
            if same:
                ratio = statistics.median(traced) / statistics.median(untraced)
                report["overhead"] = {"seeds": same, "traced_total_s": traced,
                                      "untraced_total_s": untraced, "ratio": ratio}
                print(f"tracing overhead on seeds {same}: median traced total_s "
                      f"{statistics.median(traced):.3f} s / untraced {statistics.median(untraced):.3f} s"
                      f" = {ratio:.3f}")
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"spread-{args.workload}-trace{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
