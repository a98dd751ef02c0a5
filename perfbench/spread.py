#!/usr/bin/env python3
"""Run one workload over several seeds and report how much each metric
spreads: the distance between the first and third quartile of its values
(``statistics.quantiles(values, n=4)``) as a share of their median.

    python3 perfbench/spread.py --workload needle_lookup --seeds 1-10 \
        --seconds 16 [--traced 2]

Besides the end-to-end metrics it reports the spread of the
host-independent counters (jobs, tasks, executor CPU, files kept) and,
with ``--traced N``, the tracing overhead: the median of ``N`` traced
runs' ``trace.<metric>`` minus the untraced median of the same metric,
for the wall-clock medians and the mean CPU time per op and per read.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import relative_iqr  # noqa: E402

COUNTS = ("jobs_per_op", "tasks_per_op", "executor_cpu_s_per_op",
          "files_kept_per_read", "files_rewritten")


def seeds(text: str) -> list:
    out = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"seed {seed}: exit {proc.returncode}\n"
                           f"{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    report = next(json.loads(x.split(" ", 1)[1]) for x in lines
                  if x.startswith("PERFBENCH_REPORT "))
    return json.loads(lines[-1]), report


def spread_table(values: dict) -> dict:
    out = {}
    for k, vs in values.items():
        out[k] = {"median": statistics.median(vs),
                  "rel_iqr": relative_iqr(vs) if len(vs) >= 2 else None,
                  "values": vs}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--traced", type=int, default=0,
                    help="also make this many traced runs")
    ap.add_argument("--out", help="write the summary here as JSON")
    args = ap.parse_args(argv)

    metrics, counts, failed = {}, {}, 0
    cpu = {}
    for seed in seeds(args.seeds):
        result, report = one_run(args.workload, seed, args.seconds, 0)
        failed += result["failed"]
        for k, v in result["metrics"].items():
            metrics.setdefault(k, []).append(v["value"])
        for k in COUNTS:
            counts.setdefault(k, []).append(report["counts"][k])
        for k, v in report["cpu"].items():
            cpu.setdefault(k, []).append(v["mean"])
        print(f"seed {seed}: " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
            flush=True)
    summary = {"workload": args.workload, "seeds": args.seeds,
               "seconds": args.seconds, "failed": failed,
               "end_to_end": spread_table(metrics),
               "cpu": spread_table(cpu),
               "counts": spread_table(counts)}
    if args.traced:
        traced = {}
        for seed in seeds(args.seeds)[:args.traced]:
            result, _ = one_run(args.workload, seed, args.seconds, 1)
            for k in ("op_cpu_ms", "read_cpu_ms", "op_p50_ms",
                      "read_p50_ms"):
                traced.setdefault(k, []).append(
                    result["metrics"][f"trace.{k}"]["value"])
        untraced = {**metrics, **cpu}
        summary["tracing_overhead_ms"] = {
            k: statistics.median(v) - statistics.median(untraced[k])
            for k, v in traced.items()}
    for section in ("end_to_end", "cpu", "counts"):
        print(f"-- {section}")
        for k, v in summary[section].items():
            iqr = v["rel_iqr"]
            print(f"{k:28s} median {v['median']:<12.5g} rel IQR "
                  f"{'-' if iqr is None else f'{iqr:.3f}'}")
    if args.traced:
        print("-- tracing overhead (traced - untraced median, ms)")
        for k, v in summary["tracing_overhead_ms"].items():
            print(f"{k:28s} {v:+.2f}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
