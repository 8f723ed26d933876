#!/usr/bin/env python3
"""Steadiness mode: run one workload several times, each with another
seed, and print every metric's median, quartiles and quartile spread
(``(q3 - q1) / median``) against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload crawl_text --runs 10
    python3 perfbench/steady.py --workload skew_hostile --runs 5 --trace-runs 2

With ``--trace-runs N`` it also makes N traced runs and prints the
tracing overhead: median traced ``trace.job_s`` minus median untraced
``job_s``. Runs are sequential; each is a fresh ``run.py`` process.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    steal = re.search(r"host steal in timed window ([0-9.]+)%", p.stdout)
    result["steal"] = float(steal.group(1)) if steal else float("nan")
    return result


def summarize(values: dict[str, list[float]], bounds: dict[str, float]):
    rows = []
    for name, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (
            med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        rows.append((name, med, q1, q3, spread, bounds.get(name)))
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--trace-runs", type=int, default=0)
    args = ap.parse_args(argv)

    s = spec()
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    results = []
    for k in range(args.runs):
        r = run_once(args.workload, args.seed0 + k, s["run_seconds"], 0)
        results.append(r)
        print(f"seed {args.seed0 + k}: correct={r['correct']} "
              f"failed={r['failed']}/{r['attempted']} "
              f"steal={r['steal']:.1f}% " + " ".join(
                  f"{n}={v['value']:.4g}" for n, v in r["metrics"].items()),
              flush=True)
    traced = [run_once(args.workload, args.seed0 + args.runs + k,
                       s["run_seconds"], 1) for k in range(args.trace_runs)]

    values: dict[str, list[float]] = {}
    for r in results:
        for n, v in r["metrics"].items():
            values.setdefault(n, []).append(v["value"])
    print(f"\n{args.workload}: {args.runs} runs, seeds {args.seed0}.."
          f"{args.seed0 + args.runs - 1}")
    print(f"{'metric':<22}{'median':>12}{'q1':>12}{'q3':>12}"
          f"{'spread':>9}{'bound':>7}  verdict")
    for name, med, q1, q3, spread, bound in summarize(values, bounds):
        verdict = ""
        if bound is not None:
            verdict = ("steady (< bound/3)" if spread < bound / 3 else
                       "within bound" if spread <= bound else "TOO NOISY")
            if name == "setup_s":
                verdict += " (spread exempt)"
        print(f"{name:<22}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}"
              f"{spread:>9.3f}{bound if bound is not None else '':>7}  "
              f"{verdict}")
    if traced:
        tj = statistics.median(r["metrics"]["trace.job_s"]["value"]
                               for r in traced)
        uj = statistics.median(values["job_s"])
        print(f"tracing overhead: {tj - uj:+.3f} s on job_s "
              f"({tj:.3f} traced vs {uj:.3f} untraced)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
