"""Steadiness report: run one workload k times and summarise each metric.

    python3 perfbench/steady.py --workload crud --runs 10 [--first-seed 1]

Each run gets its own seed (first-seed, first-seed+1, ...). For every
end-to-end metric the report prints the median, the first and third
quartile (``statistics.quantiles(values, n=4)``), the spread
(q3 - q1) / median, and the bound from BENCHMARK.json; a spread at or
above a third of the bound is flagged. For every reported percentile it
also prints the ratio between the samples ranked just above and just
below it, as the median and maximum over the runs: a ratio well above 1
means the percentile sits on the boundary between two modes of the
latency distribution, so small changes in the mix move it a lot.

Runs are sequential; run nothing else on the machine meanwhile.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import quartiles, relative_spread  # noqa: E402


def run_once(workload: str, seed: int, seconds: float, detail_path: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
           "--detail", detail_path]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run failed: seed {seed}, exit {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    with open(detail_path) as fh:
        result["detail"] = json.load(fh)
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    bench_tmp = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(bench_tmp, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="steady-", dir=bench_tmp)
    results = []
    try:
        for i in range(args.runs):
            seed = args.first_seed + i
            t = time.perf_counter()
            r = run_once(args.workload, seed, seconds, os.path.join(scratch, f"{seed}.json"))
            r["seed"], r["wall_s"] = seed, time.perf_counter() - t
            results.append(r)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"seed {seed}: {r['wall_s']:.0f} s correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        if not os.listdir(bench_tmp):
            os.rmdir(bench_tmp)

    print(f"\n{args.workload}: {len(results)} runs of {seconds:g} s")
    print(f"{'metric':24} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7} {'bound':>6}")
    ok = True
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = quartiles(values)
        spread = relative_spread(values)
        bound = bounds.get(name)
        flag = ""
        if bound is not None and name != "setup_s" and spread >= bound / 3:
            flag, ok = "  <-- spread >= bound/3", False
        print(f"{name:24} {med:10.4g} {q1:10.4g} {q3:10.4g} {spread:7.3f} "
              f"{bound if bound is not None else '-':>6}{flag}")
    print("\npercentile boundary ratio (sample above / sample below), median and max over runs")
    for name in results[0]["detail"]["boundary_ratio"]:
        ratios = sorted(r["detail"]["boundary_ratio"][name] for r in results)
        print(f"{name:24} {ratios[len(ratios) // 2]:8.3f} {ratios[-1]:8.3f}")
    bad = [r["seed"] for r in results if not r["correct"] or r["failed"]]
    if bad:
        print(f"\nseeds with failed checks: {bad}")
    return 0 if ok and not bad else 1


if __name__ == "__main__":
    sys.exit(main())
