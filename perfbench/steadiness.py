"""Measure the run-to-run spread of every end-to-end metric.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads a,b] [--out FILE]

Runs ``run.py`` once per seed and workload, one run at a time, with
``run_seconds`` from ``BENCHMARK.json``. For each metric it prints the
median over the runs, the quartile spread ``(Q3 - Q1) / median`` from
``statistics.quantiles(values, n=4)`` and the bound from
``BENCHMARK.json``. ``--out`` also writes every run's result as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--out")
    args = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs: dict[str, list[dict]] = {}
    for wl in args.workloads.split(","):
        for seed in args.seeds:
            cmd = bench["command"] + ["--workload", wl, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t = time.perf_counter()
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=True).stdout
            wall = time.perf_counter() - t
            lines = out.splitlines()
            result, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
            runs.setdefault(wl, []).append({"seed": seed, "wall_s": wall, "result": result, "detail": detail})
            print(f"{wl} seed {seed}: wall={wall:.1f}s correct={result['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
        print(f"\n{wl}: metric, median, spread, bound")
        for name, bound in bounds.items():
            values = [r["result"]["metrics"][name]["value"] for r in runs[wl]]
            print(f"  {name:24s} {statistics.median(values):12.4f} {spread(values):7.3f} {bound:6.3f}")
        print()
    walls = [statistics.mean(r["wall_s"] for r in rs) for rs in runs.values()]
    n_wl = len(bench["workloads"])
    print(f"mean run wall by workload: {[round(w, 1) for w in walls]}; "
          f"{4 + 22 * n_wl} runs of the mean take {(4 + 22 * n_wl) * statistics.mean(walls):.0f} s")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(runs, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
