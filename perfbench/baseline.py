"""Baseline: run every workload over a range of seeds and summarise.

    python3 perfbench/baseline.py --seeds 1-10 [--workloads a,b] [--trace]
        [--out perfbench/results/baseline-4vcpu.json]

One ``run.py`` process per (workload, seed), one at a time. Prints one line
per workload with docs_per_s, setup_s, worker_rss_peak_mb and
doc_error_rate (median with quartiles, each with its unit) and writes the
full summary as JSON: per metric the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread, i.e. the distance
between the quartiles as a share of the median. With ``--trace`` it also
makes one traced run per workload (first seed) and records its per-layer
metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ALL_WORKLOADS = ("mixed_sink", "giant_tail", "mixed_checkpoint")
# never run for a baseline or while tuning: the seed to confirm a claim on
HELD_OUT_SEED = 4242


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(int(trace))]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n"
                           f"{proc.stdout}\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med,) * 3
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values),
            "values": values}


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(ALL_WORKLOADS))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    seeds = _seeds(args.seeds)
    summary: dict = {
        "host": {"cpus": len(os.sched_getaffinity(0)),
                 "machine": platform.machine(),
                 "python": platform.python_version()},
        "run_seconds": args.seconds,
        "seeds": seeds,
        "held_out_seed": HELD_OUT_SEED,
        "workloads": {},
    }
    for wl in args.workloads.split(","):
        results = []
        for seed in seeds:
            results.append(run_once(wl, seed, args.seconds, trace=False))
            print(f"# {wl} seed {seed}: " + json.dumps(results[-1]["metrics"]),
                  file=sys.stderr)
        attempted = sum(r["attempted"] for r in results)
        failed = sum(r["failed"] for r in results)
        metrics = {
            name: {"unit": results[0]["metrics"][name]["unit"],
                   **summarise([r["metrics"][name]["value"] for r in results])}
            for name in results[0]["metrics"]
        }
        entry = {"metrics": metrics, "attempted": attempted, "failed": failed,
                 "doc_error_rate": failed / attempted,
                 "correct": all(r["correct"] for r in results)}
        if args.trace:
            entry["per_layer"] = run_once(wl, seeds[0], args.seconds,
                                          trace=True)["metrics"]
        summary["workloads"][wl] = entry
        cells = [f"{n} {m['median']:.4g} {m['unit']} "
                 f"(q1 {m['q1']:.4g}, q3 {m['q3']:.4g}, spread {m['spread']:.1%})"
                 for n, m in metrics.items()]
        print(f"{wl}: " + "; ".join(cells)
              + f"; doc_error_rate {entry['doc_error_rate']:.6f} "
                f"({failed} of {attempted} docs)")
    if args.out:
        with open(os.path.join(ROOT, args.out), "w") as f:
            json.dump(summary, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
