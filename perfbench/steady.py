"""Steadiness report: run each workload with several seeds and print,
per end-to-end metric, the median, the quartiles and the spread
(interquartile distance over the median) next to the metric's bound in
BENCHMARK.json.

    python3 perfbench/steady.py --seeds 10 [--workloads merge_batches ...]
        [--traced 2]

``--traced N`` adds N traced runs per workload and prints the tracing
overhead: the untraced median ``ops_per_s`` over the traced median.
Runs are sequential, one process at a time. The collected values are
also written to ``.perfbench_runs/results/steady-<time>.json``.
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


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    report = next(json.loads(ln[len("report "):]) for ln in lines
                  if ln.startswith("report "))
    out["report_metrics"] = report["metrics"]
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"seconds": args.seconds, "workloads": {}}
    for w in args.workloads:
        runs = []
        for s in range(args.first_seed, args.first_seed + args.seeds):
            r = one_run(w, s, args.seconds, 0)
            runs.append(r)
            print(f"{w} seed {s}: correct={r['correct']} failed={r['failed']}"
                  f"/{r['attempted']} wall={r['wall_s']:.1f}s", flush=True)
        rows = {}
        print(f"\n{w}: {len(runs)} runs")
        print(f"  {'metric':18s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
              f"{'spread':>8s} {'bound':>6s}  verdict")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            verdict = ("ok" if sp <= bound / 3 else
                       "within bound" if sp <= bound else "TOO NOISY")
            if name == "setup_s":
                verdict += " (spread not gated)"
            rows[name] = {"values": vals, "median": med, "q1": q1, "q3": q3,
                          "spread": sp, "bound": bound}
            print(f"  {name:18s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{sp:8.3f} {bound:6.2f}  {verdict}")
        # on the report line only: no bound, shown for the record
        name = "first_op_ms"
        vals = [r["report_metrics"][name]["value"] for r in runs]
        med, q1, q3, sp = spread(vals)
        rows[name] = {"values": vals, "median": med, "q1": q1, "q3": q3,
                      "spread": sp, "bound": None}
        print(f"  {name:18s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
              f"{sp:8.3f} {'-':>6s}  report line only")
        walls = [r["wall_s"] for r in runs]
        print(f"  wall per run: median {statistics.median(walls):.1f}s, "
              f"max {max(walls):.1f}s")
        entry = {"metrics": rows, "walls": walls,
                 "all_correct": all(r["correct"] for r in runs)}
        if args.traced:
            traced = [one_run(w, s, args.seconds, 1)
                      for s in range(args.first_seed,
                                     args.first_seed + args.traced)]
            t_ops = statistics.median(
                r["metrics"]["trace.ops_per_s"]["value"] for r in traced)
            u_ops = rows["ops_per_s"]["median"]
            entry["traced_ops_per_s"] = t_ops
            entry["tracing_overhead"] = u_ops / t_ops
            print(f"  tracing overhead: untraced {u_ops:.3f} ops/s vs "
                  f"traced {t_ops:.3f} ops/s ({u_ops / t_ops:.2f}x)")
        record["workloads"][w] = entry
    out = os.path.join(ROOT, ".perfbench_runs", "results",
                       f"steady-{time.strftime('%Y%m%d-%H%M%S')}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    print(f"\nwrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
