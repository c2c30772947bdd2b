#!/usr/bin/env python3
"""Steadiness check: run the benchmark's command on every workload with
several seeds, in one or more sets of the same code, and report each
end-to-end metric's spread against its bound.

    python3 perfbench/steady.py --runs 10 --sets 2

Spread is the distance between the first and third quartile of a set's
values (`statistics.quantiles(values, n=4)`) as a share of their median;
it must stay within the metric's bound. With two
sets, each metric's second median must not be worse than the first by
more than the bound. Runs are sequential. Exits 1 if a check fails.
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


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    return result


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median)."""
    med = statistics.median(values)
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    return med, ((q3 - q1) / med if med else 0.0)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seed-base", type=int, default=1000)
    ap.add_argument("--workloads", default="", help="comma list; default all")
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_run", "steady.json"))
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    workloads = [w for w in args.workloads.split(",") if w] or [w["name"] for w in bench["workloads"]]

    report: dict = {}
    ok = True
    for w in workloads:
        sets = []
        for s in range(args.sets):
            results = []
            for i in range(args.runs):
                seed = args.seed_base + 1000 * s + i
                r = run_once(bench, w, seed)
                if not r["correct"] or r["failed"]:
                    ok = False
                results.append(r)
                vals = {k: round(v["value"], 4) for k, v in r["metrics"].items()}
                print(f"{w} set {s} seed {seed} wall {r['wall_s']:.1f}s correct={r['correct']} "
                      f"failed={r['failed']}/{r['attempted']} {vals}", flush=True)
            sets.append(results)
        report[w] = {}
        for name, m in metrics.items():
            rows = []
            for s, results in enumerate(sets):
                vals = [r["metrics"][name]["value"] for r in results]
                med, sp = spread(vals)
                rows.append({"set": s, "median": med, "spread": sp, "values": vals})
                if sp > m["bound"]:
                    ok = False
            line = " | ".join(f"set{r['set']} med {r['median']:.4g} spread {r['spread']:.3f}" for r in rows)
            shift = None
            if len(rows) > 1:
                a, b = rows[0]["median"], rows[-1]["median"]
                shift = (b - a) / a if m["better"] == "lower" else (a - b) / a
                if shift > m["bound"]:
                    ok = False
                line += f" | second worse by {shift:+.3f}"
            print(f"{w:16s} {name:28s} bound {m['bound']:.2f} | {line}", flush=True)
            report[w][name] = {"bound": m["bound"], "sets": rows, "second_worse_by": shift}
        report[w]["wall_s"] = [r["wall_s"] for results in sets for r in results]

    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
    print("steady: " + ("OK" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
