#!/usr/bin/env python3
"""Steadiness check: run each workload once per seed and report, for every
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median
over the runs, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1-10 [--workloads a,b] [--out FILE]

Run from the repository root. Quartiles are Python's
statistics.quantiles(values, n=4). A spread at or under a third of the
bound is marked "ok", under the bound "near", over it "OVER" (setup_s is
only compared run set against run set, so its spread is informational).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += range(int(a), int(b) + 1)
        else:
            out.append(int(part))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out", default=None, help="write the runs and spreads as JSON")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [w["name"] for w in bench["workloads"]]
    if a.workloads:
        names = a.workloads.split(",")
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"seeds": seeds(a.seeds), "run_seconds": bench["run_seconds"],
              "workloads": {}}
    for w in names:
        runs = []
        for s in report["seeds"]:
            cmd = bench["command"] + ["--workload", w, "--seed", str(s),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", a.trace]
            t0 = time.monotonic()
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            wall = time.monotonic() - t0
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            runs.append({"seed": s, "exit": p.returncode, "wall_s": round(wall, 1),
                         "result": res,
                         "info": [l for l in lines[:-1]]})
            print(f"{w} seed {s}: exit {p.returncode} wall {wall:.1f}s "
                  f"correct={res and res['correct']}", file=sys.stderr)
        spreads = {}
        ok_runs = [r["result"] for r in runs if r["result"]]
        for m in (ok_runs[0]["metrics"] if ok_runs else {}):
            vals = [r["metrics"][m]["value"] for r in ok_runs]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med] * 3
            spread = (q[2] - q[0]) / med if med else 0.0
            b = bounds.get(m)
            verdict = ("-" if b is None or m == "setup_s" else
                       "ok" if spread <= b / 3 else "near" if spread <= b else "OVER")
            spreads[m] = {"median": med, "q1": q[0], "q3": q[2],
                          "spread": round(spread, 4), "bound": b, "verdict": verdict}
            print(f"  {w:14s} {m:24s} median {med:.6g}  spread {spread:.3f}  "
                  f"bound {b}  {verdict}")
        report["workloads"][w] = {
            "runs": runs, "spreads": spreads,
            "all_correct": all(r["result"] and r["result"]["correct"] for r in runs),
            "mean_wall_s": round(statistics.mean(r["wall_s"] for r in runs), 1)}
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
