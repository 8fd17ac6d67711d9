#!/usr/bin/env python3
"""Steadiness report for the benchmark.

    python3 graftbench/steadiness.py [--runs 10] [--sets 2]
        [--workloads saga,serving] [--seconds S]

Runs every workload `--runs` times per set, each run with another seed,
for `--sets` sets (set s uses seeds s*1000+1 ... s*1000+runs). For each
end-to-end metric it prints the median, the quartiles and the spread
(interquartile range / median) of each set next to the metric's bound,
the drift of the second set's median against the first's, and the host
steal and load of every run. Spreads are taken as statistics.quantiles
(n=4) gives them. The full report is written to
.bench_build/steadiness.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 3:
        return {"seed": seed, "error": p.stderr[-2000:] or p.stdout[-2000:]}
    last = json.loads(lines[-1])
    details = json.loads(lines[-2])
    return {"seed": seed, "correct": last["correct"],
            "metrics": {k: v["value"] for k, v in last["metrics"].items()},
            "host": {k: details["metrics_all"][k]["value"]
                     for k in ("host.steal_frac", "host.load1")},
            "run_s": details["details"].get("run_s"),
            "details": details["details"]}


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default=None,
                    help="comma-separated; default: the workloads of BENCHMARK.json")
    ap.add_argument("--seconds", type=float, default=None)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = a.seconds or spec["run_seconds"]
    workloads = a.workloads or ",".join(w["name"] for w in spec["workloads"])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    ok = True
    for w in workloads.split(","):
        sets = []
        for s in range(1, a.sets + 1):
            runs = []
            for i in range(1, a.runs + 1):
                r = run(w, s * 1000 + i, seconds)
                runs.append(r)
                host = r.get("host", {})
                print(f"{w} set {s} seed {r['seed']}: "
                      + ("ERROR" if "error" in r else
                         f"correct={r['correct']} run={r['run_s']:.1f}s "
                         f"steal={host.get('host.steal_frac', 0):.4f} "
                         f"load1={host.get('host.load1', 0):.2f}"), flush=True)
            sets.append(runs)
        report[w] = {"sets": sets, "metrics": {}}
        for name, bound in bounds.items():
            per_set = []
            for runs in sets:
                vals = [r["metrics"][name] for r in runs if "metrics" in r]
                per_set.append(summary(vals) if len(vals) >= 2 else None)
            report[w]["metrics"][name] = per_set
            cells = []
            for st in per_set:
                if st is None:
                    cells.append("n/a")
                    ok = False
                    continue
                flag = "" if st["spread"] <= bound / 3 else \
                    (" (over bound/3)" if st["spread"] <= bound else " (OVER BOUND)")
                if st["spread"] > bound:
                    ok = False
                cells.append(f"median {st['median']:.4g} q1 {st['q1']:.4g} "
                             f"q3 {st['q3']:.4g} spread {st['spread']:.3f}{flag}")
            drift = ""
            if len(per_set) >= 2 and all(per_set[:2]):
                d = per_set[1]["median"] / per_set[0]["median"] - 1
                drift = f" | drift {d:+.3f}"
                if abs(d) > bound:
                    ok = False
                    drift += " (OVER BOUND)"
            print(f"  {w:8s} {name:15s} bound {bound:.2f} | " +
                  " | ".join(cells) + drift, flush=True)
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "steadiness.json"), "w") as f:
        json.dump(report, f, indent=1)
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
