#!/usr/bin/env python3
"""Runs the benchmark on several seeds and reports how far its figures
spread, the check a set of runs must pass before its medians are
compared.

    python3 benchmark/spread.py --seeds 501-510 [--workloads W,W] [--trace 0]
                                [--log FILE] [--summarize FILE]

Run it from the repository root. For each seed it runs every workload
once (workloads interleaved, so host drift hits them alike), appends
each run's result and validity line to the log (JSON lines), and prints
per workload and end-to-end metric: the median, the spread (Q3 - Q1) /
median from `statistics.quantiles(values, n=4)`, and the bound from
BENCHMARK.json. The host probe (`host_probe_pre_ms`, a fixed piece of
pure JVM work timed before each timed section) gets the same two
figures, so host drift can be told apart from benchmark noise.
`--summarize FILE` prints the table of an earlier log without running.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(workload, seed, trace, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    rec = {"workload": workload, "seed": seed, "trace": trace, "rc": p.returncode,
           "wall_s": time.time() - t0}
    lines = p.stdout.strip().splitlines()
    for line in lines:
        if line.startswith("validity: "):
            rec["validity"] = json.loads(line[len("validity: "):])
    if p.returncode == 0 and lines:
        rec["result"] = json.loads(lines[-1])
    else:
        rec["stderr"] = p.stderr[-2000:]
    return rec


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / abs(med)


def summarize(records, spec):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    print("%-15s %-18s %5s %14s %8s %7s" % ("workload", "metric", "runs", "median", "spread", "bound"))
    for w in [x["name"] for x in spec["workloads"]]:
        rs = [r for r in records if r["workload"] == w and "result" in r and not r["trace"]]
        if not rs:
            continue
        bad = sum(1 for r in rs if not r["result"]["correct"])
        for m in bounds:
            vals = [r["result"]["metrics"][m]["value"] for r in rs if m in r["result"]["metrics"]]
            med, sp = spread(vals)
            print("%-15s %-18s %5d %14.4f %8.4f %7.4g" % (w, m, len(vals), med, sp, bounds[m]))
        for k in ("host_probe_pre_ms", "cpu_steal_frac"):
            vals = [r["validity"][k] for r in rs if k in r.get("validity", {})]
            if vals:
                med, sp = spread(vals)
                print("%-15s %-18s %5d %14.4f %8.4f %7s" % (w, k, len(vals), med, sp, "-"))
        med, sp = spread([r["wall_s"] for r in rs])
        print("%-15s %-18s %5d %14.4f %8.4f %7s" % (w, "run_wall_s", len(rs), med, sp, "-"))
        if bad:
            print("%-15s %d of %d runs not correct" % (w, bad, len(rs)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", help="e.g. 501-510 or 1,4,9")
    ap.add_argument("--workloads", help="comma-separated; default every workload")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--log", default=os.path.join(".bench_build", "spread.jsonl"))
    ap.add_argument("--summarize", metavar="FILE")
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    if a.summarize:
        summarize([json.loads(l) for l in open(a.summarize) if l.strip()], spec)
        return
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    os.makedirs(os.path.dirname(os.path.abspath(a.log)), exist_ok=True)
    records = []
    for seed in seeds(a.seeds):
        for w in workloads:
            rec = run_one(w, seed, a.trace, spec["run_seconds"])
            records.append(rec)
            with open(a.log, "a") as fh:
                fh.write(json.dumps(rec) + "\n")
            m = rec.get("result", {}).get("metrics", {})
            print("%s seed %d rc %d %.1f s: %s" % (w, seed, rec["rc"], rec["wall_s"], " ".join(
                "%s=%.4g" % (k, v["value"]) for k, v in m.items())), flush=True)
    summarize(records, spec)


if __name__ == "__main__":
    main()
