#!/usr/bin/env python3
"""Run the benchmark over several seeds and report how steady it is.

Usage (from the repository root):
    python3 perfbench/steadiness.py --workloads etl_backfill,gates \
        --seeds 1-10 [--out runs.json]

For every workload and end-to-end metric it prints the median and the
quartiles over the seeds (statistics.quantiles(values, n=4)) and the spread,
(q3 - q1) / median, next to the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "n": len(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = {}
    for w in a.workloads.split(","):
        runs[w] = []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"], capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"{w} seed {s} failed:\n{p.stderr[-3000:]}")
            res = json.loads(p.stdout.strip().splitlines()[-1])
            res["seed"], res["run_wall_s"] = s, time.time() - t0
            steady = re.search(r"steady: (\d+) ops over (\d+) pass", p.stdout)
            res["steady_ops"], res["steady_passes"] = int(steady[1]), int(steady[2])
            runs[w].append(res)
            print(f"{w} seed {s}: {res['run_wall_s']:.1f} s, correct={res['correct']} " +
                  " ".join(f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()), flush=True)
    report = {}
    for w, rs in runs.items():
        report[w] = {}
        for m in bounds:
            st = summarize([r["metrics"][m]["value"] for r in rs])
            report[w][m] = st
            print(f"{w:<14} {m:<12} median {st['median']:12.4f}  q1 {st['q1']:12.4f}  "
                  f"q3 {st['q3']:12.4f}  spread {st['spread']:.4f}  bound {bounds[m]}")
        walls = [r["run_wall_s"] for r in rs]
        report[w]["run_wall_s"] = summarize(walls)
        report[w]["steady_ops_per_run"] = sorted({r["steady_ops"] for r in rs})
        report[w]["failed"] = sum(r["failed"] for r in rs)
        report[w]["attempted"] = sum(r["attempted"] for r in rs)
        print(f"{w:<14} run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s; "
              f"op_tail_s samples per run {report[w]['steady_ops_per_run']}; "
              f"{report[w]['failed']} of {report[w]['attempted']} operations failed")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"runs": runs, "summary": report}, f, indent=1)


if __name__ == "__main__":
    main()
