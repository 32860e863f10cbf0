#!/usr/bin/env python3
"""Checks that the benchmark is steady: runs each workload once per seed and
reports, for every end-to-end metric, the median and the interquartile
range as a share of the median, against the metric's bound in
BENCHMARK.json. With --overhead it also makes one traced run per seed and
reports the traced ops' wall time against the untraced `pass_s`.

    python3 perfbench/stability.py [--workloads medallion,queries]
        [--seeds 1-10] [--overhead]

Run from the repository root. Exits 1 if a spread is over its bound or any
run failed.
"""
import argparse
import json
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(workload, seed, seconds, trace):
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds),
                          "--trace", str(trace)],
                         capture_output=True, text=True, check=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main():
    bench = json.load(open("BENCHMARK.json"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    report = {}
    for w in a.workloads.split(","):
        results = []
        for s in seeds(a.seeds):
            r = run(w, s, bench["run_seconds"], 0)
            ok &= r["correct"] and r["failed"] == 0
            results.append(r)
            print(w, s, json.dumps({k: round(v["value"], 4)
                                    for k, v in r["metrics"].items()}), file=sys.stderr)
        rows = {}
        for name, bound in bounds.items():
            med, iqr = spread([r["metrics"][name]["value"] for r in results])
            rows[name] = {"median": round(med, 4), "iqr_frac": round(iqr, 4), "bound": bound}
            ok &= iqr <= bound
        if a.overhead:
            traced = [run(w, s, bench["run_seconds"], 1)["metrics"]["trace.op_wall_s"]["value"]
                      for s in seeds(a.seeds)]
            untraced = statistics.median(r["metrics"]["pass_s"]["value"] for r in results)
            rows["trace_overhead_frac"] = round(statistics.median(traced) / untraced - 1, 4)
        report[w] = rows
    print(json.dumps(report, indent=1))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
