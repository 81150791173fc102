#!/usr/bin/env python3
"""Self-test of the benchmark's correctness checks, at the tiny (sf0.001)
scale. For every workload: a clean run must report correct=true with no
failed op, and a run with a planted wrong answer must report
correct=false. A traced run must report every declared per-layer metric
and write its trace file.

    python3 perfbench/selftest.py          # from the repository root
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = json.load(open(os.path.join(os.getcwd(), "BENCHMARK.json")))


def run(workload, *extra, trace=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", str(trace),
           "--scale", "tiny", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=400)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"FAIL {workload} {extra}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    bad = []
    # mor_read is runnable by hand but not in BENCHMARK.json (workloads.json)
    for w in [x["name"] for x in BENCH["workloads"]] + ["mor_read"]:
        clean = run(w)
        names = {m["name"] for m in BENCH["end_to_end"]}
        if not (clean["correct"] and clean["failed"] == 0
                and set(clean["metrics"]) == names):
            bad.append(f"{w}: clean run {clean}")
        planted = run(w, "--plant-wrong")
        if planted["correct"] or planted["failed"] == 0:
            bad.append(f"{w}: planted wrong answer passed: {planted}")
        print(f"{w}: clean correct={clean['correct']} failed={clean['failed']}; "
              f"planted correct={planted['correct']} failed={planted['failed']}")
    traced = run("mor_churn", trace=1)
    names = {m["name"] for m in BENCH["per_layer"]}
    if set(traced["metrics"]) != names:
        bad.append(f"traced run metrics differ: {sorted(set(traced['metrics']) ^ names)}")
    if not os.path.exists(os.path.join(".bench_build", "traces", "mor_churn-seed7.json")):
        bad.append("traced run wrote no trace file")
    print("traced mor_churn: %d per-layer metrics" % len(traced["metrics"]))
    for b in bad:
        print("FAIL", b)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
