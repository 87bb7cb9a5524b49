#!/usr/bin/env python3
"""Checks the benchmark itself, not the program.

    python3 perfbench/selfcheck.py [--workloads bulk_clean,micro_dirty,crawl_ingest]

For each workload:
  - the same seed generates byte-identical inputs and identical expectations;
  - a different seed generates different inputs;
  - a planted wrong expectation is reported as a failed op, never passed.
Also checks that predictions.json names, for every per-layer metric in
BENCHMARK.json, an end-to-end metric and a workload it should move.
Exits non-zero on the first violation.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def run(*args):
    p = subprocess.run([sys.executable, RUN, *args], cwd=ROOT, text=True,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    if p.returncode != 0:
        sys.exit(f"selfcheck: run.py {' '.join(args)} failed:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check(ok, msg):
    print(("ok   " if ok else "FAIL ") + msg, flush=True)
    if not ok:
        sys.exit(1)


def check_predictions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "predictions.json")) as f:
        pred = json.load(f)
    e2e = {m["name"] for m in bench["end_to_end"]}
    workloads = {w["name"] for w in bench["workloads"]}
    layer = {m["name"] for m in bench["per_layer"]}
    check(set(pred) == layer, "predictions.json covers exactly the per-layer metrics")
    bad = [k for k, v in pred.items()
           if not v["moves"] or any(m["metric"] not in e2e or m["workload"] not in workloads
                                    for m in v["moves"])]
    check(not bad, f"every prediction names known end-to-end metrics and workloads {bad}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default="bulk_clean,micro_dirty,crawl_ingest")
    a = ap.parse_args()
    check_predictions()
    for w in a.workloads.split(","):
        d1 = run("--workload", w, "--seed", "7", "--inputs-only")["inputs_digest"]
        d2 = run("--workload", w, "--seed", "7", "--inputs-only")["inputs_digest"]
        d3 = run("--workload", w, "--seed", "8", "--inputs-only")["inputs_digest"]
        check(d1 == d2, f"{w}: seed 7 twice gives identical inputs and expectations ({d1[:12]})")
        check(d1 != d3, f"{w}: seed 8 gives different inputs ({d3[:12]})")
        r = run("--workload", w, "--seed", "7", "--seconds", "1", "--plant-wrong")
        check(not r["correct"] and r["failed"] >= 1,
              f"{w}: a planted wrong expectation fails its op "
              f"(failed {r['failed']} of {r['attempted']})")


if __name__ == "__main__":
    main()
