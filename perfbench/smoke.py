#!/usr/bin/env python3
"""Smoke self-test of the benchmark at a tiny scale.

Usage (from the root of a checkout): python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json end to end at scale 0.001, once
untraced and once traced, and checks that each run exits 0 and prints a
result line with the contract's keys, no failed operation, and exactly
the metrics BENCHMARK.json declares, with their units. Exits 1 on the
first problem.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.001"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            declared = {m["name"]: m["unit"]
                        for m in spec["per_layer" if trace else "end_to_end"]}
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"],
                 "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", SCALE],
                cwd=ROOT, capture_output=True, text=True, timeout=900)
            tag = f"{w['name']} trace={trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr.strip()[-500:]}")
                continue
            line = json.loads(p.stdout.strip().splitlines()[-1])
            if set(line) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: keys {sorted(line)}")
            if not (line["correct"] and line["failed"] == 0 and line["attempted"] >= 1):
                problems.append(f"{tag}: correct={line['correct']} failed={line['failed']} "
                                f"attempted={line['attempted']}")
            got = {k: v["unit"] for k, v in line["metrics"].items()}
            if got != declared:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(declared) - set(got))}, "
                                f"extra {sorted(set(got) - set(declared))}")
            bad = [k for k, v in line["metrics"].items()
                   if not isinstance(v["value"], (int, float))]
            if bad:
                problems.append(f"{tag}: non-numeric values {bad}")
            print(f"ok {tag}" if not problems else f"checked {tag}", flush=True)
    for p in problems:
        print(f"FAIL {p}")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
