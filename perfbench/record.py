#!/usr/bin/env python3
"""Records hb_select's selection state per seed into expected/hb_select.json.

Usage: python3 perfbench/record.py --seeds 0-31 [--scale 0.002]

One JVM runs each seed's set-up and one pass (Main --record-seeds); the
winner, params and best score of every seed are merged into the file
the correctness check reads. Run it only when the selection is meant to
change, and say so in the change that commits the new record.
"""
import argparse
import json
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import run  # noqa: E402


def seed_list(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--scale", type=float, default=run.DEFAULT_SCALE)
    a = ap.parse_args()
    seeds = seed_list(a.seeds)
    run.prepare()
    classpath = run.build()
    for s in seeds:
        run.inputs(s, a.scale)
    out = os.path.join(run.BUILD, "record.json")
    log = os.path.join(run.BUILD, "record.log")
    rc = run.run_java(classpath, [
        "--record-seeds", ",".join(map(str, seeds)), "--workload", "hb_select",
        "--data-root", os.path.join(run.BUILD, "data"), "--scale", str(a.scale),
        "--out", out], log, limit=3600)
    if rc != 0:
        run.fail(4, f"record run failed (exit {rc}); see {log}")
    with open(out) as fh:
        got = json.load(fh)
    path = checks.expected_path("hb_select")
    table = {}
    if os.path.exists(path):
        with open(path) as fh:
            table = json.load(fh)
    table.setdefault(f"sf{a.scale}", {}).update(got)
    with open(path, "w") as fh:
        json.dump(table, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"recorded {len(got)} seeds into {path}")


if __name__ == "__main__":
    main()
