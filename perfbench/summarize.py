#!/usr/bin/env python3
"""Summarises the result records of a checkout's benchmark runs.

Usage: python3 perfbench/summarize.py [--trace 0|1] [--scale <sf>] [--out <file>]

Reads .bench_build/results/*.json and prints, per workload and metric,
the run count, median and quartiles (statistics.quantiles, n=4) and the
quartile spread as a share of the median, plus the host and session conf
of the runs (machine paths left out).
"""
import argparse
import glob
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(os.path.dirname(HERE), ".bench_build")
VOLATILE_CONF = {"spark.app.id", "spark.app.startTime", "spark.app.submitTime",
                 "spark.driver.port", "spark.driver.host", "spark.executor.id"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--scale", type=float, default=0.002)
    ap.add_argument("--out")
    a = ap.parse_args()
    values, seeds, hosts, confs, failed = {}, {}, [], {}, {}
    for f in sorted(glob.glob(os.path.join(BUILD, "results", "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if int(r["traced"]) != a.trace or r["scale"] != a.scale:
            continue
        w = r["workload"]
        seeds.setdefault(w, []).append(r["seed"])
        failed[w] = failed.get(w, 0) + r["result"]["failed"]
        # machine paths (the JVM's temp dir) stay out of the summary
        hosts.append(dict(r["host"], jvm_args=[x for x in r["host"]["jvm_args"] if "/" not in x]))
        confs[w] = {k: v for k, v in r["conf"].items()
                    if "/" not in v and k not in VOLATILE_CONF}
        for k, m in r["result"]["metrics"].items():
            values.setdefault(w, {}).setdefault(k, (m["unit"], []))[1].append(m["value"])
    summary = {"host": hosts[-1] if hosts else None, "workloads": {}}
    for w, metrics in sorted(values.items()):
        rows = {}
        for k, (unit, vs) in sorted(metrics.items()):
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
            rows[k] = {"unit": unit, "n": len(vs), "median": med, "q1": q1, "q3": q3,
                       "spread": (q3 - q1) / med if med else 0.0}
            print(f"{w:13s} {k:40s} n={len(vs):2d} median={med:10.3f} {unit:5s} "
                  f"spread={rows[k]['spread']:.3f}")
        summary["workloads"][w] = {"seeds": sorted(seeds[w]), "failed": failed[w],
                                   "conf": confs[w], "metrics": rows}
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(summary, fh, indent=1, sort_keys=True)
            fh.write("\n")


if __name__ == "__main__":
    main()
