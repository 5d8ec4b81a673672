#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one result line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <hb_select|pipeline_ops>
                           --seed <n> --seconds <s> --trace <0|1>
                           [--scale <sf>]

Builds the engine and the runner from source on first use (sbt, under
perfbench/; later runs reuse the build while no source changed),
generates the seeded inputs, runs the workload in one JVM, checks every
operation's output, and prints one JSON line as the last line of
standard output:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. Everything a run writes stays under .bench_build/ in the checkout;
the full record of each run (host, conf, seed, every pass) goes to
.bench_build/results/. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("hb_select", "pipeline_ops")
DEFAULT_SCALE = 0.002
RUN_LIMIT_S = 170.0
BUILD_LIMIT_S = 840.0

sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def prepare():
    for d in ("runs", "results", "tmp", "spark-local"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for base in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, base)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    for f in ("build.sbt", "perfbench/build.sbt",
              "perfbench/project/build.properties"):
        if os.path.exists(os.path.join(ROOT, f)):
            out.append(f)
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        out += [os.path.join("project", f) for f in os.listdir(proj)
                if f.endswith((".sbt", ".scala", ".properties"))]
    return sorted(out)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode() + b"\0")
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + runner once per source state; returns the classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, limit=BUILD_LIMIT_S)
    with open(log) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if not ln.startswith("[") and "perfbench" in ln and ":" in ln), None)
    if rc != 0 or cp is None:
        fail(3, f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(fp)
    return cp


def run_bounded(cmd, cwd, env, stdout, limit):
    """Runs `cmd` in its own process group; kills the group at `limit`."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def run_java(classpath, args, log, limit):
    """Runs the benchmark's main class; its output goes to `log`."""
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # a fixed heap: no resizing, so peak RSS does not depend on
           # when the collector decided to grow it
           ["-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
            "-cp", classpath, "perfbench.Main",
            "--local-dir", os.path.join(BUILD, "spark-local")] + args)
    with open(log, "w") as fh:
        return run_bounded(cmd, cwd=ROOT, env=dict(os.environ), stdout=fh, limit=limit)


def inputs(seed, scale):
    """The seeded tables, generated once per (seed, scale)."""
    d = os.path.join(BUILD, "data", f"seed{seed}_sf{scale}")
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed, scale)
        os.replace(tmp, d)
    return d


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--scale", type=float, default=DEFAULT_SCALE,
                    help="input scale factor (the smoke test uses a smaller one)")
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(2, f"not a checkout of the engine ({need} missing under {ROOT})")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    prepare()

    phases = {}
    t = time.monotonic()
    classpath = build()
    data = inputs(a.seed, a.scale)
    phases["build_and_inputs_s"] = time.monotonic() - t

    tag = f"{a.workload}-seed{a.seed}-sf{a.scale}-trace{a.trace}"
    out = os.path.join(BUILD, "runs", tag + ".json")
    outputs = out + ".outputs"
    for stale in (out, out + ".trace.json"):
        if os.path.exists(stale):
            os.remove(stale)
    shutil.rmtree(outputs, ignore_errors=True)
    log = os.path.join(BUILD, "runs", tag + ".log")
    t = time.monotonic()
    rc = run_java(classpath, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", data, "--out", out],
        log, limit=max(10.0, RUN_LIMIT_S - (time.monotonic() - t_start)))
    phases["jvm_s"] = time.monotonic() - t
    if rc != 0 or not os.path.exists(out):
        fail(4, f"workload run failed (exit {rc}); see {log}")
    with open(out) as fh:
        rec = json.load(fh)

    t = time.monotonic()
    verdict = checks.check(a.workload, a.seed, a.scale, rec, data, outputs)
    phases["checks_s"] = time.monotonic() - t
    measured = rec["per_layer"] if a.trace else rec["end_to_end"]
    declared = spec["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in declared
               if not isinstance(measured.get(m["name"]), (int, float))]
    if missing:
        fail(5, f"run did not measure {missing}; see {log}")
    line = {
        "correct": verdict["failed"] == 0,
        "attempted": verdict["attempted"],
        "failed": verdict["failed"],
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
                    for m in declared},
    }
    record = dict(rec, checks=verdict, result=line, scale=a.scale, phases=phases)
    print("perfbench: " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()),
          file=sys.stderr)
    with open(os.path.join(BUILD, "results", tag + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    for problem in verdict["problems"][:20]:
        print(f"perfbench: check failed: {problem}", file=sys.stderr)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
