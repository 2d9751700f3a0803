#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

Usage, from the root of a checkout of the repository:

    python3 perfbench/run.py --workload short --seed 1 --seconds 10 --trace 0

The first run builds the engine and the harness with sbt (about a minute)
under `target/` and `perfbench/target/`; later runs reuse the build until a
source file changes. Each run starts one JVM, which sets up a Spark
session, measures a closed loop for `--seconds` and checks every result. The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. A traced run also
writes a per-query ledger under `.bench_build/perfbench/ledgers/`.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_config():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def build_inputs():
    """Every file the build reads: the engine's and the harness's."""
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            paths += [os.path.join(d, f) for f in files]
    return sorted(p for p in paths if os.path.isfile(p))


def build():
    """Build with sbt unless the last build saw the same sources. Returns
    (classpath, jvm options)."""
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file, opts_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "javaopts.txt")
    os.makedirs(BUILD, exist_ok=True)
    built = (os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file)
             and all(os.path.exists(e) for e in open(cp_file).read().strip().split(os.pathsep)))
    if not built:
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "sbt.offline" not in env.get("SBT_OPTS", ""):
            env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
        # the engine's build reads the JVM heap from here
        env["SPARK_DRIVER_MEM"] = "4g"
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            try:
                rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launchFiles"],
                                    cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            fail("build failed", 3)
        shutil.copy(os.path.join(HERE, "target", "classpath.txt"), cp_file)
        shutil.copy(os.path.join(HERE, "target", "javaopts.txt"), opts_file)
        with open(stamp, "w") as f:
            f.write(digest)
    return open(cp_file).read().strip(), open(opts_file).read().split()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cfg = load_config()
    if args.workload not in cfg["workloads"]:
        fail(f"unknown workload {args.workload!r}; known: {', '.join(cfg['workloads'])}")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources here; run from the root of a checkout")
    data = os.path.abspath(os.environ.get("PERFBENCH_DATA", cfg["data_dir"]))
    if not (os.path.isdir(data) and any(f.endswith(".parquet") for f in os.listdir(data))):
        fail(f"no input tables under {data}")

    classpath, jvm_opts = build()
    w = cfg["workloads"][args.workload]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    ledger_dir = os.path.join(BUILD, "ledgers")
    os.makedirs(ledger_dir, exist_ok=True)
    ledger = os.path.join(ledger_dir, f"{tag}.json")
    result = os.path.join(work, "result.json")
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cmd = ["java", *jvm_opts, f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--data", data, "--work", work,
           "--queries", ",".join(w["queries"]), "--warm-laps", str(w["warm_laps"]),
           "--expected", os.path.join(HERE, "queries.tsv"), "--result", result, "--ledger", ledger]
    try:
        with open(log, "w") as out:
            try:
                rc = subprocess.run(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                fail(f"run exceeded {JVM_TIMEOUT_S} s; log: {log}", 4)
        if rc != 0 or not os.path.exists(result):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"run failed with exit code {rc}; log: {log}", 5)
        with open(result) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for m in res["metrics"].values():
        # a metric with no samples (every query threw) has no value
        if not math.isfinite(m["value"]):
            m["value"] = None
    print("annotations: " + json.dumps(res["annotations"], sort_keys=True))
    if args.trace:
        print(f"ledger: {os.path.relpath(ledger, ROOT)}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
