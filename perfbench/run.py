#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload ann --seed 1 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark when their sources changed
(perfbench/build.py), then runs the workload in one JVM with a local
Spark session on every core. Inputs are generated from --seed, the loop
measures for --seconds (default: run_seconds of BENCHMARK.json), and
every call's output is checked. Each metric
is printed as `name value unit`, and the last line of stdout is the
result: {"correct", "attempted", "failed", "metrics"}. --trace 0 gives
the end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones.
The exit code is 0 only when every call passed its checks.

The full run record (failures, sample counts, content hashes) and, when
traced, the spans are kept under perfbench/.results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 170
# Spark on JDK 17 needs these when a session starts outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(msg, file=sys.stderr)
    sys.exit(2)


def run_jvm(cmd, log_path):
    """Run the JVM in its own process group; kill the group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT, start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def main():
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="check the seeded input generators")
    args = ap.parse_args()

    try:
        classes = build.ensure_built()
        jars = build.spark_jars()
    except (OSError, RuntimeError) as e:
        fail(f"cannot build the benchmark: {e}")
    classpath = os.pathsep.join([classes] + jars)

    if args.selftest:
        res = subprocess.run([build.java(), "-XX:-UsePerfData", "-cp", classpath, "perfbench.Main", "--selftest", "1"])
        sys.exit(res.returncode)

    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        fail(f"--workload must be one of {', '.join(names)}")
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(HERE, ".work", tag)
    results = os.path.join(HERE, ".results")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    record_path = os.path.join(results, tag + ".json")
    # -XX:-UsePerfData: the JVM would otherwise write its counters outside the checkout
    cmd = [build.java(), "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss8m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", record_path]
    if args.trace:
        cmd += ["--spans", os.path.join(results, tag + ".spans.jsonl")]
    log_path = os.path.join(results, tag + ".log")
    try:
        code = run_jvm(cmd, log_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None or code != 0 or not os.path.exists(record_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"workload {args.workload} did not finish (exit {code}, timeout {JVM_TIMEOUT_S}s); log: {log_path}")
    os.remove(log_path)

    with open(record_path) as f:
        rec = json.load(f)
    got = rec["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    extra = sorted(set(got) - {m["name"] for m in wanted})
    correct = bool(rec["correct"]) and not missing and not extra
    for line in rec["failures"]:
        print(f"FAILED {line}", file=sys.stderr)
    if missing or extra:
        print(f"metrics missing {missing}, unexpected {extra}", file=sys.stderr)
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
            print(f"{m['name']} {got[m['name']]} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": rec["attempted"], "failed": rec["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
