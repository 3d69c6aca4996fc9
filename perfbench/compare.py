#!/usr/bin/env python3
"""Compare the benchmark on a parent and a change, or measure its spread.

    python3 perfbench/compare.py pairs PARENT_DIR CHANGE_DIR [--pairs 10] [--seed 100]
    python3 perfbench/compare.py spread DIR [--runs 10] [--seed 1]

Each DIR is a checkout holding BENCHMARK.json and perfbench/. Every run
is `python3 perfbench/run.py --workload W --seed S --seconds N --trace 0`
inside that checkout, with N the run_seconds of the parent's
BENCHMARK.json, so both sides measure for the same time.

pairs: for each workload, run pair i on seed S+i on both sides, the
parent first in even pairs and the change first in odd ones. One row per
(workload, end-to-end metric) gives each side's median and quartiles,
the change's wins, and a verdict:
  improved    the change wins at least 9/10 of the pairs (ties count for
              neither side) and the medians differ by more than the
              parent's interquartile range, in the better direction;
  unresolved  otherwise, when the parent's interquartile range exceeds
              the metric's bound (as a share of its median), unless every
              change run reads better than every parent run;
  worse       otherwise, when the change's median is worse than the
              parent's by more than the bound;
  unchanged   otherwise.
An "improved" row becomes "unresolved" when the change failed more calls
than the parent, and a metric some run did not report reads "failed runs".
Runs with failed calls, and seeds whose content hashes differ between
the two sides, are listed after the table.

spread: run each workload on seeds S..S+runs-1 and report, per
end-to-end metric, the median and the interquartile range as a share of
the median next to the metric's bound.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys


def load_spec(d):
    with open(os.path.join(d, "BENCHMARK.json")) as f:
        return json.load(f)


def run(d, workload, seed, seconds):
    """One run in checkout `d`: its result line and the content hashes of
    its run record."""
    before = set(glob.glob(os.path.join(d, "perfbench", ".results", "*.json")))
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    res = subprocess.run(cmd, cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = res.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(res.stderr[-2000:])
        raise SystemExit(f"{d}: {workload} seed {seed} printed no result (exit {res.returncode})")
    new = sorted(set(glob.glob(os.path.join(d, "perfbench", ".results", "*.json"))) - before)
    hashes = {}
    if new:
        with open(new[-1]) as f:
            hashes = json.load(f).get("hashes", {})
    print(f"  {os.path.basename(os.path.abspath(d))} {workload} seed {seed}: "
          + ", ".join(f"{k}={v['value']}" for k, v in result["metrics"].items()), file=sys.stderr)
    return result, hashes


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def verdict(metric, parent, change):
    lower = metric["better"] == "lower"

    def better(a, b):
        return a < b if lower else a > b

    n = len(parent)
    wins = sum(better(c, p) for p, c in zip(parent, change))
    p1, pm, p3 = quartiles(parent)
    _, cm, _ = quartiles(change)
    iqr = p3 - p1
    worse_by = ((cm - pm) if lower else (pm - cm)) / abs(pm) if pm else 0.0
    if wins >= 0.9 * n and abs(cm - pm) > iqr and worse_by < 0:
        v = "improved"
    elif pm and iqr / abs(pm) > metric["bound"] and not all(better(c, p) for c in change for p in parent):
        v = "unresolved"
    elif worse_by > metric["bound"]:
        v = "worse"
    else:
        v = "unchanged"
    return wins, v


def pairs(args):
    spec = load_spec(args.parent)
    seconds = spec["run_seconds"]
    rows, problems = [], []
    for w in [x["name"] for x in spec["workloads"]]:
        got = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = args.seed + i
            order = [("parent", args.parent), ("change", args.change)]
            if i % 2:
                order.reverse()
            hashes = {}
            for side, d in order:
                result, hashes[side] = run(d, w, seed, seconds)
                got[side].append(result)
                if not result["correct"] or result["failed"]:
                    problems.append(f"{side} {w} seed {seed}: {result['failed']} of {result['attempted']} calls failed")
            differ = sorted(k for k in hashes["parent"] if k in hashes["change"]
                            and hashes["parent"][k] != hashes["change"][k])
            if differ:
                problems.append(f"{w} seed {seed}: outputs differ between the sides at {', '.join(differ[:5])}")
        failed = {side: sum(r["failed"] for r in rs) for side, rs in got.items()}
        for m in spec["end_to_end"]:
            p = [r["metrics"].get(m["name"], {}).get("value") for r in got["parent"]]
            c = [r["metrics"].get(m["name"], {}).get("value") for r in got["change"]]
            if None in p or None in c:
                rows.append((w, m["name"], m["unit"], None, None, "-", "failed runs"))
                continue
            wins, v = verdict(m, p, c)
            # a gain does not count when more calls fail than at the parent
            if v == "improved" and failed["change"] > failed["parent"]:
                v = "unresolved"
            rows.append((w, m["name"], m["unit"], quartiles(p), quartiles(c), f"{wins}/{len(p)}", v))
    print(f"{'workload':10} {'metric':12} {'unit':6} {'parent median [q1, q3]':32} "
          f"{'change median [q1, q3]':32} {'wins':6} verdict")

    def fmt(q):
        return "-" if q is None else f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"

    for w, name, unit, pq, cq, wins, v in rows:
        print(f"{w:10} {name:12} {unit:6} {fmt(pq):32} {fmt(cq):32} {wins:6} {v}")
    for line in problems:
        print(f"! {line}")


def spread(args):
    spec = load_spec(args.dir)
    names = [x["name"] for x in spec["workloads"]]
    ok = True
    for w in args.workloads.split(",") if args.workloads else names:
        results = [run(args.dir, w, args.seed + i, spec["run_seconds"])[0] for i in range(args.runs)]
        bad = [r for r in results if not r["correct"]]
        if bad:
            ok = False
            print(f"! {w}: {len(bad)} of {len(results)} runs not correct")
        for m in spec["end_to_end"]:
            xs = [r["metrics"][m["name"]]["value"] for r in results
                  if r["metrics"].get(m["name"], {}).get("value") is not None]
            if len(xs) < len(results):
                ok = False
                print(f"! {w} {m['name']}: {len(results) - len(xs)} runs without a value")
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            rel = (q3 - q1) / abs(med) if med else float("inf")
            within = rel <= m["bound"]
            ok &= within
            print(f"{w:10} {m['name']:12} median {med:.5g} {m['unit']:6} spread {rel:.4f} "
                  f"bound {m['bound']} {'ok' if within else 'TOO WIDE'}")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    p = sub.add_parser("pairs")
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed", type=int, default=100)
    s = sub.add_parser("spread")
    s.add_argument("dir")
    s.add_argument("--runs", type=int, default=10)
    s.add_argument("--seed", type=int, default=1)
    s.add_argument("--workloads", help="comma-separated; default all")
    args = ap.parse_args()
    pairs(args) if args.mode == "pairs" else spread(args)


if __name__ == "__main__":
    main()
