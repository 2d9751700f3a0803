#!/usr/bin/env python3
"""Compare a parent commit's benchmark results with a change's.

Collect alternating pairs (each side a checkout of the repository):

    python3 perfbench/compare.py run --parent ../parent --change . --pairs 10 --out pairs.jsonl

Judge collected results, one row per (workload, end-to-end metric):

    python3 perfbench/compare.py report pairs.jsonl

The rule:
- at least 10 pairs, alternating which side runs first; both sides of a
  pair run with the same seed;
- "better" needs the change to win at least 9 in 10 pairs (ties count for
  neither) and the medians to differ by more than the parent's spread,
  the distance between its first and third quartiles;
- when that spread, as a share of the parent's median, exceeds the
  metric's bound, the row is "unresolved", unless every change run reads
  better than every parent run;
- otherwise "worse" when the change's median is worse than the parent's
  by more than the bound, else "same".
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_PAIRS = 10
WIN_SHARE = 0.9


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def judge(parent, change, better, bound):
    """parent[i] and change[i] are pair i's values of one metric."""
    assert len(parent) == len(change) and parent, "need paired values"
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    spread = p3 - p1
    rel_spread = spread / abs(pm) if pm else float("inf")
    gain = sign * (cm - pm)  # positive when the change is better
    n = len(parent)
    all_better = all(sign * (c - p) > 0 for c in change for p in parent)
    if n >= MIN_PAIRS and wins >= WIN_SHARE * n and gain > spread:
        verdict = "better"
    elif rel_spread > bound:
        verdict = "better" if all_better else "unresolved"
    elif -gain > bound * abs(pm):
        verdict = "worse"
    else:
        verdict = "same"
    if n < MIN_PAIRS and verdict == "same":
        verdict = "same (too few pairs)"
    return {"verdict": verdict, "pairs": n, "wins": wins,
            "parent": [p1, pm, p3], "change": [c1, cm, c3],
            "spread": spread, "rel_spread": rel_spread}


def load_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def run_pairs(args):
    spec = load_spec()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    seconds = args.seconds or spec["run_seconds"]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(args.out, "a") as out:
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for w in workloads:
                for side in order:
                    cmd = [sys.executable, os.path.join(sides[side], "perfbench", "run.py"),
                           "--workload", w, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
                    p = subprocess.run(cmd, cwd=sides[side], capture_output=True, text=True)
                    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
                    if p.returncode != 0 or not last.startswith("{"):
                        sys.stderr.write(p.stderr[-2000:])
                        sys.exit(f"{side} run failed: workload {w}, seed {seed}")
                    rec = {"side": side, "pair": i, "workload": w, "seed": seed, **json.loads(last)}
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    print(f"pair {i} {w} {side}: correct={rec['correct']}", file=sys.stderr)


def report(args):
    spec = load_spec()
    recs = [json.loads(line) for path in args.files for line in open(path) if line.strip()]
    rows = []
    for w in sorted({r["workload"] for r in recs}):
        by = {s: {r["pair"]: r for r in recs if r["workload"] == w and r["side"] == s}
              for s in ("parent", "change")}
        pairs = sorted(set(by["parent"]) & set(by["change"]))
        if not pairs:
            continue
        incorrect = sorted({s for s in by for i in pairs if not by[s][i]["correct"]})
        if incorrect:
            print(f"{w}: incorrect results on {incorrect}", file=sys.stderr)
        for m in spec["end_to_end"]:
            pv = [by["parent"][i]["metrics"][m["name"]]["value"] for i in pairs]
            cv = [by["change"][i]["metrics"][m["name"]]["value"] for i in pairs]
            rows.append((w, m["name"], m["unit"], judge(pv, cv, m["better"], m["bound"])))
    fmt = "{:<11} {:<13} {:<8} {:>30} {:>30} {:>6}  {}"
    print(fmt.format("workload", "metric", "unit", "parent q1/median/q3", "change q1/median/q3",
                     "wins", "verdict"))
    for w, name, unit, j in rows:
        q = lambda v: "/".join(f"{x:.4g}" for x in v)
        print(fmt.format(w, name, unit, q(j["parent"]), q(j["change"]),
                         f"{j['wins']}/{j['pairs']}", j["verdict"]))
    if args.json:
        with open(args.json, "w") as f:
            json.dump([{"workload": w, "metric": n, "unit": u, **j} for w, n, u, j in rows], f, indent=1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="collect alternating parent/change pairs")
    r.add_argument("--parent", required=True, help="checkout of the parent commit")
    r.add_argument("--change", required=True, help="checkout of the change")
    r.add_argument("--pairs", type=int, default=MIN_PAIRS)
    r.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    r.add_argument("--seconds", type=int, default=0, help="default: BENCHMARK.json run_seconds")
    r.add_argument("--workloads", default="", help="comma-separated; default: all")
    r.add_argument("--out", required=True, help="JSON-lines file to append results to")
    r.set_defaults(fn=run_pairs)
    p = sub.add_parser("report", help="judge collected pairs")
    p.add_argument("files", nargs="+")
    p.add_argument("--json", help="also write the rows here")
    p.set_defaults(fn=report)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
