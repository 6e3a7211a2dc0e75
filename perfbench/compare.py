#!/usr/bin/env python3
"""Collect benchmark runs, and compare two sets of them.

Collect ten seeded runs of one workload into a JSON-lines file:

    python3 perfbench/compare.py run --workload etl_daily --seeds 1-10 --out parent.jsonl

(add --trace 1 for the per-layer metrics). Compare two files, each holding
runs of one commit, matched by workload and seed:

    python3 perfbench/compare.py diff parent.jsonl change.jsonl

For every workload and end-to-end metric the diff prints each side's
median and quartiles, the share of seed pairs the change won (ties count
for neither side), and a verdict:

- improved: the change won at least 9 of 10 pairs and the medians differ
  by more than the parent's own interquartile distance;
- worse: the change's median is worse than the parent's by more than the
  metric's bound in BENCHMARK.json;
- unresolved: not worse by the bound, but a side's spread (interquartile
  distance over median) is wider than the bound, and not every run of the
  change beats every run of the parent;
- within bound: otherwise.

Beside the verdicts it flags any change in the median of spark.jobs or
spark.shuffle_*_bytes between traced runs, whatever wall time did.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FLAGGED = ("spark.jobs", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def cmd_run(args):
    spec = load_spec()
    with open(args.out, "a") as fh:
        for seed in seeds(args.seeds):
            cmd = ["python3", os.path.join(HERE, "run.py"), "--workload", args.workload,
                   "--seed", str(seed), "--seconds", str(args.seconds or spec["run_seconds"]),
                   "--trace", str(args.trace)]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if proc.returncode != 0:
                print(f"seed {seed}: run failed with exit {proc.returncode}", file=sys.stderr)
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            fh.write(json.dumps({"workload": args.workload, "seed": seed,
                                 "trace": args.trace, "result": result}) + "\n")
            fh.flush()
            print(f"seed {seed}: correct={result['correct']} failed={result['failed']}",
                  file=sys.stderr)


def read_runs(path):
    """{(workload, trace): {seed: metrics}} of the runs that passed their gate."""
    runs = {}
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            r = json.loads(line)
            if not r["result"]["correct"]:
                print(f"{path}: {r['workload']} seed {r['seed']} failed its gate; left out",
                      file=sys.stderr)
                continue
            metrics = {k: v["value"] for k, v in r["result"]["metrics"].items()}
            runs.setdefault((r["workload"], r["trace"]), {})[r["seed"]] = metrics
    return runs


def verdict(a, b, better, bound):
    """Verdict of change runs `b` against parent runs `a` (paired lists)."""
    sign = 1 if better == "higher" else -1
    wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
    pairs = len(list(zip(a, b)))
    q1a, ma, q3a = quartiles(a)
    q1b, mb, q3b = quartiles(b)
    worse_by = -sign * (mb - ma) / ma if ma else 0.0
    spread = max((q3a - q1a) / ma if ma else 0.0, (q3b - q1b) / mb if mb else 0.0)
    if pairs and wins >= 0.9 * pairs and abs(mb - ma) > (q3a - q1a):
        v = "improved"
    elif worse_by > bound:
        v = "worse"
    elif spread > bound and not all(sign * (y - x) > 0 for x in a for y in b):
        v = "unresolved"
    else:
        v = "within bound"
    return v, wins, pairs, (q1a, ma, q3a), (q1b, mb, q3b)


def cmd_diff(args):
    spec = load_spec()
    parent, change = read_runs(args.parent), read_runs(args.change)
    for (workload, trace) in sorted(set(parent) & set(change)):
        pa, ch = parent[(workload, trace)], change[(workload, trace)]
        common = sorted(set(pa) & set(ch))
        if not common:
            continue
        if trace == 0:
            print(f"\n{workload}: {len(common)} seed pairs")
            print(f"  {'metric':16s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s} {'won':>6s}  verdict")
            for m in spec["end_to_end"]:
                name = m["name"]
                a = [pa[s][name] for s in common if pa[s].get(name) is not None]
                b = [ch[s][name] for s in common if ch[s].get(name) is not None]
                if not a or not b:
                    continue
                v, wins, pairs, qa, qb = verdict(a, b, m["better"], m["bound"])
                fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
                print(f"  {name:16s} {fmt(qa):>30s} {fmt(qb):>30s} {wins:>3d}/{pairs:<2d}  {v}")
        else:
            for name in FLAGGED:
                a = [pa[s].get(name, 0.0) for s in common]
                b = [ch[s].get(name, 0.0) for s in common]
                ma, mb = statistics.median(a), statistics.median(b)
                if ma != mb:
                    print(f"  FLAG {workload} {name}: median {ma:.6g} -> {mb:.6g}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="collect seeded runs of one workload")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    r.add_argument("--seconds", type=int, default=None)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    d = sub.add_parser("diff", help="compare two collected sets")
    d.add_argument("parent")
    d.add_argument("change")
    args = ap.parse_args()
    {"run": cmd_run, "diff": cmd_diff}[args.cmd](args)


if __name__ == "__main__":
    main()
