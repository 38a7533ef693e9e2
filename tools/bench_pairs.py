#!/usr/bin/env python3
"""Run alternating parent/change benchmark pairs and judge a claimed gain.

    tools/bench_pairs.py --parent DIR --change DIR --workload W \\
        --seeds 101-110 [--seconds S] [--trace 0|1] [--out runs.jsonl]
    tools/bench_pairs.py --summarize runs.jsonl [--workload W]

For each seed it runs `python3 perfbench/run.py` once in each checkout,
the parent first on even-numbered pairs and the change first on odd
ones, one run at a time. Each run's JSON line is appended to `--out` (if
given) as it finishes, so a cut session keeps what it measured, and
`--summarize` re-reads such a file.

Per metric of BENCHMARK.json (`end_to_end`, or `per_layer` with
`--trace 1`) it prints each side's median and quartiles, the change's
win count (ties count for neither side), the change's median relative to
the parent's, and two verdicts:
  gain   the change wins at least 9 of every 10 pairs and its median is
         better than the parent's by more than the parent's interquartile
         range
  bound  the change's median is no worse than the parent's by more than
         the metric's bound in BENCHMARK.json (end-to-end metrics only)
Runs that were not correct or had failed operations are listed and
their pairs left out of the comparison.
"""
import argparse
import json
import math
import os
import subprocess
import sys


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += range(int(a), int(b) + 1)
        elif part:
            out.append(int(part))
    return out


def quantile(xs, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", repr(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    line = next((l for l in reversed(p.stdout.splitlines())
                 if l.startswith("{")), None)
    if line is None:
        tail = "\n".join(p.stderr.splitlines()[-5:])
        return {"correct": False, "failed": 0, "metrics": {},
                "error": f"exit {p.returncode}, no result line: {tail}"}
    return json.loads(line)


def summarize(runs, spec, trace):
    metrics = spec["per_layer"] if trace else spec["end_to_end"]
    pairs = {}
    for r in runs:
        pairs.setdefault(r["seed"], {})[r["side"]] = r
    bad = [(s, side, r.get("error", f"correct={r['correct']} failed={r['failed']}"))
           for s, p in sorted(pairs.items()) for side, r in sorted(p.items())
           if not r["correct"] or r["failed"]]
    good = [p for s, p in sorted(pairs.items())
            if len(p) == 2 and all(r["correct"] and not r["failed"] for r in p.values())]
    print(f"{len(good)} complete pairs; seeds "
          f"{', '.join(str(s) for s in sorted(pairs))}")
    for s, side, why in bad:
        print(f"  not counted: seed {s} {side}: {why}")
    if not good:
        return 1
    need = math.ceil(0.9 * len(good))
    print(f"{'metric':34} {'parent med [q1, q3]':>28} {'change med [q1, q3]':>28} "
          f"{'delta':>7} {'wins':>6}  gain  bound")
    for m in metrics:
        name = m["name"]
        a = [p["parent"]["metrics"].get(name, {}).get("value") for p in good]
        b = [p["change"]["metrics"].get(name, {}).get("value") for p in good]
        if any(v is None for v in a + b):
            continue
        lower = m["better"] == "lower"
        wins = sum(1 for x, y in zip(a, b) if (y < x if lower else y > x))
        ma, mb = quantile(a, 0.5), quantile(b, 0.5)
        iqr = quantile(a, 0.75) - quantile(a, 0.25)
        gap = (ma - mb) if lower else (mb - ma)
        gain = wins >= need and gap > iqr
        rel = (mb - ma) / ma if ma else 0.0
        bound = m.get("bound")
        within = "" if bound is None else (
            "ok" if (rel <= bound if lower else -rel <= bound) else "WORSE")
        def fmt(xs):
            return (f"{quantile(xs, 0.5):.4g} [{quantile(xs, 0.25):.4g}, "
                    f"{quantile(xs, 0.75):.4g}]")
        print(f"{name:34} {fmt(a):>28} {fmt(b):>28} {rel:+7.1%} "
              f"{wins:>3}/{len(good):<2}  {'yes' if gain else 'no':4}  {within}")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="e.g. 101-110 or 5,7,9")
    ap.add_argument("--seconds", type=float,
                    help="run length (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append each run's result to this JSONL file")
    ap.add_argument("--summarize", metavar="JSONL",
                    help="only summarize the runs recorded in this file")
    a = ap.parse_args()

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(a.change or here, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.summarize:
        with open(a.summarize) as f:
            runs = [json.loads(l) for l in f if l.strip()]
        runs = [r for r in runs if a.workload in (None, r["workload"])
                and r.get("trace", 0) == a.trace]
        return summarize(runs, spec, a.trace)
    if not (a.parent and a.change and a.workload and a.seeds):
        ap.error("--parent, --change, --workload and --seeds are required")
    seconds = a.seconds or spec["run_seconds"]
    runs = []
    for i, seed in enumerate(seeds_of(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_once(a.parent if side == "parent" else a.change,
                         a.workload, seed, seconds, a.trace)
            r.update(seed=seed, side=side, workload=a.workload, trace=a.trace)
            runs.append(r)
            print(f"seed {seed} {side}: correct={r['correct']} "
                  f"{json.dumps({k: v['value'] for k, v in r['metrics'].items()})}",
                  flush=True)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps(r) + "\n")
    return summarize(runs, spec, a.trace)


if __name__ == "__main__":
    sys.exit(main())
