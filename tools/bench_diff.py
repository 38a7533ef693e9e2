#!/usr/bin/env python3
"""Compare two bench JSON artifacts (raw log or archived {tail,...} JSON).

Usage: bench_diff.py A B [--top N]
Accepts either a bench log (finds the per-query JSON line) or an archived
BENCH_*.json whose "tail"/"parsed" holds the line. Prints per-query
ratio B/A sorted by |log ratio| descending, plus pin-gate drift.
"""
import json, math, re, sys

PINS = ["q1_agg", "q5_join", "semi_anti", "setops", "q18_topk", "dedup_jaccard"]


def load(path):
    txt = open(path, errors="replace").read()
    # archived artifact?
    try:
        j = json.loads(txt)
        if isinstance(j, dict) and "tail" in j:
            txt = j["tail"]
        elif isinstance(j, dict) and "queries" in j:
            return j
    except json.JSONDecodeError:
        pass
    best = None
    for line in txt.splitlines():
        line = line.strip()
        if line.startswith("{") and '"queries"' in line:
            try:
                best = json.loads(line)
            except json.JSONDecodeError:
                continue
    if best is None:
        # totals line + separate queries line variants
        for line in txt.splitlines():
            line = line.strip()
            if line.startswith("{") and '"metric"' in line:
                try:
                    j = json.loads(line)
                    if "queries" in j:
                        best = j
                except json.JSONDecodeError:
                    continue
    if best is None:
        # truncated tail: reconstruct per-query pairs by regex from the
        # line that mentions op_ entries (the per-query line)
        cand = [l for l in txt.splitlines() if '"op_sink_delta_cow"' in l]
        if cand:
            pairs = re.findall(r'"([A-Za-z0-9_]+)":(-?[0-9.]+)', cand[-1])
            qs = {k: float(v) for k, v in pairs
                  if k not in ("value", "sf", "samples", "op_total",
                               "noise_index", "total_scaled",
                               "op_total_scaled", "canary")}
            best = {"queries": qs, "value": None, "noise_index": None}
    if best is None:
        sys.exit(f"no per-query JSON line found in {path}")
    return best


def main():
    a, b = load(sys.argv[1]), load(sys.argv[2])
    qa, qb = a["queries"], b["queries"]
    common = [k for k in qa if k in qb and qa[k] > 0 and qb[k] > 0]
    if not common:
        sys.exit(f"{sys.argv[1]} and {sys.argv[2]} share no timed queries")
    rows = sorted(common, key=lambda k: abs(math.log(qb[k] / qa[k])),
                  reverse=True)
    geo = math.exp(sum(math.log(qb[k] / qa[k]) for k in common) / len(common))
    print(f"A total={a.get('value')} noise={a.get('noise_index')}  "
          f"B total={b.get('value')} noise={b.get('noise_index')}")
    print(f"common={len(common)} geomean B/A={geo:.3f}")
    pins = [k for k in PINS if k in common]
    if pins:
        pr = sorted(qb[k] / qa[k] for k in pins)
        mid = len(pr) // 2
        med = pr[mid] if len(pr) % 2 else (pr[mid - 1] + pr[mid]) / 2
        print("pin drift B/A: " + " ".join(
            f"{k}={qb[k]/qa[k]:.2f}" for k in PINS if k in common) +
            f"  median={med:.2f}")
    print(f"{'query':42s} {'A':>8s} {'B':>8s} {'B/A':>6s}")
    for k in rows:
        print(f"{k:42s} {qa[k]:8.3f} {qb[k]:8.3f} {qb[k]/qa[k]:6.2f}")


if __name__ == "__main__":
    main()
