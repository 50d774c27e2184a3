#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py A.jsonl B.jsonl

Each file holds the records `run.py --record FILE` appends, one run per
line. For every workload and metric the two sets share, prints each
set's median and quartiles and whether they agree: B's median is no
worse than A's by more than the metric's bound in BENCHMARK.json, and
each set's quartile spread stays within the bound (set-up time, one
sample per run, is held to the first rule only). Metrics without a
bound (per-layer) are printed without a verdict. Exits 1 when any
bounded metric disagrees.
"""
import json
import os
import sys
from collections import defaultdict

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def load(path):
    runs = defaultdict(lambda: defaultdict(list))
    with open(path) as fh:
        for line in fh:
            if not line.strip():
                continue
            r = json.loads(line)
            for k, v in r["metrics"].items():
                if v is not None:
                    runs[(r["env"]["workload"], r["env"]["trace"])][k].append(v)
    return runs


def bounds():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {m["name"]: (m["bound"], m["better"]) for m in b["end_to_end"]}


def verdict(a, b, bound, better, check_spread=True):
    """(agree, reason) for two samples of one metric."""
    qa, qb = stats.quartiles(a), stats.quartiles(b)
    worse = (qb[1] - qa[1]) / qa[1] if better == "lower" else (qa[1] - qb[1]) / qa[1]
    spread = max((q[2] - q[0]) / q[1] for q in (qa, qb))
    if worse > bound:
        return False, f"B worse by {worse:+.1%} > {bound:.0%}"
    if check_spread and spread > bound:
        return False, f"spread {spread:.1%} > {bound:.0%}"
    return True, f"B {worse:+.1%} of A, spread {spread:.1%}"


def main():
    a, b = load(sys.argv[1]), load(sys.argv[2])
    bnd = bounds()
    bad = 0
    print(f"{'workload':<14} {'metric':<34} {'A q1/med/q3':>30} {'B q1/med/q3':>30}  verdict")
    for key in sorted(set(a) & set(b)):
        for m in sorted(set(a[key]) & set(b[key])):
            qa, qb = stats.quartiles(a[key][m]), stats.quartiles(b[key][m])
            fa = "/".join(f"{x:.4g}" for x in qa) + f" n={len(a[key][m])}"
            fb = "/".join(f"{x:.4g}" for x in qb) + f" n={len(b[key][m])}"
            text = ""
            if m in bnd and key[1] == 0 and qa[1] != 0:
                ok, text = verdict(a[key][m], b[key][m], *bnd[m],
                                   check_spread=m != "setup_s")
                text = ("agree: " if ok else "DISAGREE: ") + text
                bad += not ok
            print(f"{key[0]:<14} {m:<34} {fa:>30} {fb:>30}  {text}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
