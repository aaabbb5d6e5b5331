#!/usr/bin/env python
"""Guard on/off cost table (r14 verdict #1).

Reads the four diagnostic Bench subset captures
(/tmp/guard_on_{1,2}.json, /tmp/guard_off_{1,2}.json — produced with
SPARK_GRAFT_ONLY over the dedup gates, SPARK_GRAFT_SESSION_CONF
graft.dedup.candidatePairBudget=0 for the "off" runs) and prints the
per-gate min-of-medians comparison — min, not mean: the minimum over
interleaved captures is the least-contended observation of each
configuration, which is the number that isolates the guard's cost from
host drift.
"""
import json
import sys


def best(paths):
    out = {}
    for p in paths:
        with open(p) as f:
            d = json.loads(f.read())
        for q, v in d["queries"].items():
            if v < 0:
                continue
            out[q] = min(out.get(q, 1e18), v)
    return out


def main():
    on = best(["/tmp/guard_on_1.json", "/tmp/guard_on_2.json"])
    off = best(["/tmp/guard_off_1.json", "/tmp/guard_off_2.json"])
    print("| gate | guard ON (s) | guard OFF (s) | delta (s) | ratio |")
    print("|---|---|---|---|---|")
    tot_on = tot_off = 0.0
    for q in sorted(on):
        # a gate missing/failed on the OFF side would make b NaN and
        # silently poison the totals row — skip it with a warning instead
        if q not in off:
            print(f"| {q} | {on[q]:.3f} | (absent in guard-off captures — "
                  "skipped from totals) | | |")
            continue
        a, b = on[q], off[q]
        tot_on += a
        tot_off += b
        print(f"| {q} | {a:.3f} | {b:.3f} | {a - b:+.3f} | {a / b:.2f}x |")
    print(f"| **total** | {tot_on:.3f} | {tot_off:.3f} | "
          f"{tot_on - tot_off:+.3f} | {tot_on / tot_off:.2f}x |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
