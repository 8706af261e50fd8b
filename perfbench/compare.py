#!/usr/bin/env python3
"""Compare two sets of benchmark records, workload by workload.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the ``.perfbench_out/*.json`` records of one side.
Prints, per workload and end-to-end metric, each side's median and
quartiles and the change of the medians, and each side's median steal
share: the part of the CPU time the batches wanted that the hypervisor
gave to other machines.  On a shared host that share moves the walls
(a run with 7% steal took 25% longer than one with 0.5%), so a change
of the medians that comes with a change of the steal share is the
host's, not the code's.  Refuses (exit 2) when any two
records were made on hosts or settings whose fingerprints differ: a
4-CPU result says nothing about a 32-CPU one.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import comparable  # noqa: E402


def load(d: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(path) as fh:
            rec = json.load(fh)
        if not rec.get("trace"):
            out.append(rec)
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def steal_share(rec: dict) -> float:
    cpu = rec["batch_cpu_s"]
    return cpu["steal"] / (rec["fingerprint"]["cpus"] * sum(rec["batch_walls_s"]))


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    recs = base + new
    if not base or not new:
        print("compare: each side needs at least one untraced record", file=sys.stderr)
        return 2
    for r in recs[1:]:
        diff = comparable(recs[0]["fingerprint"], r["fingerprint"])
        if diff:
            print(f"compare: refused, fingerprints differ on {diff}: "
                  f"{[(k, recs[0]['fingerprint'].get(k), r['fingerprint'].get(k)) for k in diff]}",
                  file=sys.stderr)
            return 2
    for w in sorted({r["workload"] for r in recs}):
        sides = [[r for r in side if r["workload"] == w] for side in (base, new)]
        if not all(sides):
            continue
        for metric in sides[0][0]["end_to_end"]:
            qa, qb = (quartiles([r["end_to_end"][metric] for r in side]) for side in sides)
            print(f"{w:10s} {metric:14s} base {qa[1]:10.4f} [{qa[0]:.4f}, {qa[2]:.4f}] n={len(sides[0])}"
                  f"  new {qb[1]:10.4f} [{qb[0]:.4f}, {qb[2]:.4f}] n={len(sides[1])}"
                  f"  change {qb[1] / qa[1] - 1:+.1%}")
        sa, sb = (statistics.median(steal_share(r) for r in side) for side in sides)
        print(f"{w:10s} {'steal share':14s} base {sa:10.4f}  new {sb:10.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
