#!/usr/bin/env python3
"""Compare two `graft.tools.Trace` logs (A/B of a Spark conf): per-key warm-rep ratio.

Usage: python3 scripts/ab_sweep_compare.py <log_a> <log_b> [label_a label_b]

Parses `SWEEP <key> rep1=..s rep2=..s ...` lines, reports warm (rep2)
totals, and lists keys whose warm ratio departs from 1.0 by more than 1.5x
in either direction (smaller-than-0.2s keys are skipped for ratio noise).
"""
import re, sys

PAT = re.compile(r"SWEEP (\S+)\s+rep1=\s*([\d.]+)s rep2=\s*([\d.]+)s")


def parse(path):
    out = {}
    with open(path) as fp:
        for line in fp:
            m = PAT.search(line)
            if m:
                out[m.group(1)] = (float(m.group(2)), float(m.group(3)))
    return out


def main(a_path, b_path, la="A", lb="B"):
    a, b = parse(a_path), parse(b_path)
    common = sorted(set(a) & set(b))
    print(f"keys: {la}={len(a)} {lb}={len(b)} common={len(common)}")
    ta = sum(a[k][1] for k in common)
    tb = sum(b[k][1] for k in common)
    print(f"warm totals over common keys: {la}={ta:.1f}s {lb}={tb:.1f}s "
          f"ratio {lb}/{la}={tb / ta:.3f}")
    t1a = sum(a[k][0] for k in common)
    t1b = sum(b[k][0] for k in common)
    print(f"cold totals over common keys: {la}={t1a:.1f}s {lb}={t1b:.1f}s")
    rows = []
    for k in common:
        wa, wb = a[k][1], b[k][1]
        if max(wa, wb) < 0.2:
            continue
        r = wb / wa if wa > 0 else float("inf")
        if r > 1.5 or r < 1 / 1.5:
            rows.append((r, k, wa, wb))
    rows.sort()
    for r, k, wa, wb in rows:
        print(f"  {k:36s} {la}={wa:6.2f}s {lb}={wb:6.2f}s {lb}/{la}={r:5.2f}")
    if not rows:
        print("  no key departs >1.5x either way (warm reps)")


if __name__ == "__main__":
    main(*sys.argv[1:])
