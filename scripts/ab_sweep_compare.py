#!/usr/bin/env python3
"""Compare two `graft.tools.Trace` logs (A/B of a Spark conf or a kernel): per-key warm ratios.

Usage: python3 scripts/ab_sweep_compare.py <log_a> <log_b> [label_a label_b]

Parses `SWEEP <key> rep1=..s rep2=..s ... cpu2=..ms ... jobs2=..` lines and
reports warm (rep2) wall totals and, where both logs carry `cpu2=`, warm
task-CPU totals and warm job counts. It then lists keys whose warm wall
ratio departs from 1.0 by more than 1.5x in either direction
(smaller-than-0.2s keys are skipped for ratio noise), followed by every
common key's warm task-CPU ratio. Logs written before `cpu2=`/`jobs2=`
existed still parse; their CPU section is left out.
"""
import re, sys

PAT = re.compile(r"SWEEP (\S+)\s+rep1=\s*([\d.]+)s rep2=\s*([\d.]+)s")
CPU2 = re.compile(r"\bcpu2=\s*(\d+)ms")
JOBS2 = re.compile(r"\bjobs2=\s*(\d+)")


def parse(path):
    """key -> {"rep1", "rep2" (s), and when present "cpu2" (s), "jobs2"}."""
    out = {}
    with open(path) as fp:
        for line in fp:
            m = PAT.search(line)
            if not m:
                continue
            row = {"rep1": float(m.group(2)), "rep2": float(m.group(3))}
            c = CPU2.search(line)
            if c:
                row["cpu2"] = int(c.group(1)) / 1000.0
            j = JOBS2.search(line)
            if j:
                row["jobs2"] = int(j.group(1))
            out[m.group(1)] = row
    return out


def main(a_path, b_path, la="A", lb="B"):
    a, b = parse(a_path), parse(b_path)
    common = sorted(set(a) & set(b))
    print(f"keys: {la}={len(a)} {lb}={len(b)} common={len(common)}")
    ta = sum(a[k]["rep2"] for k in common)
    tb = sum(b[k]["rep2"] for k in common)
    print(f"warm totals over common keys: {la}={ta:.1f}s {lb}={tb:.1f}s "
          f"ratio {lb}/{la}={tb / ta:.3f}")
    t1a = sum(a[k]["rep1"] for k in common)
    t1b = sum(b[k]["rep1"] for k in common)
    print(f"cold totals over common keys: {la}={t1a:.1f}s {lb}={t1b:.1f}s")
    rows = []
    for k in common:
        wa, wb = a[k]["rep2"], b[k]["rep2"]
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

    cpu = [k for k in common if "cpu2" in a[k] and "cpu2" in b[k]]
    if not cpu:
        print("warm task CPU: not in both logs (cpu2= missing)")
        return
    ca = sum(a[k]["cpu2"] for k in cpu)
    cb = sum(b[k]["cpu2"] for k in cpu)
    ratio = f"{cb / ca:.3f}" if ca > 0 else "inf"
    print(f"warm task CPU over {len(cpu)} keys: {la}={ca:.2f}s {lb}={cb:.2f}s "
          f"ratio {lb}/{la}={ratio}")
    jobs = [k for k in cpu if "jobs2" in a[k] and "jobs2" in b[k]]
    if jobs:
        print(f"warm jobs over {len(jobs)} keys: "
              f"{la}={sum(a[k]['jobs2'] for k in jobs)} "
              f"{lb}={sum(b[k]['jobs2'] for k in jobs)}")
    for k in cpu:
        xa, xb = a[k]["cpu2"], b[k]["cpu2"]
        r = f"{xb / xa:5.2f}" if xa > 0 else "  inf"
        print(f"  cpu2 {k:31s} {la}={xa:6.2f}s {lb}={xb:6.2f}s {lb}/{la}={r}")


if __name__ == "__main__":
    main(*sys.argv[1:])
