#!/usr/bin/env python
"""Core-scaling table builder: reads two back-to-back bench detail
files (32-core and 8-core, same host regime) and prints per-query
low/high ratios WITH the control probes beside them, so a ratio is only
quoted when the two runs' controls agree (within ~10%) — a ratio whose
32-core denominator came from a contended run is unusable.

Usage: python tools/scaling_table.py detail_c32.json detail_c8.json
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def main() -> None:
    hi, lo = load(sys.argv[1]), load(sys.argv[2])
    hq, lq = hi["queries"], lo["queries"]
    ctl = (hi.get("control_sec"), lo.get("control_sec"))
    scan = (hi.get("control_scan_sec"), lo.get("control_scan_sec"))
    ctl_ratio = ctl[1] / ctl[0] if ctl[0] else float("nan")
    agree = abs(ctl_ratio - 1.0) <= 0.10
    print(f"controls: c32 cpu={ctl[0]} scan={scan[0]}  "
          f"c8 cpu={ctl[1]} scan={scan[1]}  cpu-ratio={ctl_ratio:.3f}  "
          f"{'AGREE (<=10%)' if agree else 'DISAGREE (>10%) — ratios not quotable'}")
    common = sorted(set(hq) & set(lq), key=lambda n: -hq[n])
    tot_hi = sum(hq[n] for n in common)
    tot_lo = sum(lq[n] for n in common)
    print(f"common={len(common)}  total c32={tot_hi:.2f}s  c8={tot_lo:.2f}s  "
          f"suite ratio={tot_lo / tot_hi:.3f}")
    print(f"{'query':<28} {'c32':>7} {'c8':>7} {'c8/c32':>7}")
    for n in common:
        print(f"{n:<28} {hq[n]:>7.3f} {lq[n]:>7.3f} {lq[n] / hq[n]:>7.2f}")


if __name__ == "__main__":
    main()
