"""Diff two BENCH_FULL artifacts and print per-query regressions — the
round-over-round secondary-timing comparison VERDICT r5 asked to make
possible (bench.py's FINAL line carries the top-20; this script reads
the COMPLETE maps).

Usage:
  python scripts/bench_diff.py                 # newest BENCH_FULL_r*.json vs BENCH_FULL.json
  python scripts/bench_diff.py fileA           # fileA vs BENCH_FULL.json
  python scripts/bench_diff.py fileA fileB     # two json files

BENCH_FULL.json is the rolling artifact every bench run rewrites in the
repo root; the round-keyed BENCH_FULL_r{N}.json stamps are the
committed record, and the newest is chosen by its parsed round number.

A query is flagged when it is BOTH ≥0.5 s and ≥40% slower — uniform
sub-half-second drift across many queries is machine-load smear, not a
regression (the r6 close saw exactly that pattern and re-ran clean).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def newest_stamp(root: str) -> str:
    """Path of the round-keyed BENCH_FULL_r{N}.json with the largest N."""
    stamps = [
        (int(m.group(1)), p)
        for p in glob.glob(os.path.join(root, "BENCH_FULL_r*.json"))
        if (m := re.search(r"BENCH_FULL_r(\d+)\.json$", p))
    ]
    if not stamps:
        sys.exit(f"bench_diff: no BENCH_FULL_r*.json in {root}")
    return max(stamps)[1]


def load(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def qmap(d: dict) -> dict[str, float]:
    m = dict(d.get("queries", {}))
    m.update(d.get("secondary", {}))
    return m


def main(argv: list[str] | None = None) -> None:
    args = sys.argv[1:] if argv is None else argv
    rolling = os.path.join(ROOT, "BENCH_FULL.json")
    if len(args) == 0:
        a_spec, b_spec = newest_stamp(ROOT), rolling
    elif len(args) == 1:
        a_spec, b_spec = args[0], rolling
    else:
        a_spec, b_spec = args[:2]
    a, b = load(a_spec), load(b_spec)
    am, bm = qmap(a), qmap(b)
    print(
        f"headline: {a.get('value')} ({a_spec}) -> {b.get('value')} ({b_spec});"
        f" entries {len(am)} -> {len(bm)}"
    )
    shared = sorted(set(am) & set(bm))
    flagged = []
    for k in shared:
        d = bm[k] - am[k]
        if d >= 0.5 and bm[k] >= am[k] * 1.4:
            flagged.append((d, k))
    for d, k in sorted(flagged, reverse=True):
        print(f"REGRESSED {d:+6.2f}s  {k}  ({am[k]:.2f} -> {bm[k]:.2f})")
    if not flagged:
        print("no per-query regressions (>=0.5s and >=40%)")
    new = sorted(set(bm) - set(am))
    if new:
        slow_new = [(bm[k], k) for k in new if bm[k] >= 2.0]
        print(f"new entries: {len(new)}; >=2s: "
              + (", ".join(f"{k}={v:.2f}s" for v, k in sorted(slow_new, reverse=True)) or "none"))


if __name__ == "__main__":
    main()
