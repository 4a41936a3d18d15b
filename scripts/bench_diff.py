"""Diff two BENCH_FULL.json artifacts (or a git ref's committed copy
vs the working tree) and print per-query regressions — the
round-over-round secondary-timing comparison VERDICT r5 asked to make
possible (bench.py's one stdout line carries all 41 headline timings
but only the top-5 secondary; this script reads the COMPLETE maps).

Usage:
  python scripts/bench_diff.py                 # HEAD vs working tree
  python scripts/bench_diff.py <refA> <refB>   # two git refs
  python scripts/bench_diff.py fileA fileB     # two json files

A query is flagged when it is BOTH ≥0.5 s and ≥40% slower — uniform
sub-half-second drift across many queries is machine-load smear, not a
regression (the r6 close saw exactly that pattern and re-ran clean).
"""

from __future__ import annotations

import json
import subprocess
import sys


def load(spec: str) -> dict:
    if spec == "WORKTREE":
        with open("BENCH_FULL.json") as fh:
            return json.load(fh)
    try:
        with open(spec) as fh:
            return json.load(fh)
    except FileNotFoundError:
        out = subprocess.check_output(["git", "show", f"{spec}:BENCH_FULL.json"])
        return json.loads(out)


def qmap(d: dict) -> dict[str, float]:
    m = dict(d.get("queries", {}))
    m.update(d.get("secondary", {}))
    return m


def main() -> None:
    args = sys.argv[1:]
    if len(args) == 0:
        a_spec, b_spec = "HEAD", "WORKTREE"
    elif len(args) == 1:
        # one arg = "compare that ref/file against the working tree"
        # (the old padding filled HEAD into slot B, inverting intent)
        a_spec, b_spec = args[0], "WORKTREE"
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
