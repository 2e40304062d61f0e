"""Print the last driver-green round per registered query, from the
CORRECTNESS_r*.json files at the repo root — the input to the sweep
rotation's staleness tier (queries.py _SWEEP_* lists): each round the
parked rows with the OLDEST driver evidence get promoted into the
50-row window so no green row ages past a few rounds.

Usage: python tools/sweep_state.py
"""

from __future__ import annotations

import os
import sys

# the repo root replaces this script's directory, where tools/profile.py
# would shadow the standard library's profile module
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    from file_d_spark.queries import QUERIES, _driver_green_rounds

    greens = _driver_green_rounds()
    rows = [(greens.get(q, 0), q) for q in QUERIES]
    for rnd, q in sorted(rows):
        tag = "NEVER" if rnd == 0 else f"r{rnd}"
        print(f"{tag:>6}  {q}")
    if greens:
        newest = max(greens.values())
        stale = [q for rnd, q in sorted(rows) if rnd and rnd <= newest - 2]
        print(f"\n{sum(1 for r, _ in rows if r == 0)} never-green, "
              f"{len(stale)} stale (>=2 rounds old): {' '.join(stale[:15])} ...")
    else:
        # fresh clone: no CORRECTNESS files yet — nothing is stale,
        # everything is never-verified
        print(f"\n{len(rows)} never-green (no CORRECTNESS_r*.json found)")


if __name__ == "__main__":
    main()
