"""Print the next driver-window ordering mechanically.

    python scripts/next_window.py [--limit N]

Thin CLI over ``registry.compute_window_order()`` (the executable
rotation recipe — VERDICT r9 item 4).  Reads every CORRECTNESS_r*.json
ledger in the repo root and emits, in window order:

  1. RED rows (most recent driver appearance failed) — always first;
  2. ORACLE-RETIRED rows (driver last saw the weak rows-only check but
     an exact oracle is registered now) — the hash-match has never run;
  3. NEVER-CHECKED rows (absent from every ledger), landing-queue order;
  4. RE-CHECK rows: driver-green rows, oldest last-green round first.

Output is one query id per line (paste-ready); --limit 50 trims to a
driver window.  ``load_all_operators()`` applies the same ordering to
the live registry, so this script is a preview, not a separate recipe.
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--limit", type=int, default=0, help="trim to N rows")
    args = ap.parse_args()

    from graphsense_datafeed_spark import registry

    registry.load_all_operators()
    ordered = registry.compute_window_order()
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last = registry._ledger_last_seen(repo)

    n_red = n_retired = n_never = n_green = 0
    lines = []
    for q in ordered:
        if q not in last:
            tag, n_never = "NEW", n_never + 1
        elif not last[q][1]:
            tag, n_red = "RED", n_red + 1
        elif last[q][2] and q in registry.ORACLES:
            tag, n_retired = f"ORACLE-RETIRED (rows-only r{last[q][0]})", n_retired + 1
        else:
            tag, n_green = f"green r{last[q][0]}", n_green + 1
        lines.append(f"{q}  # {tag}")
    if args.limit:
        lines = lines[: args.limit]
    print("\n".join(lines))
    print(
        f"-- {n_red} red, {n_retired} oracle-retired, {n_never} never-checked, "
        f"{n_green} re-check candidates --",
        file=sys.stderr,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
