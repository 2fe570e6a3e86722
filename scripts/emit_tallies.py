"""Registry-emitted operator tallies (VERDICT r6 item 7) — the ONE
place the README/SURVEY headline counts come from:

    python scripts/emit_tallies.py          # check, exit 1 on drift
    python scripts/emit_tallies.py --write  # rewrite the status lines

Round 6 needed two fixup commits because the counts were maintained by
hand in three places; this generator derives them from the registry
(query count, exact-oracle count) and either verifies or rewrites the
exact tokens that drifted.  tests/test_round7_ops.py runs the check so
the suite fails the round the registry and the docs disagree.
"""

from __future__ import annotations

import re
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

README = os.path.join(REPO, "README.md")
SURVEY = os.path.join(REPO, "SURVEY.md")


def counts() -> tuple[int, int]:
    from graphsense_datafeed_spark.registry import (
        ORACLES,
        QUERIES,
        load_all_operators,
    )

    load_all_operators()
    return len(QUERIES), len(ORACLES)


def survey_s2_ids() -> list[str]:
    """Extract every §2 operator-table row id (first backticked cell),
    in document order, from SURVEY.md between the '## §2.' and '## §3.'
    headings.  Duplicate-landing guard input (VERDICT r10 item 2)."""
    ids: list[str] = []
    in_s2 = False
    for line in open(SURVEY):
        if line.startswith("## §2."):
            in_s2 = True
            continue
        if line.startswith("## §3."):
            break
        if not in_s2:
            continue
        m = re.match(r"\|\s*`([A-Za-z0-9_]+)`\s*\|", line)
        if m:
            ids.append(m.group(1))
    return ids


def check_s2(write: bool = False) -> int:
    """§2 integrity: (a) no duplicate row ids (the ts_mase double-landing
    class), (b) every §2 id is registered, (c) every registered query has
    a §2 row (registry == §2; the goldens were §2-promoted in r11)."""
    from graphsense_datafeed_spark.registry import QUERIES, load_all_operators

    load_all_operators()
    ids = survey_s2_ids()
    errs = 0
    seen: set[str] = set()
    dups = sorted({i for i in ids if i in seen or seen.add(i)})
    if dups:
        print(f"DUPLICATE §2 rows: {dups}")
        errs += 1
    missing_reg = sorted(set(ids) - set(QUERIES))
    if missing_reg:
        print(f"§2 rows with NO registry entry: {missing_reg}")
        errs += 1
    missing_s2 = sorted(set(QUERIES) - set(ids))
    if missing_s2:
        print(f"registered queries with NO §2 row: {missing_s2}")
        errs += 1
    print(f"§2: {len(ids)} rows, {len(set(ids))} unique")
    return errs


def _rules(nq: int, no: int) -> list[tuple[str, str, str]]:
    return [
        (README, r"\*\*\d+ registered queries\*\*",
         f"**{nq} registered queries**"),
        (README, r"\*\*\d+ of them with exact DuckDB oracles\*\*",
         f"**{no} of them with exact DuckDB oracles**"),
        (SURVEY, r"\*\*\d+ queries / \d+ exact oracles\*\*",
         f"**{nq} queries / {no} exact oracles**"),
    ]


def window_warn_budget_size() -> int:
    """Size of the single-partition WindowExec warning budget (the
    union verify_driver_style._window_warn_budget() enforces).  Printed
    every run so budget growth is a visible per-round diff (VERDICT r12
    item 8) — the list grew 79 → 99 across r10–r12 without anyone
    noticing; now the tally moves the round it grows."""
    import json
    import os

    allow = json.load(open(os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "plan_audit_allowlist.json")))
    return len(set(allow.get("single_part", []))
               | set(allow.get("window_warn_prereduced", [])))


def run(write: bool) -> int:
    nq, no = counts()
    rows_only = nq - no
    print(f"registry: {nq} queries, {no} exact oracles, "
          f"{rows_only} rows-only")
    print(f"window-warn budget list: {window_warn_budget_size()} queries "
          f"(single_part + window_warn_prereduced union)")
    drift = 0
    for path, pat, want in _rules(nq, no):
        text = open(path).read()
        hits = re.findall(pat, text)
        if not hits:
            print(f"MISSING token {pat!r} in {path}")
            drift += 1
            continue
        stale = [h for h in hits if h != want]
        if stale:
            if write:
                open(path, "w").write(re.sub(pat, want, text))
                print(f"rewrote {len(hits)} token(s) in {path}: {want}")
            else:
                print(f"DRIFT in {path}: {stale} != {want}")
                drift += 1
    # §2 integrity failures are NOT repairable by --write (duplicate
    # rows / unregistered ids / missing rows need a human edit), so
    # they fail the run in BOTH modes — --write must not mask the very
    # violation the guard exists for (round-11 review finding).
    s2_errs = check_s2(write)
    if s2_errs:
        print("§2 integrity errors — fix SURVEY.md / registry by hand")
        return 1
    if drift and not write:
        print("tallies drifted — run with --write")
        return 1
    print("tallies in sync" if not write else "tallies written")
    return 0


if __name__ == "__main__":
    raise SystemExit(run(write="--write" in sys.argv))
