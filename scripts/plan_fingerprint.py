"""Fingerprint the optimized plan of every plan-audited query:

    python scripts/plan_fingerprint.py OUT.json [qid ...]

Builds the same queries as plan_audit.py (same session, same sf0.001
fixtures, same skip list of effectful queries) and writes
``{qid: sha256(optimized logical plan text)}`` to OUT.json, with the
``#123``/``#123L`` expression ids stripped so two processes agree. Run it
at two commits and diff the files: a refactor that should not change
any query shows no differing qid. A query that fails to build maps to
``"build_error: ..."``.
"""

from __future__ import annotations

import hashlib
import json
import re
import sys

from plan_audit import audited_queries

_EXPR_ID = re.compile(r"#\d+L?")


def main() -> int:
    out, only = sys.argv[1], set(sys.argv[2:])
    prints: dict[str, str] = {}
    for qid, build in audited_queries(only):
        try:
            plan = build()._jdf.queryExecution().optimizedPlan().toString()
        except Exception as e:
            prints[qid] = f"build_error: {str(e)[:200]}"
            continue
        prints[qid] = hashlib.sha256(_EXPR_ID.sub("", plan).encode()).hexdigest()
    with open(out, "w") as fh:
        json.dump(prints, fh, indent=1, sort_keys=True)
    n_err = sum(v.startswith("build_error") for v in prints.values())
    print(f"plan-fingerprint: {len(prints)} queries, {n_err} build errors -> {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
