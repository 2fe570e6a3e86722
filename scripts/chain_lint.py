"""Shared-double-chain lint (VERDICT r14 item 9, stretch).

The ADVICE class this automates: agg_welch_anova's df2 denominator was
spelled ``3·(Σb/1e12)`` on the Spark side while the oracle computed
``(3·Σb)/1e12`` — mathematically equal, but 1e12 is NOT a power of two,
so the two double roundings can differ by ~1 ulp and flip the e4 floor
the value feeds (found by hand in r13; fixed in 0c10ba0).

A textual lint cannot prove Spark/SQL association equality in general,
but it CAN enforce the one canonical spelling that makes the question
moot: **multiply first, divide by the power-of-ten constant last** —
``(k * x) / 1eN``. Any multiplication applied to a PARENTHESIZED
division by a decimal power constant is therefore flagged, in Python
expressions and embedded oracle SQL alike (both live in the same
source files, so one scanner covers both sides):

    flagged:  3.0 * (sb / 1e12)        (x / 1000000.0) * n
    fine:     (3.0 * sb) / 1e12        x / 1e12 * n   [left-assoc: ok]
    ignored:  // and DIV integer division; divisors that are powers of
              two (0.5, 256.0 — exact in binary, association-safe);
              comment lines

Exit 1 on findings outside scripts/chain_lint_allowlist.json (an empty
allowlist at HEAD is the goal state). Run it from the seal checklist:

    python scripts/chain_lint.py
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "graphsense_datafeed_spark")
ALLOW_PATH = os.path.join(os.path.dirname(__file__), "chain_lint_allowlist.json")

# A decimal power-of-ten constant: 1e12 / 1E6 / 10.0 / 100 / 1000000.0
# (10^0 == 1 excluded — dividing by 1.0 is exact). These are the
# divisors that are NOT binary-exact, so association around them moves
# the last ulp.
_POW10 = r"(?:1[eE]\d+|10+(?:\.0+)?)"

# mult ∘ (paren-div-by-pow10): `* ( ... / 1eN ... )` — the paren forces
# divide-before-multiply, the exact shape the welch fix retired. The
# bracketed interiors exclude nested parens so the divisor provably
# binds inside the flagged group, and exclude commas so a function-call
# argument list `f(a, b / 1e6)` is not mistaken for a grouped chain.
_RX_MUL_THEN_DIVGROUP = re.compile(
    r"\*\s*\(\s*[^(),]{0,120}?/\s*" + _POW10 + r"\b[^(),]{0,60}?\)"
)
# (paren-div-by-pow10) ∘ mult: `( ... / 1eN ) * ...`
_RX_DIVGROUP_THEN_MUL = re.compile(
    r"\(\s*[^(),]{0,120}?/\s*" + _POW10 + r"\b[^(),]{0,60}?\)\s*\*"
)
# integer division is association-exact — drop candidates whose
# division is // (Python) or a DIV/FLOOR(x/…) integer idiom is NOT
# excluded here: FLOOR AFTER the chain is precisely where the flip
# bites, so those stay flagged.
_RX_INTDIV = re.compile(r"//\s*" + _POW10)


def _iter_findings():
    for root, _dirs, files in os.walk(PKG):
        for name in sorted(files):
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as fh:
                text = fh.read()
            # strip full-line comments so prose like "3 * (x / 1e6)"
            # in a docstring-adjacent comment can't fire; docstrings DO
            # stay scanned — oracle SQL lives in decorator strings and
            # the cost is reviewing the occasional prose hit once.
            lines = text.split("\n")
            for i, line in enumerate(lines, 1):
                code = line.split("#", 1)[0]
                for rx in (_RX_MUL_THEN_DIVGROUP, _RX_DIVGROUP_THEN_MUL):
                    for m in rx.finditer(code):
                        frag = m.group(0)
                        if _RX_INTDIV.search(frag):
                            continue
                        rel = os.path.relpath(path, REPO)
                        yield rel, i, frag.strip()


def main() -> int:
    allow: set[str] = set()
    if os.path.exists(ALLOW_PATH):
        with open(ALLOW_PATH) as fh:
            allow = set(json.load(fh))
    findings = []
    for rel, lineno, frag in _iter_findings():
        key = f"{rel}:{lineno}"
        tag = " (allowlisted)" if key in allow else ""
        findings.append((key, frag, bool(tag)))
        print(f"{key}: {frag}{tag}")
    new = [f for f in findings if not f[2]]
    print(
        f"chain-lint: {len(findings)} re-associable pow10 chains "
        f"({len(new)} outside the allowlist of {len(allow)})"
    )
    return 1 if new else 0


if __name__ == "__main__":
    raise SystemExit(main())
