"""The driver-window rotation recipe is executable code, not prose.

``registry.compute_window_order()`` orders the live registry from the
CORRECTNESS_r*.json ledgers: RED -> ORACLE-RETIRED -> NEVER-CHECKED ->
oldest-green RE-CHECK.  These tests pin (a) the ledger parser semantics
on synthetic ledgers and (b) the ordering invariants on the real repo
ledgers, without pinning a specific round's window composition (which
legitimately changes every round as ledgers land).
"""

from __future__ import annotations

import json

from graphsense_datafeed_spark import registry

registry.load_all_operators()


def _write_ledger(tmp_path, rnd, entries):
    (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(entries))


def test_ledger_parser_semantics(tmp_path):
    _write_ledger(
        tmp_path,
        1,
        {
            "q_green": {
                "rows_match": True,
                "schema_match": True,
                "hash_match": True,
                "spark_rows": 5,
                "oracle_rows": 5,
                "err": None,
            },
            "q_red_hash": {
                "rows_match": True,
                "schema_match": True,
                "hash_match": False,
                "spark_rows": 5,
                "oracle_rows": 5,
                "err": None,
            },
            "q_rows_only": {
                "rows_match": False,
                "schema_match": False,
                "hash_match": None,
                "spark_rows": 7,
                "oracle_rows": 0,
                "err": "no_oracle",
            },
            "q_rows_only_empty": {
                "spark_rows": 0,
                "err": "no_oracle",
            },
            "q_hash_skipped": {
                # rows/schema matched but the hash compare was recorded
                # as skipped (None, no error): NOT green — must
                # front-load for a real hash check (ADVICE r10).
                "rows_match": True,
                "schema_match": True,
                "hash_match": None,
                "spark_rows": 5,
                "oracle_rows": 5,
                "err": None,
            },
            "q_hashless_mode": {
                # explicitly hash-less check mode (no hash_match key at
                # all): the lenient form still applies.
                "rows_match": True,
                "schema_match": True,
                "spark_rows": 5,
                "oracle_rows": 5,
                "err": None,
            },
            "q_err": {
                "rows_match": False,
                "schema_match": False,
                "hash_match": None,
                "spark_rows": 0,
                "oracle_rows": 0,
                "err": "AnalysisException: boom",
            },
        },
    )
    # a later round flips q_red_hash green: highest round must win
    _write_ledger(
        tmp_path,
        3,
        {
            "q_red_hash": {
                "rows_match": True,
                "schema_match": True,
                "hash_match": True,
                "spark_rows": 5,
                "oracle_rows": 5,
                "err": None,
            }
        },
    )
    last = registry._ledger_last_seen(str(tmp_path))
    assert last["q_green"] == (1, True, False)
    assert last["q_red_hash"] == (3, True, False)  # r3 supersedes r1 red
    assert last["q_rows_only"] == (1, True, True)
    assert last["q_rows_only_empty"] == (1, False, True)  # 0 rows = red
    assert last["q_hash_skipped"] == (1, False, False)  # skipped hash = red
    assert last["q_hashless_mode"] == (1, True, False)
    assert last["q_err"] == (1, False, False)


def test_window_order_invariants():
    ordered = registry.compute_window_order()
    assert sorted(ordered) == sorted(registry.QUERIES)

    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(registry.__file__)))
    last = registry._ledger_last_seen(repo)

    def category(q):
        if q not in last:
            return 2  # never-checked
        if not last[q][1]:
            return 0  # red
        if last[q][2] and q in registry.ORACLES:
            return 1  # oracle-retired
        return 3  # green re-check

    # The r11 anti-rot reserve splices the RECHECK_RESERVE oldest-green
    # re-checks into the tail of the first window, so categories are
    # monotone only after REMOVING that reserve block.
    n_priority = sum(1 for q in ordered if category(q) in (0, 1))
    cut = max(n_priority, registry._WINDOW_SIZE - registry._RECHECK_RESERVE)
    cats = [category(q) for q in ordered]
    n_front = sum(1 for c in cats if c != 3)
    if n_front > cut:
        reserve = ordered[cut : cut + registry._RECHECK_RESERVE]
        assert all(category(q) == 3 for q in reserve), (
            "reserve slots must hold green re-checks"
        )
        spliced = ordered[:cut] + ordered[cut + registry._RECHECK_RESERVE :]
        cats = [category(q) for q in spliced]
    assert cats == sorted(cats), "window categories must be monotone"

    # re-check rows (reserve block + tail) are oldest-green first
    greens = [q for q in ordered if category(q) == 3]
    rounds = [last[q][0] for q in greens]
    assert rounds == sorted(rounds)

    # never-checked rows respect the landing queue's relative order
    # (first occurrence wins — the r9 judge-pass rows lead the queue)
    qpos = {}
    for i, q in enumerate(registry._NEVER_CHECKED_QUEUE):
        qpos.setdefault(q, i)
    nevers = [q for q in ordered if category(q) == 2 and q in qpos]
    positions = [qpos[q] for q in nevers]
    assert positions == sorted(positions)


def test_r9_judge_pass_rows_lead_first_window():
    """VERDICT r10 item 8: the 16 rows that have gone two rounds on
    judge evidence only must land inside the first driver window."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(registry.__file__)))
    last = registry._ledger_last_seen(repo)
    ordered = registry.compute_window_order()
    idx = {q: i for i, q in enumerate(ordered)}
    for q in registry._R9_JUDGE_PASS_RECHECK:
        if q in registry.QUERIES and q not in last:
            assert idx[q] < registry._WINDOW_SIZE - registry._RECHECK_RESERVE, q


def test_recheck_reserve_in_first_window():
    """VERDICT r10 item 5: ~10 oldest-green re-checks occupy the tail
    of the first window while the never-checked queue is non-empty."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(registry.__file__)))
    last = registry._ledger_last_seen(repo)
    ordered = registry.compute_window_order()
    nevers = [q for q in ordered if q not in last]
    n_priority = sum(
        1
        for q in ordered
        if q in last
        and (
            not last[q][1]
            or (last[q][1] and last[q][2] and q in registry.ORACLES)
        )
    )
    cut = max(n_priority, registry._WINDOW_SIZE - registry._RECHECK_RESERVE)
    if len(nevers) >= cut - n_priority:  # queue deep enough to splice
        reserve = ordered[cut : cut + registry._RECHECK_RESERVE]
        assert len(reserve) == registry._RECHECK_RESERVE
        for q in reserve:
            assert q in last and last[q][1], f"{q} not a green re-check"
        # oldest greens first: every reserve row's last-green round must
        # be <= any green re-check row after the window
        tail_greens = [
            q for q in ordered[cut + registry._RECHECK_RESERVE :]
            if q in last and last[q][1]
        ]
        if tail_greens:
            assert max(last[q][0] for q in reserve) <= min(
                last[q][0] for q in tail_greens
            )


def test_registry_order_matches_computed_window():
    # load_all_operators applied the mechanical ordering to QUERIES
    ordered = registry.compute_window_order()
    assert list(registry.QUERIES)[: len(ordered)] == ordered


def test_oracle_retired_rows_front_load_before_queue():
    """As long as a row's exact oracle has never met a driver window,
    it must sit ahead of every never-checked row (VERDICT r9 item 2)."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(registry.__file__)))
    last = registry._ledger_last_seen(repo)
    retired = [
        q
        for q in registry.QUERIES
        if q in last and last[q][1] and last[q][2] and q in registry.ORACLES
    ]
    ordered = registry.compute_window_order()
    idx = {q: i for i, q in enumerate(ordered)}
    nevers = [q for q in registry.QUERIES if q not in last]
    if retired and nevers:
        assert max(idx[q] for q in retired) < min(idx[q] for q in nevers)


def test_unreadable_ledgers_keep_registration_order(monkeypatch):
    """When the ledgers cannot be read, load_all_operators warns and
    keeps every registered query, in the order it already has."""
    import pytest

    def unreadable():
        raise OSError("ledgers unreadable")

    before = dict(registry.QUERIES)
    monkeypatch.setattr(registry, "compute_window_order", unreadable)
    monkeypatch.setattr(registry, "_loaded", False)
    try:
        with pytest.warns(RuntimeWarning, match="registration order"):
            registry.load_all_operators()
        assert set(registry.QUERIES) == set(before)
        assert list(registry.QUERIES) == list(before)
    finally:
        registry.QUERIES.clear()
        registry.QUERIES.update(before)
