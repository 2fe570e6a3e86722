"""The plan-audit tool itself: flag detection on planted plans and
allowlist hygiene (every allowlisted qid must still exist)."""

import json
import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from plan_audit import ALLOWLIST_PATH, audit_plan  # noqa: E402


def test_audit_flags_planted_shapes(spark, sf_dir):
    from graphsense_datafeed_spark.sources.tables import load

    import io
    from contextlib import redirect_stdout

    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    cart = n.crossJoin(r)  # deliberate cartesian
    buf = io.StringIO()
    with redirect_stdout(buf):
        cart.explain("formatted")
    flags = audit_plan(buf.getvalue())
    assert flags["cartesian"] or flags["bnlj"]  # small side may broadcast

    clean = n.join(r, n.n_regionkey == r.r_regionkey).groupBy("r_name").count()
    buf = io.StringIO()
    with redirect_stdout(buf):
        clean.explain("formatted")
    flags = audit_plan(buf.getvalue())
    assert not flags["cartesian"]
    assert not flags["row_udf"]


def test_allowlist_entries_are_live_queries():
    from graphsense_datafeed_spark.registry import QUERIES, load_all_operators

    load_all_operators()
    allow = json.load(open(ALLOWLIST_PATH))
    dead = {
        qid
        for qids in allow.values()
        for qid in qids
        if qid not in QUERIES
    }
    assert not dead, f"allowlist references deleted queries: {dead}"


def test_allowlist_entries_carry_boundedness_arguments():
    """Round-12 format (VERDICT r11 item 2): every allowlist entry is
    {qid: one-line boundedness argument}; an empty/placeholder reason
    is a gate failure, and cartesian entries must state an explicit
    bound (a cartesian is acceptable ONLY with a by-construction row
    cap, e.g. agg_kendall_distance_topk's <=20x20 top-k pairs)."""
    allow = json.load(open(ALLOWLIST_PATH))
    for flag, entries in allow.items():
        assert isinstance(entries, dict), f"{flag}: must be qid->reason dict"
        for qid, reason in entries.items():
            assert isinstance(reason, str) and len(reason) >= 10, (
                f"{flag}/{qid}: missing boundedness argument"
            )
    for qid, reason in allow["cartesian"].items():
        assert any(ch.isdigit() for ch in reason), (
            f"cartesian/{qid}: argument must state a numeric row bound"
        )


def test_monetary_velocity_cumsum_plan(spark, sf_dir):
    """Pin the r12 fix (VERDICT r11 item 1): ingest_monetary_velocity's
    running supply is a window cumsum over the pre-reduced bucket tape,
    NOT the quadratic m_height <= bucket_end BroadcastNestedLoopJoin."""
    import io
    from contextlib import redirect_stdout

    from graphsense_datafeed_spark.registry import QUERIES, load_all_operators

    load_all_operators()
    df = QUERIES["ingest_monetary_velocity"](spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    flags = audit_plan(plan)
    assert not flags["bnlj"], "quadratic supply BNLJ is back"
    assert not flags["cartesian"]
    assert "Window" in plan, "cumulative supply should be a window cumsum"
