"""Structural guard for the census-soak harness (SCALE.md §sf1 census).

The real soak is ``scripts/soak_census.py`` at sf1 with a 1 GiB driver
(the round-9 failure shape); running that in pytest would dominate the
suite, so here we pin the cheap invariants instead: the panel shape
(golden_q8 last, broadcast-heavy prefix), and the periodicGC conf that
the soak exists to validate being present as a BUILDER conf (static —
it cannot be healed onto a running session).
"""

from __future__ import annotations

import os

from graphsense_datafeed_spark.session import BUILDER_CONFS

SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")


def test_periodic_gc_builder_conf():
    # Static conf: must ride session construction, not ensure_runtime_confs.
    assert BUILDER_CONFS.get("spark.cleaner.periodicGC.interval") == "5min"


def test_soak_panel_shape():
    import sys

    sys.path.insert(0, SCRIPTS)
    from soak_census import soak_query_ids

    panel = soak_query_ids(55)
    assert len(panel) == 55
    assert panel[-1] == "golden_q8_market_share"
    assert panel[-1] not in panel[:-1]
    # broadcast-heavy goldens lead the panel, as in the r9 census
    assert panel[0].startswith("golden_")
    assert len(set(panel)) == 55


def test_soak_panel_all_registered():
    import sys

    sys.path.insert(0, SCRIPTS)
    from soak_census import soak_query_ids

    from graphsense_datafeed_spark import registry

    registry.load_all_operators()
    for qid in soak_query_ids(55):
        assert qid in registry.QUERIES
        assert qid in registry.ORACLES
