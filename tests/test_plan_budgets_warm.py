"""Warm-session plan-budget lock (round-7 verdict item 1): the
minhash-banding dedup family (`dedup_minhash`, `dedup_incremental`,
`dedup_ngram_jaccard`) persist()s shingle frames during construction,
so Spark's CacheManager substitutes InMemoryRelation into any
canonically-matching subtree and the initial-plan exchange count
depends on which cache entries are live — it could not be pinned in
docs/plan_budgets.json without flaking. The NORMALIZED protocol
(tools/plan_warm_sweep.py) makes BOTH ends deterministic per query:

    clearCache -> profile COLD -> execute to noop -> profile WARM

This test re-runs that protocol in the shared session and asserts the
golden docs/plan_budgets_warm.json holds exactly, re-arming the
shuffle-regression tripwire over 4 of the bench's 10 slowest rows.
After an INTENDED plan change, regenerate with
``python tools/plan_warm_sweep.py`` and commit the new golden.
"""

from __future__ import annotations

import json
import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_ROOT, "tools"))
sys.path.insert(0, os.path.join(_ROOT, "docs"))

_GOLDEN = os.path.join(_ROOT, "docs", "plan_budgets_warm.json")


def test_warm_and_cold_plan_budgets_hold(spark, sf_dir):
    from plan_warm_sweep import WARM_PINNED, sweep

    golden = json.load(open(_GOLDEN))
    assert set(golden["queries"]) == set(WARM_PINNED), (
        "golden/query-list drift — regenerate docs/plan_budgets_warm.json "
        "with `python tools/plan_warm_sweep.py`")
    got = sweep(spark, sf_dir=sf_dir)
    regressions = [(n, golden["queries"][n], got[n])
                   for n in sorted(got) if got[n] != golden["queries"][n]]
    assert not regressions, (
        "warm/cold plan budgets regressed (regenerate "
        "docs/plan_budgets_warm.json with `python tools/plan_warm_sweep.py` "
        f"ONLY if the change is intended): {regressions}")


def test_warm_pinned_set_matches_exclusion_ledger():
    """Every warm-pinned query must be excluded from the cold golden
    with a reason pointing HERE, and no query may carry the old
    unpinned 'reuse-dependent' reason — the class the round-7 verdict
    asked to empty."""
    from gen_plan_budgets import EXCLUDED
    from plan_warm_sweep import WARM_PINNED

    for name in WARM_PINNED:
        assert "plan_budgets_warm.json" in EXCLUDED[name], name
    assert not [n for n, r in EXCLUDED.items()
                if "would flake rather than protect" in r], (
        "unpinned reuse-dependent exclusions crept back in")
