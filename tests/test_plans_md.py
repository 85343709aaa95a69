"""PLANS.md staleness guard.

In round 7 the connected-components default moved from join-form to
window-form star rounds while PLANS.md kept documenting the join-era
plan — the plan-evidence document no longer matched the physical plan
the gate and bench executed (r7 verdict, finding #1). Each PLANS.md
section now carries a normalized plan digest (tools/dump_plans.py);
this test recomputes every digest at HEAD and fails when any registered
query's current physical plan differs from the committed dump, i.e.
when a plan changed and `python tools/dump_plans.py` wasn't rerun.

The digest strips expression ids, node indices, and ALL digits (see
dump_plans.plan_digest), so shuffle-partition counts and session config
don't perturb it — a mismatch means the OPERATOR STRUCTURE of the plan
changed.
"""

from __future__ import annotations

import os
import re

import pytest

from tools.dump_plans import (
    REPO, SF, committed_digests, extra_plan_dfs, plan_digest,
)


def test_committed_digests_cover_every_headline_query():
    from bench import HEADLINE

    digests = committed_digests()
    missing = [n for n in HEADLINE if n not in digests]
    assert not missing, (
        f"PLANS.md has no digest for {missing} — rerun tools/dump_plans.py"
    )
    assert "cc_round_step_default" in digests


def test_plans_md_digests_match_head(spark):
    from bench import HEADLINE

    from pyspark_entity_resolution_spark.plans.registry import all_queries

    specs = all_queries()
    digests = committed_digests()
    extras = extra_plan_dfs(spark)
    stale = {}
    for name, committed in digests.items():
        if name in specs:
            df = specs[name].fn(spark, SF)
        elif name in extras:
            df = extras[name][1]
        else:
            pytest.fail(f"PLANS.md section {name!r} maps to no known plan")
        current = plan_digest(df)
        if current != committed:
            stale[name] = (committed, current)
    assert not stale, (
        f"PLANS.md is stale for {sorted(stale)} (committed != HEAD digest "
        f"{stale}) — a plan changed; rerun `python tools/dump_plans.py` "
        "and review the diff"
    )
    # belt-and-braces sanity: every checked query appears, none skipped
    assert set(digests) >= set(HEADLINE)


def test_plans_md_cc_round_step_is_window_form():
    """The r7 complaint, pinned directly: the committed per-round CC
    plan must be the join-free window form — Window nodes present, no
    join operator of any kind in the dumped lines."""
    with open(os.path.join(REPO, "PLANS.md")) as f:
        text = f.read()
    m = re.search(
        r"## cc_round_step_default\n(.*?)\nplan digest:", text, re.DOTALL
    )
    assert m, "cc_round_step_default section missing from PLANS.md"
    body = m.group(1)
    assert "Window" in body
    assert "Join" not in body and "CartesianProduct" not in body
