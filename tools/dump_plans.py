"""Generate PLANS.md: the formatted physical plan of each headline query
with the scan/pushdown/join-strategy evidence the 100-TB design claims.

Each section also carries a NORMALIZED PLAN DIGEST (md5 over the
interesting op lines with expression ids, node indices, partition
counts, and all other digits stripped) — `tests/test_plans_md.py`
recomputes the digests at HEAD and fails when a registered query's
current physical plan no longer matches the committed dump, so
PLANS.md cannot silently go stale again (in r7 the connected-components
default moved from join-form to window-form stars and PLANS.md kept
documenting the old plan for a round).

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import HEADLINE
from pyspark_entity_resolution_spark.plans.registry import all_queries
from pyspark_entity_resolution_spark.session import get_spark

SF = "/root/testdata/sf0.01"

INTERESTING = re.compile(
    r"PushedFilters|ReadSchema|BroadcastHashJoin|SortMergeJoin|"
    r"BroadcastNestedLoop|CartesianProduct|HashAggregate|Exchange|"
    r"ArrowEvalPython|BatchEvalPython|Window|Generate"
)


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def interesting_lines(plan: str) -> list[str]:
    return [ln.rstrip() for ln in plan.splitlines() if INTERESTING.search(ln)]


def plan_digest(df) -> str:
    """md5 (first 12 hex) over the INTERESTING plan lines, normalized to
    survive everything that varies without the plan actually changing:
    expression ids (#123), plan/node indices, partition counts, row-count
    stats — i.e. ALL digits — plus tree-drawing indent and whitespace.
    What remains is operator kind + schema/pushdown text, which is
    exactly the evidence PLANS.md exists to pin."""
    norm = []
    for ln in interesting_lines(formatted_plan(df)):
        s = ln.lstrip(" :+-*")
        s = re.sub(r"#\d+", "", s)
        s = re.sub(r"\d+", "", s)
        s = re.sub(r"\s+", " ", s).strip()
        norm.append(s)
    return hashlib.md5("\n".join(norm).encode()).hexdigest()[:12]


DIGEST_RE = re.compile(r"^## (\S+)$|^plan digest: `([0-9a-f]{12})`$")


def committed_digests(path: str = os.path.join(REPO, "PLANS.md")) -> dict[str, str]:
    """Parse the query -> digest map back out of a committed PLANS.md."""
    digests: dict[str, str] = {}
    current = None
    with open(path) as f:
        for line in f:
            m = DIGEST_RE.match(line.strip())
            if not m:
                continue
            if m.group(1):
                current = m.group(1)
            elif current:
                digests[current] = m.group(2)
    return digests


def extra_plan_dfs(spark) -> dict[str, tuple[str, object]]:
    """Plans worth pinning that are not a registry query's OUTPUT plan.
    `connected_components_labels` labels its graph before returning, so
    its output DF holds no labeling operator (its section above is empty
    by construction): at sf0.01 the graph is within one partition's edge
    bound and the output is the driver-side union-find's local relation,
    above the bound it is the converged checkpoint scan. The plan that
    matters at 100 TB is the alternating STAR ROUND executed per
    iteration above the bound, so PLANS.md documents that plan."""
    from pyspark.sql import functions as F

    from pyspark_entity_resolution_spark.operators.clustering import _round_step

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["u", "v"]
    ).select(F.col("u").cast("long"), F.col("v").cast("long"))
    return {
        "cc_round_step_default": (
            "ONE alternating large+small star round of "
            "connected_components (window-function stars, join-free) — "
            "the plan executed per iteration on graphs above "
            "clustering.DRIVER_BOUND edges; connected_components_labels' "
            "own section above is empty because the returned DF is "
            "already labeled (a local relation at sf0.01, a checkpoint "
            "above the bound).",
            _round_step(e),
        ),
    }


def main() -> None:
    spark = get_spark(app_name="dump-plans", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    out = [
        "# PLANS — physical-plan evidence for the headline queries\n",
        "Generated by `tools/dump_plans.py` (sf0.01). For each headline",
        "query: the plan-node lines that matter at scale — scan pruning",
        "(`ReadSchema`), parquet pushdown (`PushedFilters`), join strategy,",
        "aggregate phases, exchanges, and any Python boundary — plus a",
        "normalized digest that `tests/test_plans_md.py` recomputes at",
        "HEAD, failing the suite when this document goes stale.\n",
    ]
    sections = [(name, specs[name].doc, specs[name].fn(spark, SF))
                for name in HEADLINE]
    sections += [(name, doc, df)
                 for name, (doc, df) in extra_plan_dfs(spark).items()]
    for name, doc, df in sections:
        plan = formatted_plan(df)
        ops = interesting_lines(plan)
        out.append(f"## {name}\n")
        out.append(doc + "\n")
        out.append("```")
        out.extend(ops[:40])
        out.append("```\n")
        out.append(f"plan digest: `{plan_digest(df)}`\n")

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
