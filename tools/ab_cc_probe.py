"""Interleaved same-host A/B of the synthetic CC probe across git refs.

Same discipline as tools/ab_bench.py (fresh JVM per (ref, pass),
refs interleaved within a pass, order reversed on odd passes so
monotone drift lands on both arms), but the probe is the century-cc
edge generator + connected_components — the workload ab_bench's
registry/ER rows cannot drive.

Usage:
    python tools/ab_cc_probe.py REF1 REF2 [--passes 2] \
        [--edges 10000000] [--nodes 5000000] [--scale-partitions 1]

A REF naming an existing directory is used as the checkout as-is (for
example a `git clone` of the parent commit, or the working tree);
any other REF is a git ref checked out into a cached detached worktree.

Output: one JSON line per (pass, ref), then min/median per ref.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PROBE = r'''
import json, os, sys, time

n_nodes = int(os.environ["AB_CC_NODES"])
n_edges = int(os.environ["AB_CC_EDGES"])
scale = int(os.environ.get("AB_CC_SCALE_PARTITIONS", "1"))

from pyspark_entity_resolution_spark.session import get_spark

spark = get_spark(app_name="ab-cc")
spark.sparkContext.setLogLevel("ERROR")
if scale > 1:
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spark.conf.set("spark.sql.shuffle.partitions", str(cur * scale))

from pyspark.sql import functions as F
from pyspark_entity_resolution_spark.operators.clustering import (
    connected_components,
)

edges = spark.range(n_edges).select(
    (F.abs(F.xxhash64(F.col("id"))) % n_nodes).alias("src"),
    (F.abs(F.xxhash64(F.col("id") + 7_777_777)) % n_nodes).alias("dst"),
)
t0 = time.perf_counter()
n = connected_components(edges).select("component").distinct().count()
sec = round(time.perf_counter() - t0, 1)
print(json.dumps({"row": f"cc_{n_edges}", "sec": sec, "components": n}),
      flush=True)
'''


def _worktree(ref: str) -> str:
    """Detached worktree cached by COMMIT SHA, never by ref name: a
    movable ref (branch, HEAD) cached by name would silently reuse the
    checkout from a PREVIOUS invocation after the ref moved — the exact
    stale-measurement failure this A/B tooling exists to prevent (same
    rule as tools/ab_bench.ensure_worktree)."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{ref}^{{commit}}"],
        cwd=REPO, check=True, capture_output=True, text=True,
    ).stdout.strip()
    path = f"/tmp/ab_cc_{sha[:16]}"
    if not os.path.isdir(path):
        subprocess.run(
            ["git", "worktree", "add", "--detach", path, sha],
            cwd=REPO, check=True, capture_output=True,
        )
    return path


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("refs", nargs="+")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--edges", type=int, default=10_000_000)
    ap.add_argument("--nodes", type=int, default=5_000_000)
    ap.add_argument("--scale-partitions", type=int, default=1)
    ap.add_argument(
        "--env", action="append", default=[], metavar="REF:KEY=VAL",
        help="per-ARM env var (e.g. 'HEAD~0:SPARK_DRIVER_MEMORY=16g') "
             "— lets one invocation A/B a knob at the SAME "
             "commit; pass the same ref twice and tag one arm")
    args = ap.parse_args()
    arm_env: dict[str, dict] = {}
    for spec in args.env:
        ref, _, kv = spec.partition(":")
        k, _, v = kv.partition("=")
        if not ref or not k:
            ap.error(f"bad --env spec {spec!r} (want REF:KEY=VAL)")
        arm_env.setdefault(ref, {})[k] = v
    if arm_env and len(set(args.refs)) != len(args.refs):
        # same ref on both arms + env tag: disambiguate by position
        # is impossible with a ref-keyed map — require distinct names
        # (use REF and REF~0 style aliases)
        seen = set()
        for r in args.refs:
            if r in seen:
                ap.error("--env with duplicate ref names is ambiguous; "
                         "alias one arm (e.g. HEAD vs HEAD~0)")
            seen.add(r)

    trees = {
        ref: os.path.abspath(ref) if os.path.isdir(ref) else _worktree(ref)
        for ref in args.refs
    }
    results: dict[str, list] = {ref: [] for ref in args.refs}
    for p in range(args.passes):
        order = args.refs if p % 2 == 0 else list(reversed(args.refs))
        for ref in order:
            env = dict(
                os.environ,
                PYTHONPATH=trees[ref],
                AB_CC_NODES=str(args.nodes),
                AB_CC_EDGES=str(args.edges),
                AB_CC_SCALE_PARTITIONS=str(args.scale_partitions),
                **arm_env.get(ref, {}),
            )
            out = subprocess.run(
                [sys.executable, "-c", PROBE], env=env,
                capture_output=True, text=True, timeout=3600,
            )
            line = [ln for ln in out.stdout.splitlines()
                    if ln.startswith("{")]
            if out.returncode != 0 or not line:
                print(f"[ab-cc] {ref} pass {p} FAILED:\n{out.stderr[-2000:]}",
                      file=sys.stderr)
                sys.exit(1)
            rec = json.loads(line[-1])
            rec.update(ref=ref, pass_=p)
            results[ref].append(rec)
            print(json.dumps(rec), flush=True)
    for ref in args.refs:
        secs = [r["sec"] for r in results[ref]]
        print(json.dumps({
            "ref": ref, "min": min(secs),
            "median": statistics.median(secs), "all": secs,
        }), flush=True)


if __name__ == "__main__":
    main()
