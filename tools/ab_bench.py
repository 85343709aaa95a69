"""Interleaved same-host A/B of bench rows across git refs.

Round 6's judge burned hours proving a 40% "regression" was host drift:
the only evidence was artifacts measured weeks apart. This tool removes
that failure mode — it checks each ref into a cached worktree and runs
the SAME probe script in a fresh JVM per (ref, pass), interleaving the
refs within each pass (A B | B A | A B ... — order reverses on odd
passes since r8, so monotone drift lands on both arms symmetrically)
so machine drift lands on both sides equally.

Usage:
    python tools/ab_bench.py REF1 REF2 [...] [--passes 3] [--runs 3] \
        [--rows er_pipeline_blocked_n3,er_pipeline_e2e_n3,cc_10000000] \
        [--queries name1,name2]

A REF naming an existing directory is used as the checkout as-is (for
example a ``git clone`` of the parent commit); any other REF is a git
ref checked out into a detached worktree keyed by commit sha. A run
removes the worktrees it created; one that already existed is reused
and kept.

``--rows`` selects the corpus-generated ER pipeline rows (measured
exactly as bench.py measures them: min-of-``--runs`` inside one JVM,
noop sink) and ``cc_<edges>`` rows: ``connected_components`` on a
hashed-edge graph of ``<edges>`` edges over ``<edges> // 2`` nodes,
timed once per JVM (a 100M-edge call runs for minutes), reported as
seconds plus ``<row>_components`` and ``<row>_rounds``. ``--queries``
selects registry queries by name (same min-of-N, noop sink, sf dir from
$SPARK_GRAFT_SF_DIR). The probe script is embedded here and
injected into every checkout unchanged, so old refs that predate any
bench.py flag still measure identically — the only API it uses
(pipeline.ERConfig / prepare_publications / match_publications /
run_er_pipeline, clustering.connected_components,
plans.registry.all_queries, session.get_spark) has been stable since
round 4.

Output: one JSON line per (pass, ref, row) to stdout, then a summary
with per-ref min/median across passes.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs inside each worktree with PYTHONPATH pointed at it. Keep this
# dependent only on the long-stable package API (see module docstring).
PROBE = r'''
import json, os, sys, time

rows = os.environ.get("AB_ROWS", "").split(",") if os.environ.get("AB_ROWS") else []
queries = (os.environ.get("AB_QUERIES", "").split(",")
           if os.environ.get("AB_QUERIES") else [])

from pyspark_entity_resolution_spark.session import get_spark

spark = get_spark(app_name="ab-bench")
spark.sparkContext.setLogLevel("ERROR")
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# same warmup bench.py does: parquet footer read + one pandas-UDF row
spark.read.parquet(f"{sf_dir}/region.parquet").count()
from pyspark.sql import functions as F
from pyspark_entity_resolution_spark.functions.cleaning import remove_accents
spark.range(1).select(remove_accents(F.lit("café"))).count()

out = {}

def _noop(df):
    df.write.format("noop").mode("overwrite").save()

# runs-per-query inside this one JVM; pass-level repetition across fresh
# JVMs is the caller's job (AB_RUNS lets the embedded-baseline path trade
# within-JVM repetition for more interleaved passes)
RUNS = max(1, int(os.environ.get("AB_RUNS", "3")))

def _min_runs(fn):
    times = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return round(min(times), 3)

if queries:
    from pyspark_entity_resolution_spark.plans.registry import all_queries
    specs = all_queries()
    for name in queries:
        spec = specs.get(name)
        if spec is None:
            # a query the other arm's registry has and this ref's does
            # not (full-registry A/B across a round boundary): skip
            # rather than abort — the summary simply has no sample for
            # this (ref, query), which is the honest record
            continue
        fn = spec.fn
        out[name] = _min_runs(lambda: _noop(fn(spark, sf_dir)))

er_rows = [r for r in rows if r.startswith("er_")]
if er_rows:
    # bench.py has carried _gen_er_corpus with these exact params since
    # r3. NOTE: the on-disk corpus cache is SHARED across refs (the
    # generator returns early when the dumps exist), so whichever arm
    # runs first writes it and every arm measures the SAME corpus —
    # deliberate: identical input is what makes the A/B comparable. If
    # a future ref changes the generator, delete the cache dir and know
    # that the arms still share ONE corpus (the first ref's).
    sys.path.insert(0, os.environ["AB_WORKTREE"])
    from bench import _gen_er_corpus
    from pyspark_entity_resolution_spark.pipeline import (
        ERConfig, match_publications, prepare_publications, run_er_pipeline,
    )
    pa, pb = _gen_er_corpus("/tmp/er_bench_corpus_v1")

    if "er_pipeline_blocked_n3" in er_rows:
        cfg = ERConfig(window=3)
        def _blocked():
            left = prepare_publications(spark, pa, cfg)
            right = prepare_publications(spark, pb, cfg)
            _noop(match_publications(left, right, cfg))
        out["er_pipeline_blocked_n3"] = _min_runs(_blocked)

    if "er_pipeline_e2e_n3" in er_rows:
        import shutil, tempfile
        from pyspark_entity_resolution_spark.sources.io import write_csv
        dest = tempfile.mkdtemp(prefix="ab_er_out_")
        try:
            def _e2e():
                res = run_er_pipeline(spark, pa, pb, ERConfig(window=3))
                write_csv(res["entities"], f"{dest}/entities", sep="\t")
                shutil.rmtree(f"{dest}/entities", ignore_errors=True)
            out["er_pipeline_e2e_n3"] = _min_runs(_e2e)
        finally:
            shutil.rmtree(dest, ignore_errors=True)

for row in (r for r in rows if r.startswith("cc_")):
    from pyspark_entity_resolution_spark.operators import clustering
    n_edges = int(row[len("cc_"):])
    n_nodes = n_edges // 2
    edges = spark.range(n_edges).select(
        (F.abs(F.xxhash64(F.col("id"))) % n_nodes).alias("src"),
        (F.abs(F.xxhash64(F.col("id") + 7_777_777)) % n_nodes).alias("dst"),
    )
    t0 = time.perf_counter()
    labels = clustering.connected_components(edges)
    n_components = labels.select("component").distinct().count()
    out[row] = round(time.perf_counter() - t0, 3)
    out[f"{row}_components"] = n_components
    # getattr: a ref without the round-stats diagnostic still runs
    out[f"{row}_rounds"] = len(getattr(clustering, "LAST_RUN_ROUND_STATS", []))

print("AB_RESULT " + json.dumps(out), flush=True)
spark.stop()
'''


def resolve_ref(ref: str) -> str:
    """Resolve a ref NAME to its commit sha — worktrees must cache by
    sha, not name: a movable ref (branch, HEAD) cached by name would
    silently measure last week's checkout on the next run."""
    return subprocess.run(
        ["git", "rev-parse", "--verify", f"{ref}^{{commit}}"],
        cwd=REPO, check=True, capture_output=True, text=True,
    ).stdout.strip()


def ensure_worktree(ref: str, created: list[str] | None = None) -> str:
    """The checkout a REF names: an existing directory as-is (its
    absolute path, no git call), else a detached worktree under /tmp
    cached by COMMIT SHA, created once and reused. A worktree this call
    creates is appended to ``created``."""
    if os.path.isdir(ref):
        return os.path.abspath(ref)
    sha = resolve_ref(ref)
    path = f"/tmp/ab_worktree_{sha[:16]}"
    if not os.path.isdir(path):
        subprocess.run(
            ["git", "worktree", "add", "--detach", path, sha],
            cwd=REPO, check=True, capture_output=True,
        )
        if created is not None:
            created.append(path)
    return path


def run_probe(
    worktree: str, rows: list[str], queries: list[str], runs: int = 3
) -> dict:
    env = dict(os.environ)
    # PREPEND the worktree — clobbering would break hosts whose pyspark
    # reaches Python via PYTHONPATH (SPARK_HOME-style installs)
    env["PYTHONPATH"] = worktree + os.pathsep + env.get("PYTHONPATH", "")
    env["AB_WORKTREE"] = worktree
    env["AB_ROWS"] = ",".join(rows)
    env["AB_QUERIES"] = ",".join(queries)
    env["AB_RUNS"] = str(runs)
    proc = subprocess.run(
        [sys.executable, "-c", PROBE], env=env, cwd=worktree,
        # an hour: the 100M-edge CC loop alone has read ~635 s
        capture_output=True, text=True, timeout=3600,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("AB_RESULT "):
            return json.loads(line[len("AB_RESULT "):])
    raise RuntimeError(
        f"probe produced no AB_RESULT in {worktree}:\n"
        f"stdout tail: {proc.stdout[-2000:]}\nstderr tail: {proc.stderr[-2000:]}"
    )


def interleaved_ab(
    refs: list[str],
    rows: list[str],
    queries: list[str],
    passes: int = 3,
    runs: int = 3,
    on_record=None,
) -> tuple[list[dict], dict]:
    """The interleaved pass loop. Fresh JVM per (ref, pass); within each pass the
    refs run back-to-back, and the ref ORDER REVERSES on odd passes so
    slow monotone drift (page-cache fill, thermal) lands on both arms
    symmetrically instead of always favoring whichever ref runs second.
    Returns (records, summary): one record dict per (pass, ref) — probe
    failures become {'error': ...} records rather than aborting, because
    the interleaved data already collected is the tool's output — and a
    per-ref per-row {min, median, all} summary. Worktrees created by
    this call are removed before it returns; directory REFs and
    worktrees that already existed are left alone."""
    created: list[str] = []
    try:
        trees = {ref: ensure_worktree(ref, created) for ref in refs}
        records: list[dict] = []
        results: dict[str, dict[str, list[float]]] = {r: {} for r in refs}
        for p in range(passes):
            order = list(refs) if p % 2 == 0 else list(reversed(refs))
            for ref in order:
                try:
                    res = run_probe(trees[ref], rows, queries, runs=runs)
                    rec = {"pass": p, "ref": ref, **res}
                except (subprocess.TimeoutExpired, RuntimeError) as exc:
                    rec = {"pass": p, "ref": ref, "error": str(exc)[:500]}
                    res = {}
                records.append(rec)
                if on_record is not None:
                    on_record(rec)
                for k, v in res.items():
                    results[ref].setdefault(k, []).append(v)
    finally:
        for path in created:
            subprocess.run(
                ["git", "worktree", "remove", "--force", path],
                cwd=REPO, capture_output=True,
            )
    summary = {
        ref: {
            k: {"min": min(v), "median": round(statistics.median(v), 3), "all": v}
            for k, v in per.items()
        }
        for ref, per in results.items()
    }
    return records, summary


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("refs", nargs="+")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--runs", type=int, default=3,
                    help="min-of-N runs per query inside each JVM")
    ap.add_argument("--rows", default="er_pipeline_blocked_n3,er_pipeline_e2e_n3")
    ap.add_argument("--queries", default="")
    args = ap.parse_args()
    rows = [r for r in args.rows.split(",") if r]
    queries = [q for q in args.queries.split(",") if q]

    _, summary = interleaved_ab(
        args.refs, rows, queries, passes=args.passes, runs=args.runs,
        on_record=lambda rec: print(json.dumps(rec), flush=True),
    )
    print(json.dumps({"summary": summary}, indent=2), flush=True)


if __name__ == "__main__":
    main()
