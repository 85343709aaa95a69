"""CLI end-to-end: the staged pipeline through the real
``python -m pyspark_entity_resolution_spark`` entry point, compared to the
brute-force Python oracle (codifies the manual verification drive)."""

import json
import os
import subprocess
import sys

import pytest

from .er_fixture import oracle_matches, write_fixture


def _run_cli(*args, env):
    result = subprocess.run(
        [sys.executable, "-m", "pyspark_entity_resolution_spark", *args],
        capture_output=True,
        text=True,
        env=env,
        cwd="/root/repo",
        timeout=420,
    )
    assert result.returncode == 0, result.stderr[-2000:]
    lines = [l for l in result.stdout.strip().splitlines() if l.strip()]
    return lines[-1] if lines else ""


@pytest.mark.slow
def test_cli_run_matches_oracle(tmp_path):
    pa, pb, recs_a, recs_b = write_fixture(str(tmp_path))
    env = dict(
        os.environ, PYTHONPATH="/root/repo", SPARK_GRAFT_CPUS="4",
    )
    out = _run_cli(
        "run", "--left-raw", pa, "--right-raw", pb,
        "--dest", str(tmp_path / "out"), "--year-range", "3",
        env=env,
    )
    stats = json.loads(out)
    assert stats["matches"] == len(oracle_matches(recs_a, recs_b, window=3))
    assert stats["entities"] > 0
    assert (tmp_path / "out" / "entities_csv" / "Matched_Entities.csv").exists()


def test_bench_artifact_tail_parses(capsys):
    """The driver records only a bounded TAIL of bench stdout and parses
    the final JSON line for per-query timings. The emission contract:
    last line is the compact headline (timings present, no bulky
    workload blob), preceded by the self-describing metadata line."""
    import bench

    bench.emit_bench_artifact(
        12.345,
        {"q1": 1.0, "q2": 2.0},
        0.1,
        {"table_rows": {"lineitem": 600572}, "pack_provenance": {}},
    )
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.strip()]
    assert len(lines) == 2
    head = json.loads(lines[-1])
    assert head["metric"] == "headline_total_runtime"
    assert head["queries"] == {"q1": 1.0, "q2": 2.0}
    assert head["value"] == 12.345 and head["unit"] == "sec"
    assert "workload" not in head  # the blob must not ride the tail line
    assert len(lines[-1]) < 4096  # stays inside any sane tail window
    meta = json.loads(lines[-2])
    assert meta["metric"] == "workload_metadata"
    assert meta["workload"]["table_rows"]["lineitem"] == 600572


def test_bench_full_artifact_contract(capsys):
    """--full mode keeps the same tail-safe two-line emission with its
    own metric name, and the per-query spread rides the metadata line,
    never the tail line."""
    import bench

    bench.emit_bench_artifact(
        5.0,
        {"q1": 1.0},
        0.1,
        {"mode": "full", "runs_per_query": 2, "query_spread_sec": {"q1": 0.2}},
        metric="full_total_runtime",
    )
    lines = [l for l in capsys.readouterr().out.strip().splitlines() if l.strip()]
    assert len(lines) == 2
    meta = json.loads(lines[0])
    assert meta["workload"]["query_spread_sec"] == {"q1": 0.2}
    head = json.loads(lines[-1])
    assert head["metric"] == "full_total_runtime"
    assert "workload" not in head


def test_auto_baseline_ref_is_prior_round_not_head():
    """The auto-detected bench baseline must be a round-boundary commit
    STRICTLY before HEAD — baselining HEAD against itself would bury
    any real round-over-round delta under a tautological ~0."""
    import subprocess

    import bench

    ref = bench._auto_baseline_ref()
    assert ref is not None and len(ref) == 40
    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd="/root/repo",
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert ref != head
    subject = subprocess.run(
        ["git", "log", "-1", "--format=%s", ref], cwd="/root/repo",
        capture_output=True, text=True, check=True,
    ).stdout
    assert subject.startswith("round ")


def test_ab_bench_worktree_cache_is_sha_keyed(tmp_path, monkeypatch):
    """ensure_worktree resolves movable refs to commit shas before
    caching — a name-keyed cache would silently measure a stale
    checkout after the ref moves. A REF naming a directory is that
    checkout as-is: its absolute path, with no git call."""
    from tools import ab_bench

    sha = ab_bench.resolve_ref("HEAD")
    assert len(sha) == 40 and ab_bench.resolve_ref(sha) == sha

    def no_git(*args, **kwargs):
        raise AssertionError(f"git called for a directory REF: {args}")

    monkeypatch.setattr(ab_bench.subprocess, "run", no_git)
    monkeypatch.chdir(tmp_path.parent)
    assert ab_bench.ensure_worktree(tmp_path.name) == str(tmp_path)


def test_ab_bench_removes_only_the_worktrees_it_created(tmp_path, monkeypatch):
    """interleaved_ab removes the git worktree it added for a git REF,
    also when a probe raises out of the pass loop, and leaves a
    directory REF alone."""
    import pytest

    from tools import ab_bench

    git_calls = []

    def fake_run(cmd, **kwargs):
        git_calls.append(cmd)

    def failing_probe(tree, *args, **kwargs):
        raise KeyboardInterrupt

    monkeypatch.setattr(ab_bench.subprocess, "run", fake_run)
    monkeypatch.setattr(ab_bench, "resolve_ref", lambda ref: "f" * 40)
    monkeypatch.setattr(ab_bench, "run_probe", failing_probe)
    with pytest.raises(KeyboardInterrupt):
        ab_bench.interleaved_ab(
            [str(tmp_path), "HEAD"], ["cc_1000"], [], passes=1, runs=1
        )
    path = "/tmp/ab_worktree_" + "f" * 16
    assert [c[:3] for c in git_calls] == [
        ["git", "worktree", "add"], ["git", "worktree", "remove"]
    ]
    assert git_calls[-1][-1] == path
    assert tmp_path.is_dir()


def test_interleaved_baseline_embeds_pairs_and_summary(monkeypatch):
    """The embedded same-host baseline is interleaved-grade since r8:
    the artifact block must carry the per-pass pair records verbatim
    (so a judge can check straddle, not trust one delta), the per-ref
    min/median summary, both resolved shas, and a protocol string that
    says the ordering was interleaved. Pass loop stubbed — the live
    loop is ab_bench's, exercised by the per-round bench run."""
    import bench
    from tools import ab_bench

    fake_records = [
        {"pass": 0, "ref": "a" * 40, "tpch_q1_pricing_summary": 1.0},
        {"pass": 0, "ref": "b" * 40, "tpch_q1_pricing_summary": 1.2},
        {"pass": 1, "ref": "b" * 40, "tpch_q1_pricing_summary": 1.1},
        {"pass": 1, "ref": "a" * 40, "tpch_q1_pricing_summary": 0.9},
    ]
    fake_summary = {
        "a" * 40: {"tpch_q1_pricing_summary":
                   {"min": 0.9, "median": 0.95, "all": [1.0, 0.9]}},
        "b" * 40: {"tpch_q1_pricing_summary":
                   {"min": 1.1, "median": 1.15, "all": [1.2, 1.1]}},
    }
    calls = {}

    def fake_interleaved_ab(refs, rows, queries, passes, runs, on_record=None):
        calls["refs"], calls["passes"], calls["runs"] = refs, passes, runs
        return fake_records, fake_summary

    monkeypatch.setattr(ab_bench, "interleaved_ab", fake_interleaved_ab)
    monkeypatch.setattr(ab_bench, "resolve_ref",
                        lambda ref: "a" * 40 if ref == "HEAD" else "b" * 40)
    monkeypatch.setenv("SPARK_GRAFT_BASELINE_PASSES", "2")
    monkeypatch.setenv("SPARK_GRAFT_BASELINE_RUNS", "2")

    out = bench._baseline_same_host_interleaved("some-ref")
    assert out["head_ref"] == "a" * 40 and out["ref"] == "b" * 40
    assert calls["refs"] == ["a" * 40, "b" * 40]
    assert calls["passes"] == 2 and calls["runs"] == 2
    assert out["pairs"] == fake_records
    assert out["summary"] == fake_summary
    assert "interleaved" in out["protocol"]

    # a single pass is A-then-B with no order reversal — the artifact
    # must carry the sequential-grade warning so nobody reads it as
    # straddle evidence (the r8 sf1 run made exactly that mistake)
    monkeypatch.setenv("SPARK_GRAFT_BASELINE_PASSES", "1")
    one = bench._baseline_same_host_interleaved("some-ref")
    assert one["sequential_grade"] is True
    assert "sequential A-then-B" in one["protocol"]

    # HEAD == baseline must short-circuit (tautological comparison)
    monkeypatch.setattr(ab_bench, "resolve_ref", lambda ref: "a" * 40)
    same = bench._baseline_same_host_interleaved("HEAD")
    assert "error" in same and "pairs" not in same
