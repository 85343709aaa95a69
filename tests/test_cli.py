"""CLI end-to-end: the staged pipeline through the real
``python -m pyspark_entity_resolution_spark`` entry point, compared to the
brute-force Python oracle (codifies the manual verification drive)."""

import json
import os
import subprocess
import sys

import pytest

from .er_fixture import oracle_matches, write_fixture

# the checkout holding this test file: its package is the one under test
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_cli(*args, env):
    result = subprocess.run(
        [sys.executable, "-m", "pyspark_entity_resolution_spark", *args],
        capture_output=True,
        text=True,
        env=env,
        cwd=ROOT,
        timeout=420,
    )
    assert result.returncode == 0, result.stderr[-2000:]
    lines = [l for l in result.stdout.strip().splitlines() if l.strip()]
    return lines[-1] if lines else ""


@pytest.mark.slow
def test_cli_run_matches_oracle(tmp_path):
    pa, pb, recs_a, recs_b = write_fixture(str(tmp_path))
    env = dict(
        os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_CPUS="4",
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
