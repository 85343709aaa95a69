"""End-to-end ER pipeline tests against the brute-force Python oracle."""

import pytest

from pyspark_entity_resolution_spark.operators.metrics import match_quality
from pyspark_entity_resolution_spark.pipeline import (
    ERConfig,
    match_publications,
    prepare_publications,
    resolve_pipeline,
)

from .er_fixture import oracle_matches, write_fixture


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    tmpdir = tmp_path_factory.mktemp("er")
    return write_fixture(str(tmpdir))


@pytest.fixture(scope="module")
def cleaned(spark, fixture_paths):
    path_a, path_b, _, _ = fixture_paths
    cfg = ERConfig()
    a = prepare_publications(spark, path_a, cfg).cache()
    b = prepare_publications(spark, path_b, cfg).cache()
    return a, b


def _spark_pairs(a, b, window):
    cfg = ERConfig(window=window)
    matched = match_publications(a, b, cfg)
    return {(r["a_index"], r["b_index"]) for r in matched.collect()}


def test_full_match_equals_oracle(spark, cleaned, fixture_paths):
    _, _, recs_a, recs_b = fixture_paths
    a, b = cleaned
    got = _spark_pairs(a, b, window=None)
    expected = oracle_matches(recs_a, recs_b, window=None)
    assert got == expected
    assert len(expected) > 15  # fixture actually plants matches


@pytest.mark.parametrize("window", [1, 3, 5])
def test_blocked_match_equals_oracle(spark, cleaned, fixture_paths, window):
    _, _, recs_a, recs_b = fixture_paths
    a, b = cleaned
    got = _spark_pairs(a, b, window=window)
    expected = oracle_matches(recs_a, recs_b, window=window)
    assert got == expected


def test_author_count_is_a_blocked_join_key(spark, cleaned):
    """Every match-rule band requires equal author counts, so the
    equality filter comes first and Catalyst keys the blocked join on
    it: the Levenshtein DP never sees a pair with unequal counts."""
    import re

    a, b = cleaned
    df = match_publications(a, b, ERConfig(window=3))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # "<Join> [left keys], [right keys], <type>, ..." — keys only, not
    # the residual condition (which mentions num_authors either way)
    keys = re.findall(r"Join \[([^\]]*)\], \[([^\]]*)\]", plan)
    assert keys, plan
    assert any(
        "a_num_authors" in lk and "b_num_authors" in rk for lk, rk in keys
    ), keys


def test_blocked_subset_of_full_and_quality(spark, cleaned, fixture_paths):
    _, _, recs_a, recs_b = fixture_paths
    a, b = cleaned
    full = match_publications(a, b, ERConfig(window=None))
    blocked = match_publications(a, b, ERConfig(window=3))
    metrics = match_quality(full, blocked, keys=["a_id", "b_id"])
    assert metrics["precision"] == 1.0  # blocking never invents pairs
    assert 0.9 <= metrics["recall"] <= 1.0
    assert metrics["true duplicates"] == len(oracle_matches(recs_a, recs_b, None))


def test_cluster_and_entity_table(spark, cleaned, fixture_paths):
    _, _, recs_a, recs_b = fixture_paths
    a, b = cleaned
    cfg = ERConfig(window=3)
    matches = match_publications(a, b, cfg)
    entities = resolve_pipeline(a, b, matches, cfg)

    # expected cluster partitions via union-find over oracle pairs
    expected_pairs = oracle_matches(recs_a, recs_b, window=3)
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x, y):
        parent[find(x)] = find(y)

    for pa, pb in expected_pairs:
        union(("a", pa), ("b", pb))
    from collections import defaultdict

    groups = defaultdict(set)
    for node in parent:
        groups[find(node)].add(node)
    expected_n_clusters = len(groups)

    rows = entities.collect()
    assert len(rows) == expected_n_clusters
    # every entity row carries a value from at least one side
    for row in rows:
        assert row["a_value"] is not None or row["b_value"] is not None
    # the planted 4-node fan-out collapses into a single entity row:
    # at least one cluster has records from both sides
    both = [r for r in rows if r["a_value"] is not None and r["b_value"] is not None]
    assert len(both) >= 1
