"""Distributed connected-components tests (replaces reference driver DFS,
src/clustering.py:6-54)."""

from pyspark_entity_resolution_spark.operators import clustering
from pyspark_entity_resolution_spark.operators.clustering import (
    cluster_matched_pairs,
    connected_components,
)

# Both labeling paths, as values of clustering.DRIVER_BOUND: the default
# bound sends these small graphs to the driver-side union-find, a bound
# of 0 edges sends any non-empty graph through the star rounds.
CC_PATHS = {"driver": clustering.DRIVER_BOUND, "star_loop": 0}


def _components_as_partitions(rows):
    from collections import defaultdict

    groups = defaultdict(set)
    for r in rows:
        groups[r["component"]].add(r["node"])
    return {frozenset(g) for g in groups.values()}


def test_chain_and_fanout(spark):
    # chain a-b-c-d plus fan-out e-{f,g}, isolated pair h-i
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"), ("e", "g"), ("h", "i")],
        ["src", "dst"],
    )
    got = _components_as_partitions(connected_components(edges).collect())
    assert got == {
        frozenset({"a", "b", "c", "d"}),
        frozenset({"e", "f", "g"}),
        frozenset({"h", "i"}),
    }


def test_long_chain_converges(spark, monkeypatch):
    # a 40-node path: the worst case for label propagation (diameter 40);
    # the reference's recursive DFS would be fine here but crashes at
    # recursion depth ~1000 — ours is bounded by iterations, not depth.
    monkeypatch.setattr(clustering, "MAX_ITERATIONS", 64)
    n = 40
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)], ["src", "dst"]
    )
    rows = connected_components(edges).collect()
    comps = {r["component"] for r in rows}
    assert comps == {"n000"}  # min label wins
    assert len(rows) == n + 1


def test_cycle(spark):
    edges = spark.createDataFrame(
        [("x", "y"), ("y", "z"), ("z", "x")], ["src", "dst"]
    )
    got = _components_as_partitions(connected_components(edges).collect())
    assert got == {frozenset({"x", "y", "z"})}


def test_cluster_matched_pairs_namespacing(spark):
    # same numeric id on both sides must NOT merge (distinct datasets)
    matches = spark.createDataFrame(
        [(1, 1), (2, 3)], ["a_id", "b_id"]
    )
    rows = cluster_matched_pairs(matches, "a_id", "b_id").collect()
    from collections import defaultdict

    groups = defaultdict(set)
    for r in rows:
        groups[r["cluster_id"]].add((r["df_name"], r["id"]))
    parts = {frozenset(g) for g in groups.values()}
    assert parts == {
        frozenset({("a", "1"), ("b", "1")}),
        frozenset({("a", "2"), ("b", "3")}),
    }


def test_explicit_checkpoint_storage_and_probes(spark, monkeypatch):
    """checkpoint_storage overrides the memory-aware choice without
    changing results, and the storage probes the choice rests on return
    sane values on a materialized checkpoint (real footprint > 0, real
    heap > 0) — if either probe ever breaks, the demotion heuristic
    silently degrades to always-DISK_ONLY on huge graphs, a measured
    ~1.3x wall-clock loss on big heaps."""
    from pyspark import StorageLevel

    from pyspark_entity_resolution_spark.operators.clustering import (
        _checkpoint_bytes,
        _jvm_max_heap,
    )

    monkeypatch.setattr(clustering, "DRIVER_BOUND", CC_PATHS["star_loop"])
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["src", "dst"]
    )
    got = _components_as_partitions(
        connected_components(
            edges, checkpoint_storage=StorageLevel.DISK_ONLY
        ).collect()
    )
    assert got == {frozenset({"a", "b", "c"}), frozenset({"x", "y"})}

    ck = edges.localCheckpoint()
    ck.count()
    assert (_checkpoint_bytes(ck) or 0) > 0
    ck.unpersist()
    assert (_jvm_max_heap(spark) or 0) > 0


def _union_find_labels(pairs):
    """Reference labeling: node -> min node of its component, by a
    union-find whose merges always hang the larger root under the
    smaller one (so every root is its component's minimum)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _neighbors(pairs):
    """Undirected adjacency of an edge multiset, self-loops dropped
    (a self-loop puts u in its own neighborhood, which neither star's
    minimum nor its emission rule can see)."""
    from collections import defaultdict

    nbrs = defaultdict(set)
    for a, b in pairs:
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    return nbrs


def _large_star_reference(pairs):
    """Kiveris et al. large-star: for every node u, link each strictly
    larger neighbor v to m(u) = min(N(u) ∪ {u})."""
    out = set()
    for u, nu in _neighbors(pairs).items():
        m = min(nu | {u})
        out |= {(v, m) for v in nu if v > u}
    return out


def _small_star_reference(pairs):
    """Kiveris et al. small-star: for every node u with smaller
    neighbors N⁻(u), link each of N⁻(u) ∪ {u} to m = min(N⁻(u))."""
    out = set()
    for u, nu in _neighbors(pairs).items():
        lower = {v for v in nu if v < u}
        if lower:
            m = min(lower)
            out |= {(v, m) for v in lower | {u} if v != m}
    return out


def _labels(df):
    return {r["node"]: r["component"] for r in df.collect()}


def test_window_stars_match_kiveris_definitions(spark, monkeypatch):
    """Each window star's row set equals the set-operation definition,
    and end-to-end labels (node -> min node, not only the partition)
    equal union-find, on a random multigraph with self-loops and
    duplicate edges in both directions."""
    import random

    from pyspark_entity_resolution_spark.operators.clustering import (
        _large_star_window,
        _small_star_window,
    )

    rng = random.Random(99)
    raw = [(rng.randrange(300), rng.randrange(300)) for _ in range(700)] + [
        (5, 5), (7, 7), (950, 950), (10, 20), (10, 20), (20, 10), (20, 10),
    ]
    edges = spark.createDataFrame(raw, ["src", "dst"])
    e = edges.select(edges.src.alias("u"), edges.dst.alias("v"))

    got_large = {(r["u"], r["v"]) for r in _large_star_window(e).collect()}
    assert got_large == _large_star_reference(raw)
    got_small = {(r["u"], r["v"]) for r in _small_star_window(e).collect()}
    assert got_small == _small_star_reference(raw)

    monkeypatch.setattr(clustering, "DRIVER_BOUND", CC_PATHS["star_loop"])
    assert _labels(connected_components(edges)) == _union_find_labels(raw)


def test_labels_match_union_find_on_chain_and_string_keys(spark, monkeypatch):
    """Convergence-sensitive shapes: a 200-node chain fed in shuffled
    order (the most alternating-star rounds for its size) and
    string-namespaced node keys (the cluster_matched_pairs path) — the
    probe must declare the true fixed point and only it, and the
    driver-side labeling must agree with it."""
    import random

    chain = [(i, i + 1) for i in range(199)]
    random.Random(5).shuffle(chain)
    chain_df = spark.createDataFrame(chain, ["src", "dst"])
    named = [("a:1", "b:2"), ("b:2", "a:3"), ("a:9", "b:9"), ("b:10", "a:9")]
    named_df = spark.createDataFrame(named, ["src", "dst"])
    for path, bound in CC_PATHS.items():
        monkeypatch.setattr(clustering, "DRIVER_BOUND", bound)
        labels = _labels(connected_components(chain_df))
        assert labels == _union_find_labels(chain), path
        assert set(labels.values()) == {0}, path
        got = _labels(connected_components(named_df))
        assert got == _union_find_labels(named), path


def test_star_loop_raises_when_iterations_run_out(spark, monkeypatch):
    """An unconverged round output is not a star forest (one round on a
    65-node chain leaves nodes with edges to two roots), so running out
    of MAX_ITERATIONS must raise instead of returning duplicate node
    rows; with enough rounds the same chain labels as one component."""
    import pytest

    monkeypatch.setattr(clustering, "DRIVER_BOUND", CC_PATHS["star_loop"])
    chain = [(i, i + 1) for i in range(64)]
    edges = spark.createDataFrame(chain, ["src", "dst"])
    with monkeypatch.context() as m:
        m.setattr(clustering, "MAX_ITERATIONS", 1)
        with pytest.raises(RuntimeError, match="MAX_ITERATIONS=1"):
            connected_components(edges)
    rows = connected_components(edges).collect()
    assert len(rows) == 65 and {r["component"] for r in rows} == {0}


def test_raw_checkpoint_released_on_every_exit_path(spark, monkeypatch):
    """The caller's materialized edge list is released when the loop
    runs zero rounds (and raises for not converging) and when a round
    raises, not only after round 1, and after the driver-side labeling
    of a small graph."""
    import pytest

    from pyspark_entity_resolution_spark.operators import clustering as C

    raw_ids = []

    def spying(fn):
        def spy(raw, *args, **kwargs):
            raw_ids.append(raw._jdf.queryExecution().analyzed().rdd().id())
            return fn(raw, *args, **kwargs)

        return spy

    monkeypatch.setattr(
        C, "_connected_components_loop", spying(C._connected_components_loop)
    )
    monkeypatch.setattr(C, "_label_on_driver", spying(C._label_on_driver))
    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 4)], ["src", "dst"])

    def persisted(rdd_id):
        return spark.sparkContext._jsc.getPersistentRDDs().containsKey(rdd_id)

    with monkeypatch.context() as m:
        m.setattr(C, "DRIVER_BOUND", CC_PATHS["star_loop"])
        m.setattr(C, "MAX_ITERATIONS", 0)
        with pytest.raises(RuntimeError, match="did not converge"):
            C.connected_components(edges)
    assert not persisted(raw_ids[-1])

    C.connected_components(edges).collect()
    assert len(raw_ids) == 2 and not persisted(raw_ids[-1])

    def boom(*args):
        raise RuntimeError("round failed")

    monkeypatch.setattr(C, "_round_step", boom)
    monkeypatch.setattr(C, "DRIVER_BOUND", CC_PATHS["star_loop"])
    with pytest.raises(RuntimeError, match="round failed"):
        C.connected_components(edges)
    assert len(raw_ids) == 3 and not persisted(raw_ids[-1])


def test_round_stats_diagnostic_records_every_round(spark, monkeypatch):
    """LAST_RUN_ROUND_STATS (read by erbench's ``clustering.rounds`` and
    ab_bench's ``cc_<edges>`` rows): one entry per executed round, seconds
    positive, edge counts non-increasing after the first star pass
    settles, and the final round is the probed one that converged."""
    from pyspark.sql import functions as F

    monkeypatch.setattr(clustering, "DRIVER_BOUND", CC_PATHS["star_loop"])
    edges = spark.range(2000).select(
        (F.abs(F.xxhash64("id")) % 600).alias("src"),
        (F.abs(F.xxhash64(F.col("id") + 7)) % 600).alias("dst"),
    )
    clustering.connected_components(edges).count()
    stats = clustering.LAST_RUN_ROUND_STATS
    assert stats, "no rounds recorded"
    assert all(s["sec"] > 0 for s in stats)
    assert all(isinstance(s["edges"], int) for s in stats)
    assert stats[-1]["probed"] is True  # converged via the gated probe
    # a fresh call replaces the sink (last call wins)
    clustering.connected_components(
        spark.createDataFrame([(1, 2)], "src long, dst long")
    ).count()
    assert clustering.LAST_RUN_ROUND_STATS is not stats


def test_self_loop_only_nodes_label_as_singletons(spark, monkeypatch):
    """r10: singleton recovery switched from an all-nodes anti-join to
    the self-loop-only set — nodes whose EVERY edge is a self-loop must
    still come back as their own component, nodes with both a self-loop
    and a real edge must not be double-labeled, and a pure
    no-self-loop input must cover every node (the empty-selfs fast
    path) — on both labeling paths."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (900, 900), (900, 900), (901, 901), (3, 3)],
        ["src", "dst"],
    )
    edges2 = spark.createDataFrame([(1, 2), (4, 5)], ["src", "dst"])
    for path, bound in CC_PATHS.items():
        monkeypatch.setattr(clustering, "DRIVER_BOUND", bound)
        got = [(r.node, r.component)
               for r in connected_components(edges).collect()]
        assert sorted(got) == [(1, 1), (2, 1), (3, 1), (900, 900), (901, 901)], path
        # empty-selfs fast path: all nodes labeled, no singleton branch
        got2 = {(r.node, r.component)
                for r in connected_components(edges2).collect()}
        assert got2 == {(1, 1), (2, 1), (4, 4), (5, 4)}, path


def test_null_endpoint_edges_dropped_on_both_paths(spark, monkeypatch):
    """An edge with a null endpoint carries no node (the loop's
    ``u == v`` / ``u != v`` filters are null-rejecting); the driver-side
    labeling must drop exactly the same edges."""
    edges = spark.createDataFrame(
        [("a", None), (None, "b"), ("c", "d"), (None, None), ("e", "e")],
        "src string, dst string",
    )
    for path, bound in CC_PATHS.items():
        monkeypatch.setattr(clustering, "DRIVER_BOUND", bound)
        got = [(r.node, r.component)
               for r in connected_components(edges).collect()]
        assert sorted(got) == [("c", "c"), ("d", "c"), ("e", "e")], path


def test_small_graph_runs_at_most_two_jobs(spark):
    """A graph within the driver bound is labeled on the driver: the
    edge checkpoint and one capped collect — no count, and not a dozen
    star-round jobs of fixed cost (the round loop ran 23 on this
    graph)."""
    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 6), (7, 1)], "src long, dst long"
    )
    sc.setJobGroup("cc-small-graph-jobs", "connected_components job count")
    try:
        rows = connected_components(edges).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("cc-small-graph-jobs")
    assert len(rows) == 7
    assert len(jobs) <= 2, jobs


def test_small_call_after_large_resets_round_stats(spark, monkeypatch):
    """LAST_RUN_ROUND_STATS describes the most recent call: a small
    (driver-labeled) graph after a star-loop run reports no rounds
    instead of the previous call's."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with monkeypatch.context() as m:
        m.setattr(clustering, "DRIVER_BOUND", CC_PATHS["star_loop"])
        clustering.connected_components(edges)
    assert clustering.LAST_RUN_ROUND_STATS
    clustering.connected_components(edges)
    assert clustering.LAST_RUN_ROUND_STATS == []


def test_patched_driver_bound_moves_connected_components(spark, monkeypatch):
    """connected_components reads DRIVER_BOUND when it is called, as the
    incremental fold does: patched to 0, a tiny graph runs the star
    rounds, and the shuffle width the loop derives from the bound stays
    at least one partition."""
    monkeypatch.setattr(clustering, "DRIVER_BOUND", 0)
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    labels = _labels(clustering.connected_components(edges))
    assert labels == {1: 1, 2: 1, 3: 1}
    assert clustering.LAST_RUN_ROUND_STATS
