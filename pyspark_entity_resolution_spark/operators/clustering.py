"""Distributed connected components (entity clustering).

The reference collects every matched pair to the driver, builds a Python
adjacency dict, and runs recursive DFS (reference src/clustering.py:6-54,
G1 in SURVEY.md §2.8) — O(matches) driver memory and a recursion-depth
crash on long chains. This module replaces it with the **alternating
large-star / small-star algorithm** (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14): each round rewires edges
toward each neighborhood's minimum and provably converges to star
forests in O(log² n) rounds — independent of graph diameter.

Every round is two window shuffle+sort passes over the edge list plus
a round-final ``distinct`` — no joins (:func:`_round_step`) — with
``localCheckpoint`` truncating lineage. The
final component id is the MIN node id in the component —
deterministic, unlike the reference's enumeration-order cluster ids
(SURVEY.md §7.3: tests compare cluster *partitions*, not ids).

Small graphs skip the rounds: at most :data:`DRIVER_BOUND` edges are
collected once and labeled on the driver by a union-find
(:func:`_label_on_driver`), so driver memory holds at most that many
edges; the result is a local relation with the same labels. The
incremental label store (streaming/er.py) shares this driver-side
toolkit: the bound, the capped collect, the node-key codec, the
union-find, the local-relation builder and the conf override.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.io import LEFT, RIGHT

# Row bound of the driver-side labeling paths: a graph of at most this
# many edges is collected and labeled in-process (the size at which the
# star loop would run on one shuffle partition anyway). Also bounds each
# collect of the incremental fold's driver path (streaming/er.py). Read
# at call time, so patching it moves both.
DRIVER_BOUND = 100_000
# star rounds the loop runs before it gives up and raises
MAX_ITERATIONS = 25
# edge count from which the loop weighs its checkpoints' measured
# footprint against the heap (see connected_components)
DISK_ONLY_ABOVE_EDGES = 20_000_000


def _capped_collect(df: DataFrame, cap: int):
    """``df``'s rows as tuples, or None when it holds more than ``cap``
    rows — in one job (a bare ``limit`` on a multi-partition scan runs
    several), through Arrow, so an over-cap result is dropped without
    building a Python object per row."""
    table = df.coalesce(1).limit(cap + 1).toArrow()
    if table.num_rows > cap:
        return None
    return list(zip(*(col.to_pylist() for col in table.columns)))


@contextmanager
def _conf_override(spark, key: str, value: str):
    """Set the session conf ``key`` to ``value`` for the block, then put
    back its previous value, or unset it if it was unset."""
    previous = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if previous is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, previous)


def _local_relation(spark, schema, columns) -> DataFrame:
    """A local DataFrame of ``schema`` (a ``StructType``) holding one
    Python sequence per column, built through one pyarrow table. Its
    rows keep their order in contiguous slices, one per
    ``defaultParallelism``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(list(col), f.type) for col, f in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


def _encode_nodes(matches, left_id, right_id, left_name, right_name) -> DataFrame:
    """The ``(src, dst)`` edges of matched pairs, each id namespaced by
    its side as the node key ``"{side}:{id}"``."""
    return matches.select(
        F.concat(F.lit(left_name + ":"), F.col(left_id).cast("string")).alias("src"),
        F.concat(F.lit(right_name + ":"), F.col(right_id).cast("string")).alias("dst"),
    )


def _decode_nodes(labels: DataFrame) -> DataFrame:
    """``(id, df_name, cluster_id)`` of ``(node, component)`` labels:
    each node key split back into its id and side."""
    split = F.split(F.col("node"), ":", 2)
    return labels.select(
        split.getItem(1).alias("id"),
        split.getItem(0).alias("df_name"),
        F.col("component").alias("cluster_id"),
    )


def _release_checkpoint(df: DataFrame) -> None:
    """Best-effort unpersist of a ``localCheckpoint`` result's backing
    RDD blocks. Left to the JVM's ContextCleaner, superseded round
    checkpoints stay persisted, which at 100M-edge rounds holds several
    full edge-set copies on the heap at once. A non-LogicalRDD plan (or
    a Connect session, where the JVM internals are unreachable) is
    silently skipped: the call is an optimization, never a correctness
    dependency."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _checkpoint_bytes(df: DataFrame) -> "int | None":
    """Actual persisted footprint (memory + disk bytes) of a
    materialized ``localCheckpoint`` result's RDD blocks, read from the
    block manager's storage info — a measurement, not a per-row size
    guess (UnsafeRow width varies with node-key type: long ids vs
    namespaced strings differ 4x). None when the JVM internals are
    unreachable (Connect) or the RDD is not in the storage list."""
    try:
        rid = df._jdf.queryExecution().analyzed().rdd().id()
        sc = df.sparkSession.sparkContext
        for info in sc._jsc.sc().getRDDStorageInfo():
            if info.id() == rid:
                return int(info.memSize()) + int(info.diskSize())
    except Exception:
        pass
    return None


def _jvm_max_heap(spark) -> "int | None":
    """Driver JVM max heap in bytes (== the executor heap in local
    mode, the only mode where ``localCheckpoint`` blocks live on the
    driver's block manager anyway). None on Connect."""
    try:
        return int(
            spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
        )
    except Exception:
        return None


def _large_star_window(e: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u}).

    The per-node minimum is ``min(v) OVER (PARTITION BY u)`` on the
    symmetrized set: one shuffle+sort and no join. No ``distinct()``
    here: each undirected input edge {x, y} (x < y) survives the
    ``v > u`` filter exactly once and emits exactly one rewired row
    (y, m(x)), so the output row count equals the input edge count.
    Small-star's round-final ``distinct`` dedups whatever coincides."""
    from pyspark.sql import Window

    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    full = Window.partitionBy("u")
    m = F.least(F.min("v").over(full), F.col("u"))
    return (
        sym.select("u", "v", m.alias("m"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )


def _small_star_window(e: DataFrame) -> DataFrame:
    """Direct edges large->small; for each node u connect all of its
    smaller neighbors (and u itself) to the minimum one.

    Per-node min and the one-self-row-per-node both come out of a single
    sorted window pass (row_number marks the representative row), so the
    star costs one shuffle+sort plus the round-final distinct — no join,
    no separate selfs aggregation."""
    from pyspark.sql import Window

    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    ordered = Window.partitionBy("u").orderBy("v")
    full = ordered.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    rows = d.select(
        "u",
        "v",
        F.min("v").over(full).alias("m"),
        F.row_number().over(ordered).alias("rn"),
    )
    pair = F.struct(F.col("v").alias("a"), F.col("m").alias("b"))
    self_pair = F.when(
        F.col("rn") == 1, F.struct(F.col("u").alias("a"), F.col("m").alias("b"))
    )
    return (
        rows.select(F.explode(F.array(pair, self_pair)).alias("s"))
        .filter(F.col("s").isNotNull())
        .select(F.col("s.a").alias("u"), F.col("s.b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _round_step(e: DataFrame) -> DataFrame:
    """One alternating round: window stars (no join) plus a round-final
    distinct."""
    return _small_star_window(_large_star_window(e))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    checkpoint_storage=None,
) -> DataFrame:
    """Return ``(node, component)`` for every node appearing in ``edges``.

    Node columns may be any orderable type (string node keys are fine —
    namespace ids from different datasets, e.g. ``"a:" + id``).

    Execution notes (deliberate, documented trade-offs):

    - SMALL GRAPHS ARE LABELED ON THE DRIVER: when at most
      :data:`DRIVER_BOUND` edges have two non-null endpoints they come
      back from one capped collect (so the driver holds at most that
      many edges) and are labeled by a union-find whose roots are
      component minima; the result is a local DataFrame with the same
      contract (null-endpoint edges dropped, self-loop-only nodes as
      singletons, every node once) and ``LAST_RUN_ROUND_STATS`` reads
      ``[]``. Larger graphs run the star rounds below, and raise
      RuntimeError when :data:`MAX_ITERATIONS` rounds pass without the
      fixed-point probe declaring convergence.
    - EAGER at call time: the caller's edge plan is materialized once
      (``localCheckpoint``) so the iterative rounds never re-evaluate an
      expensive upstream candidate join. This is not a lazy
      transformation.
    - Checkpoint STORAGE LEVEL is memory-aware: from
      :data:`DISK_ONLY_ABOVE_EDGES` edges the MEASURED footprint of the
      materialized edge checkpoint is compared against the JVM heap,
      and only when the loop's ~3 resident copies (previous + current
      round, with headroom for large-star expansion) would
      crowd the unified memory region do the per-round checkpoints
      demote to DISK_ONLY (the rounds re-read each checkpoint a handful
      of times; the OS page cache absorbs most of it). Neither level is
      right unconditionally: on a small heap MEMORY_AND_DISK runs out of
      execution memory, since persisted blocks are protected from
      eviction up to ``spark.memory.storageFraction``, while on a large
      one DISK_ONLY only adds wall-clock. Pass ``checkpoint_storage`` (a
      ``StorageLevel``) to override the choice in either direction; an
      explicit level also applies to the INITIAL edge-set
      materialization, which the automatic demotion cannot protect (it
      measures the footprint only after that first checkpoint exists).
    - NOT thread-safe with respect to ``spark.sql.shuffle.partitions``:
      the loop narrows the session conf to the edge volume for the
      duration of the call (then restores it), because Spark has no
      per-plan shuffle-width control for groupBy/join. A concurrent
      query planned on the same SparkSession during the call can observe
      the narrowed width. The narrowed width never EXCEEDS the session's
      configured value (a session width below the usual floor is
      honored as-is).
    """
    # materialize the caller's edge plan ONCE: the self-loop-only set and
    # the working edge set both derive from the checkpointed raw list, so an
    # expensive upstream candidate join (blocked self-join, LSH band
    # join, deletion-neighborhood join...) is never evaluated twice.
    # An explicit ``checkpoint_storage`` applies HERE too, not only to
    # the per-round checkpoints: the automatic demotion below can only
    # act after this first materialization succeeds, so a caller on a
    # heap-constrained driver needs the override to reach the initial
    # checkpoint as well.
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(
        storageLevel=checkpoint_storage
    )
    # the type the loop's union of both endpoint columns resolves to
    key = raw.select("u").union(raw.select("v")).schema[0].dataType
    rows = _capped_collect(
        raw.filter(F.col("u").isNotNull() & F.col("v").isNotNull()).select(
            F.col("u").cast(key), F.col("v").cast(key)
        ),
        DRIVER_BOUND,
    )
    if rows is not None:
        # one partition's worth of edges: the rounds would be one core's
        # work plus a dozen jobs of fixed cost, so label them in-process
        try:
            return _label_on_driver(raw, rows, key)
        finally:
            _release_checkpoint(raw)

    n_edges = raw.count()
    # size the loop's shuffle width to the EDGE volume, not the session
    # default: the rounds iterate on the edge list, and a small round at
    # a wide session width pays near-empty shuffle stages of pure
    # task-launch latency. At real edge volumes the clamp leaves the
    # session width untouched. Results are width-independent.
    spark = raw.sparkSession
    width_key = "spark.sql.shuffle.partitions"
    width = spark.conf.get(width_key)
    try:
        # never raise the width above the session's own setting (a
        # session configured below the floor keeps its value)
        width = str(min(int(width), -(-n_edges // max(1, DRIVER_BOUND))))
    except ValueError:  # non-numeric (e.g. "auto") — leave it alone
        pass
    level = checkpoint_storage
    if level is None and n_edges >= DISK_ONLY_ABOVE_EDGES:
        # memory-aware demotion: `raw` is materialized, so its real
        # block footprint is readable from the storage manager. The
        # loop keeps at most ~2 full-size checkpoints resident
        # (previous + current round — superseded ones are released
        # eagerly, and no all-nodes table is held); 4x still buffers
        # large-star's transient expansion. Demote only when that
        # working set would not fit beside execution in the unified
        # region (~60% of heap, half of it eviction-protected storage).
        # Unknown heap or footprint (Connect, storage-info miss) demotes
        # conservatively: the fixed edge-count threshold already says
        # the graph is huge.
        ckpt_bytes = _checkpoint_bytes(raw)
        heap = _jvm_max_heap(spark)
        if ckpt_bytes is None or heap is None or 4 * ckpt_bytes > 0.3 * heap:
            from pyspark import StorageLevel

            level = StorageLevel.DISK_ONLY
            # DEMOTE the raw checkpoint too (the count above needed it
            # materialized before the size was known): one cheap
            # shuffle-free copy-through, after which the big edge set no
            # longer occupies the storage-memory region the loop's first
            # distinct() aggregations need.
            demoted = raw.localCheckpoint(storageLevel=level)
            _release_checkpoint(raw)
            raw = demoted
    with _conf_override(spark, width_key, width):
        return _connected_components_loop(raw, level, n_edges)


# Per-round diagnostics of the MOST RECENT connected_components call on
# this driver: one dict per completed round — {'sec': wall seconds for
# the round's star step + materializing count (+ fixed-point probe on
# probed rounds), 'edges': the round's output edge count, 'probed':
# whether the count plateau let the convergence probe run}. Written by
# _connected_components_loop (and reset to [] by the driver-side
# labeling, which runs no rounds). Read by erbench/run.py
# (``clustering.rounds``) and by tools/ab_bench.py's ``cc_<edges>`` rows,
# both through ``getattr(clustering, "LAST_RUN_ROUND_STATS", [])``, so
# renaming or deleting it zeroes their round counts instead of failing.
# Driver-side diagnostic only — last call wins; not part of the result
# contract and not thread-safe.
LAST_RUN_ROUND_STATS: list = []


def _min_root_labels(pairs) -> dict:
    """``{node: component}`` for the non-null ``(u, v)`` pairs: a
    union-find whose merges hang the larger root under the smaller one,
    so every component is labeled by its minimum node, the star loop's
    labeling. Every endpoint appears once; a self-loop-only node labels
    itself."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def _label_on_driver(raw: DataFrame, rows, key) -> DataFrame:
    """Label the collected non-null edge ``rows`` of the checkpointed
    edge list ``raw(u, v)`` on the driver: :func:`_min_root_labels`,
    and the labels back as a local DataFrame of the endpoints' common
    type ``key``."""
    from pyspark.sql.types import StructField, StructType

    global LAST_RUN_ROUND_STATS
    LAST_RUN_ROUND_STATS = []
    labels = _min_root_labels(rows)
    schema = StructType(
        [StructField("node", key), StructField("component", key)]
    )
    return _local_relation(
        raw.sparkSession, schema, [labels.keys(), labels.values()]
    )


def _connected_components_loop(raw: DataFrame, level, n_edges: int) -> DataFrame:
    import time as _time

    global LAST_RUN_ROUND_STATS
    round_stats: list = []
    LAST_RUN_ROUND_STATS = round_stats
    # Singleton recovery needs only the SELF-LOOP-ONLY nodes, not the
    # full node set: every node with at least one non-self-loop edge is
    # preserved through the star rounds — a node that is the minimum of
    # some neighborhood survives as the rewired target m, any other node
    # keeps an edge toward a smaller neighbor and survives as a source,
    # and the alternating-stars connectivity invariant (Kiveris et al.)
    # keeps every size->=2 component's nodes in the edge set through
    # convergence — so the final labeling already covers them. A
    # near-free filter finds the rest, where an all-nodes distinct would
    # hold a 2|E|-row table in the storage region the rounds compete for.
    self_only = (
        raw.filter(F.col("u") == F.col("v"))
        .select(F.col("u").alias("node"))
        .distinct()
        .localCheckpoint(storageLevel=level)
    )
    n_self = self_only.count()
    # Round 1 consumes the raw filtered plan directly, with no pre-loop
    # distinct + checkpoint + count of the largest edge set the loop ever
    # sees: both star windows compute duplicate-insensitive minima and
    # the round-final ``distinct`` dedups the output. The round-0 gate
    # count is the caller's raw count (an upper bound — a false plateau
    # just runs the probe early, which is safe).
    e = raw.filter(F.col("u") != F.col("v"))
    # the raw checkpoint feeds round 1 (twice, via the symmetrizing
    # union) and must stay resident until round 1's output materializes
    prev_count = n_edges
    pending_release = raw
    converged = False

    try:
        for _ in range(MAX_ITERATIONS):
            _round_t0 = _time.perf_counter()
            prev = e
            # lazy checkpoint: the count below is the action that
            # materializes it, so each round runs ONE heavy job instead
            # of an eager-checkpoint job followed by a probe job
            e = _round_step(e).localCheckpoint(eager=False, storageLevel=level)
            count = e.count()
            if pending_release is not None:
                # round 1 has materialized: the raw checkpoint has no
                # further consumer (self_only is its own checkpoint)
                _release_checkpoint(pending_release)
                pending_release = None
            # COUNT-GATED fixed-point probe: a converged round
            # necessarily reproduces the previous round's edge count
            # (f(fixpoint) = fixpoint), so rounds where the count still
            # moved skip the probe outright — its union+groupBy re-reads
            # 2|e| checkpointed rows, while the gating count is a
            # near-free scan of the persisted blocks that the lazy
            # checkpoint needs as its materializing action anyway. An
            # accidental count plateau before convergence just runs the
            # probe one round early (it answers "not yet"); a star
            # forest reached in the same round the count moved is
            # detected one round late (one extra no-op round, then the
            # plateau gates the probe in).
            # Correctness never rests on the gate — only the probe below
            # ever declares convergence.
            if count == prev_count:
                # Fixed-point probe via node roles in ONE map-side-
                # combined aggregation: the round output is a settled
                # star forest iff no node both emits and receives an
                # edge AND no node emits more than one. "No target is
                # also a source" alone is not enough: small-star output
                # can hand a node TWO outgoing edges toward two
                # different local minima (it sat in two rewired
                # neighborhoods whose roots are not themselves sources),
                # a state that test declares converged — mislabeling
                # that node into two components — but which is not a
                # fixed point.
                # Such a node keeps nsrc > 1 here, so the loop keeps
                # iterating until the halves merge. Row counts are exact
                # because the round-final distinct leaves no duplicates.
                churn = (
                    e.select(
                        F.col("u").alias("n"), F.lit(1).alias("s"),
                        F.lit(0).alias("t"),
                    )
                    .union(
                        e.select(
                            F.col("v").alias("n"), F.lit(0).alias("s"),
                            F.lit(1).alias("t"),
                        )
                    )
                    .groupBy("n")
                    .agg(F.sum("s").alias("nsrc"), F.sum("t").alias("ntgt"))
                    .filter(
                        (F.col("nsrc") >= 1)
                        & ((F.col("nsrc") > 1) | (F.col("ntgt") > 0))
                    )
                )
                converged = churn.isEmpty()
            round_stats.append({
                "sec": round(_time.perf_counter() - _round_t0, 3),
                "edges": count,
                "probed": count == prev_count,
            })
            prev_count = count
            # the superseded round's blocks are re-readable only until
            # this release; every consumer of `prev` (this round's stars
            # + probe) has already run
            _release_checkpoint(prev)
            if converged:
                break
        if not converged:
            # an unconverged round output is not a star forest: a node
            # can carry edges to two roots and come back twice
            raise RuntimeError(
                f"connected_components did not converge within "
                f"MAX_ITERATIONS={MAX_ITERATIONS} rounds"
            )

        # converged: e is a star forest (child -> root). Roots label
        # themselves, and nodes whose only edges were self-loops come
        # back as singleton components (the docstring contract: EVERY
        # node appearing in edges).
        children = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        roots = e.select(F.col("v").alias("node"), F.col("v").alias("component"))
        labeled = children.union(roots).distinct()
        # self-loop-only nodes label themselves; nodes that ALSO carried
        # a real edge are already in `labeled` (the anti-join dedups
        # them). The empty-selfs fast path skips the anti-join's full
        # reshuffle of `labeled` — the common case for candidate-pair
        # inputs, which are a != b by construction.
        if n_self == 0:
            singletons = labeled.filter(F.lit(False))
        else:
            singletons = self_only.join(
                labeled, on="node", how="left_anti"
            ).select("node", F.col("node").alias("component"))
        # eager: materialize the labeling inside the caller's narrowed
        # shuffle-width window (see connected_components) and hand
        # consumers a checkpointed table — entity resolution joins it
        # twice downstream
        result = labeled.union(singletons).localCheckpoint(storageLevel=level)
    finally:
        # every exit path — convergence, MAX_ITERATIONS exhausted (or
        # 0, when the raw checkpoint still feeds `e`), or a raising
        # round — releases the checkpoints the loop still holds
        for held in (pending_release, e, self_only):
            if held is not None:
                _release_checkpoint(held)
    return result


def cluster_matched_pairs(
    matches: DataFrame,
    left_id: str = f"{LEFT}_id",
    right_id: str = f"{RIGHT}_id",
    left_name: str = LEFT,
    right_name: str = RIGHT,
) -> DataFrame:
    """Cluster matched pairs into entities.

    Node identity is ``(id, dataset)`` — the reference keys nodes by a
    (id, title, authors, dataset) tuple (src/clustering.py:17-21) because
    synthetic ids collide across datasets; namespacing the id with the
    dataset name is sufficient and join-free. Returns
    ``(id, df_name, cluster_id)`` with a deterministic dense cluster id
    derived from the min member key. The columns and side names default
    to the ER path's two sources (``sources.io.LEFT``/``RIGHT``).
    """
    edges = _encode_nodes(matches, left_id, right_id, left_name, right_name)
    return _decode_nodes(connected_components(edges))
