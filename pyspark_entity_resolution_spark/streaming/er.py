"""Streaming entity resolution: the reference's blocking + matching
semantics over live record streams.

The reference's batch pipeline (SURVEY.md §2: P6-P9, G4) blocks records
into candidate pairs and scores them with venue/Levenshtein/Jaccard
predicates. These operators run the SAME match predicates incrementally:
records arrive on a watermarked stream, candidate pairs form via a
stream-stream equi-join on the block key bounded by an event-time
interval, and matches emit as soon as both sides are present.

Scale design: the join state shards by the equi-join block key across
executors, and the watermark + interval condition let Spark evict
buffered rows once no future match can land — state is bounded by
``watermark + within`` per key regardless of stream length. Everything is
built-in stream-stream join machinery; the match predicates are the exact
Column expressions the batch pipeline uses (functions/similarity.py), so
batch and streaming agree row-for-row on the same data (tested against
the batch twin in tests/test_streaming_er.py).
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from ..operators import clustering
from ..sources.io import LEFT, RIGHT


def streaming_candidate_pairs(
    left: DataFrame,
    right: DataFrame,
    block_cols: list[str],
    ts_col: str = "ts",
    within: str = "10 minutes",
    left_watermark: str = "30 minutes",
    right_watermark: str = "30 minutes",
) -> DataFrame:
    """Blocked candidate pairs from two record streams.

    Equi-join on ``block_cols`` (the blocking predicate — same role as the
    batch exploded-block-key join, operators/blocking.py) restricted to
    right-side records whose event time falls in
    ``[left.ts, left.ts + within]``. Output columns are prefixed with the
    side names (``a_`` / ``b_``, ``sources.io.LEFT``/``RIGHT``); the block
    columns keep both prefixed copies so downstream predicates can
    reference either side.
    """
    l, r = LEFT, RIGHT
    lw = left.withWatermark(ts_col, left_watermark).select(
        *[F.col(c).alias(f"{l}_{c}") for c in left.columns]
    )
    rw = right.withWatermark(ts_col, right_watermark).select(
        *[F.col(c).alias(f"{r}_{c}") for c in right.columns]
    )
    cond = F.lit(True)
    for c in block_cols:
        cond = cond & (F.col(f"{l}_{c}") == F.col(f"{r}_{c}"))
    cond = (
        cond
        & (F.col(f"{r}_{ts_col}") >= F.col(f"{l}_{ts_col}"))
        & (
            F.col(f"{r}_{ts_col}")
            <= F.col(f"{l}_{ts_col}") + F.expr(f"INTERVAL {within}")
        )
    )
    return lw.join(rw, cond, "inner")


def streaming_match_documents(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    block_cols: list[str] = ("lang", "source"),
    within: str = "10 minutes",
    watermark: str = "30 minutes",
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Streaming near-duplicate document matching — the flagship batch
    query's (er_flagship_doc_matching) streaming twin.

    Blocks on ``block_cols``, bounds pairs to an event-time interval, and
    applies the batch token-set Jaccard threshold. Emits
    ``(a_id, b_id, a_ts, b_ts, jaccard)`` incrementally. Self-match rows
    (same id) are excluded; pass the same stream twice for self-matching.
    """
    from ..functions.similarity import token_jaccard

    pairs = streaming_candidate_pairs(
        left,
        right,
        block_cols=list(block_cols),
        ts_col=ts_col,
        within=within,
        left_watermark=watermark,
        right_watermark=watermark,
    )
    l, r = LEFT, RIGHT
    jac: Column = token_jaccard(f"{l}_{text_col}", f"{r}_{text_col}")
    return (
        pairs.filter(F.col(f"{l}_{id_col}") != F.col(f"{r}_{id_col}"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= min_jaccard)
        .select(
            F.col(f"{l}_{id_col}").alias(f"{l}_id"),
            F.col(f"{r}_{id_col}").alias(f"{r}_id"),
            F.col(f"{l}_{ts_col}").alias(f"{l}_ts"),
            F.col(f"{r}_{ts_col}").alias(f"{r}_ts"),
            "jaccard",
        )
    )


def streaming_match_publications(
    left: DataFrame,
    right: DataFrame,
    ts_col: str = "ts",
    within: str = "10 minutes",
    watermark: str = "30 minutes",
    venues: list[str] | None = None,
    max_levenshtein: int = 10,
    min_jaccard: float = 0.6,
) -> DataFrame:
    """Streaming twin of the batch publication matcher: block on
    ``year``, then run the batch predicate chain itself
    (operators/matching.py score_and_match) on the joined ``a_``/``b_``
    pairs.

    Inputs are cleaned publication streams with at least
    (id, title, authors, year, venue, num_authors, ts). Emits matched
    pairs with the batch matcher's column contract
    (a_id, b_id, scores, title_jaccard_sim).
    """
    from ..operators.matching import JACCARD_COL, SCORE_COL, score_and_match

    pairs = streaming_candidate_pairs(
        left,
        right,
        block_cols=["year"],
        ts_col=ts_col,
        within=within,
        left_watermark=watermark,
        right_watermark=watermark,
    )
    l, r = LEFT, RIGHT
    return (
        score_and_match(
            pairs, venues=venues, max_levenshtein=max_levenshtein,
            min_jaccard=min_jaccard,
        )
        .select(
            f"{l}_id", f"{r}_id", SCORE_COL, JACCARD_COL,
            F.col(f"{l}_{ts_col}").alias(f"{l}_ts"),
            F.col(f"{r}_{ts_col}").alias(f"{r}_ts"),
        )
    )


# ------------------------------------------ incremental entity emission --

def _node_bucket(n_buckets: int, node: Column | str = "node") -> Column:
    """Stable hash bucket of a node key — the label-store partition
    column. MUST be computed identically every batch (xxhash64 is
    seed-stable across sessions)."""
    return F.pmod(F.xxhash64(node), F.lit(n_buckets)).cast("int")


@dataclass
class FoldReport:
    """What one incremental fold did — returned by
    :func:`incremental_entity_labels` so observability is the
    function's contract, not a process global.

    ``labels`` is the full current label table (``node, component``),
    read from the store at ``labels_path`` only when the property is
    accessed (a fold pays no store listing for a table its caller may
    never read); it reflects the store at access time.
    ``n_hit_components`` counts the previously-known
    components this batch touched (driver path only; ``None`` on the
    distributed path and on cold start, which never count them).
    ``written_buckets`` is the sorted bucket list
    this fold actually rewrote (changed rows only; ``None`` on cold
    start, where every bucket is laid down). ``on_driver`` tells whether
    the fold took the driver path (every collect under
    ``clustering.DRIVER_BOUND`` rows) or the distributed one."""

    labels_path: str
    n_hit_components: int | None = None
    cold_start: bool = False
    written_buckets: list[int] | None = None
    on_driver: bool = False

    @property
    def expansion_buckets(self) -> None:
        """Always ``None``: the member expansion reads the whole store,
        not a bucket subset."""
        return None

    @property
    def labels(self) -> DataFrame:
        from pyspark.sql import SparkSession

        return _read_store(SparkSession.active(), self.labels_path).select(
            "node", "component"
        )


def _hadoop_path(spark, path: str):
    """``(fs, path)``: the Hadoop ``FileSystem`` and ``Path`` of ``path``
    under the session's Hadoop configuration (local, HDFS, S3A alike)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _lease_file(spark, labels_path: str):
    """``(fs, path)`` of the store's sibling writer-lease marker (outside
    the store directory so a cold-start full overwrite cannot delete it
    mid-write)."""
    return _hadoop_path(spark, labels_path.rstrip("/") + "__lease")


def _acquire_store_lease(spark, labels_path: str, owner: str) -> None:
    """Create-exclusive writer lease for the label store. The store's
    write protocol (dynamic partition overwrite, compaction's
    read-then-replace) is SINGLE-WRITER: two concurrent
    writers would silently corrupt buckets. ``foreachBatch`` already
    serializes fold+compact inside one streaming query; this lease
    extends the guarantee to direct callers in other processes.
    Raises RuntimeError when another writer holds the lease. A lease
    left behind by a crashed writer must be cleared explicitly with
    :func:`break_store_lease` — a deliberate manual step, since only
    an operator can know the other writer is truly gone.

    Atomicity rests on Hadoop-FS ``create(path, overwrite=False)``
    (create-exclusive); that this primitive actually excludes across
    SEPARATE JVMs on the local filesystem — not merely across threads
    of one session — is proven by racing real processes in
    tests/test_streaming_er.py::test_lease_mutual_exclusion_across_processes."""
    import json as _json
    import os as _os
    import time as _time

    fs, jpath = _lease_file(spark, labels_path)
    try:
        out = fs.create(jpath, False)  # overwrite=False: create-exclusive
    except Exception as exc:  # Hadoop FileAlreadyExistsException et al.
        # the holder can release between the failed create and the
        # exists() probe; the create's own error still names contention
        if "FileAlreadyExistsException" in str(exc) or fs.exists(jpath):
            raise RuntimeError(
                f"label store at {labels_path} is locked by another "
                f"writer (lease file {jpath}): a fold and a compaction "
                "must not run concurrently — wait for the other writer, "
                "or, if it crashed, clear the stale lease with "
                "break_store_lease()"
            ) from None
        raise exc
    try:
        out.write(
            bytearray(
                _json.dumps(
                    {"owner": owner, "pid": _os.getpid(), "ts": _time.time()}
                ).encode()
            )
        )
    finally:
        out.close()


@contextmanager
def _store_lease(spark, labels_path: str, owner: str, lease_wait: float):
    """Hold the store's writer lease (:func:`_acquire_store_lease`) for
    the block, then release it.

    ``lease_wait`` bounds a wait-and-backoff for the BENIGN contention
    case: a fold arriving while a compaction (or another fold) briefly
    holds the store. Acquisition retries with exponential backoff until
    ``lease_wait`` seconds have elapsed, then re-raises the final
    RuntimeError — a stale lease from a crashed writer still surfaces
    (after the bounded wait) and still requires the deliberate
    :func:`break_store_lease`. Each attempt is the same atomic
    create-exclusive; waiting never peeks or pre-deletes, so there is no
    acquire race."""
    import time as _time

    deadline = _time.monotonic() + lease_wait
    backoff = 0.05
    while True:
        try:
            _acquire_store_lease(spark, labels_path, owner)
            break
        except RuntimeError:
            remaining = deadline - _time.monotonic()
            if remaining <= 0:
                raise
            _time.sleep(min(backoff, remaining))
            backoff = min(backoff * 2, 1.0)
    try:
        yield
    finally:
        break_store_lease(spark, labels_path)


def break_store_lease(spark, labels_path: str) -> bool:
    """Forcibly clear a label-store writer lease (after a writer crash).
    Returns True if a lease file was removed."""
    fs, jpath = _lease_file(spark, labels_path)
    return bool(fs.delete(jpath, False))


def _meta_file(spark, labels_path: str, suffix: str = ""):
    """``(fs, path)`` of the store's layout sidecar (plus ``suffix``)."""
    return _hadoop_path(spark, labels_path.rstrip("/") + "/_store_meta.json" + suffix)


def _write_store_meta(spark, labels_path: str, n_buckets: int) -> None:
    """Record the store's immutable layout (``n_buckets``) in an
    underscore-prefixed sidecar file INSIDE the store directory —
    Spark's file listing ignores ``_``-files, the dynamic partition
    overwrite never touches non-partition paths, and every later
    fold/lookup/compaction can verify its caller-supplied ``n_buckets``
    against the layout instead of silently pruning to wrong buckets.

    Written ATOMICALLY (temp name, then rename into place): a crash
    mid-write must not leave a truncated sidecar that would make every
    later fold/lookup die parsing it. Rename is atomic on HDFS and
    local filesystems; on object stores it degrades to copy+delete,
    where the read side's unreadable-sidecar tolerance
    (:func:`_check_store_meta`) is the backstop."""
    import json as _json

    fs, jpath = _meta_file(spark, labels_path)
    _, jtmp = _meta_file(spark, labels_path, ".tmp")
    out = fs.create(jtmp, True)
    try:
        out.write(bytearray(_json.dumps({"n_buckets": n_buckets}).encode()))
    finally:
        out.close()
    fs.delete(jpath, False)  # rename won't clobber an existing file
    fs.rename(jtmp, jpath)


def _recorded_n_buckets(spark, labels_path: str) -> int | None:
    """The ``n_buckets`` the layout sidecar records, or None when the
    store has no sidecar. Raises when the sidecar cannot be read."""
    import json as _json

    fs, jpath = _meta_file(spark, labels_path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        data = bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return _json.loads(data.decode())["n_buckets"]


def _check_store_meta(spark, labels_path: str, n_buckets: int) -> int | None:
    """Raise with a clear message when the caller's ``n_buckets``
    contradicts the store's recorded layout (a mismatch would compute
    wrong bucket ids: folds would mis-place rows and lookups would
    silently return nothing). Stores predating the sidecar pass.

    Returns the layout the sidecar records once the check is done:
    ``n_buckets``, or None for a store without a sidecar (absent, flat,
    or bucketed before the sidecar existed)."""
    try:
        recorded = _recorded_n_buckets(spark, labels_path)
    except Exception:
        # an unreadable sidecar — truncated JSON or a failing read
        # (e.g. a checksum mismatch after a torn write on a store
        # predating the atomic rename, or a non-atomic object store).
        # The evidence file is gone, so the STORE ITSELF is the layout
        # authority now, not the caller: the ``bucket=`` partition
        # directories bound n_buckets from below, and each stored row
        # must satisfy ``bucket == pmod(xxhash64(node), n_buckets)``.
        # Only after the store corroborates the caller's value do we
        # re-stamp the sidecar; a contradicted value raises instead of
        # silently mis-bucketing every later fold/lookup.
        counts = _bucket_file_counts(spark, labels_path)
        # buckets with zero data files (e.g. a compaction crashed
        # mid-replace) carry no evidence — drop them or the row-hash
        # scan below dies in schema inference on an all-empty store
        observed = sorted(b for b, c in counts.items() if c > 0)
        if not observed:
            # empty/absent store: nothing to contradict the caller
            _write_store_meta(spark, labels_path, n_buckets)
            return n_buckets
        if max(observed) >= n_buckets:
            raise ValueError(
                f"label store at {labels_path} has an unreadable "
                f"layout sidecar AND a bucket={max(observed)} partition "
                f"that cannot exist under the caller's "
                f"n_buckets={n_buckets} — the caller's layout is wrong; "
                "rebuild the sidecar with the store's true n_buckets"
            )
        # dir names bound only from below (true=64 / caller=32 passes
        # when no row landed past bucket 31), so re-derive each row's
        # bucket under the caller's layout and compare with the stored
        # partition value. One projection-only scan, on this rare
        # recovery path only; limit(1) lets Spark stop at the first
        # contradiction.
        store = spark.read.parquet(labels_path)
        contradiction = store.filter(
            _node_bucket(n_buckets) != F.col("bucket").cast("int")
        ).limit(1)
        if contradiction.isEmpty():
            _write_store_meta(spark, labels_path, n_buckets)  # healed
            return n_buckets
        raise ValueError(
            f"label store at {labels_path} has an unreadable layout "
            f"sidecar and its rows do not hash to their buckets under "
            f"the caller's n_buckets={n_buckets} — the caller's layout "
            "is wrong; rebuild the sidecar with the store's true "
            "n_buckets"
        )
    if recorded is not None and recorded != n_buckets:
        raise ValueError(
            f"label store at {labels_path} is laid out with "
            f"n_buckets={recorded}, but the caller passed "
            f"n_buckets={n_buckets} — the layout is immutable for the "
            f"lifetime of a store (rebuild the store to change it)"
        )
    return recorded


_STORE_SCHEMA = StructType([
    StructField("node", StringType()),
    StructField("component", StringType()),
    StructField("bucket", IntegerType()),
])
# above this many subdirectories Spark lists a path with a Spark job
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"


def _read_store(spark, labels_path: str, n_buckets: int | None = None) -> DataFrame:
    """The label store ``(node, component, bucket)``.

    ``n_buckets`` is the layout :func:`_check_store_meta` returned; None
    reads it from the sidecar here. A store whose sidecar records a
    layout is read with its fixed schema, and its bucket directories are
    listed on the driver: no schema-inference job and no listing job.
    Spark lists the files when the DataFrame is built, so the listing
    threshold is raised to at least ``n_buckets`` for that call only and
    then put back, unset if it was unset. The threshold decides how
    Spark lists, never which files, so a concurrent reader in another
    thread sees the same files either way. A store without a readable sidecar
    keeps the inferred read, so a flat store shows no ``bucket`` column
    (the fold migrates it, a lookup fails on it) and an absent one
    raises AnalysisException."""
    if n_buckets is None:
        try:
            n_buckets = _recorded_n_buckets(spark, labels_path)
        except Exception:
            pass  # an unreadable sidecar vouches for nothing
    if n_buckets is None:
        return spark.read.parquet(labels_path)
    threshold = max(n_buckets, int(spark.conf.get(_LISTING_THRESHOLD)))
    with clustering._conf_override(spark, _LISTING_THRESHOLD, str(threshold)):
        return spark.read.schema(_STORE_SCHEMA).parquet(labels_path)


def _write_buckets(df: DataFrame, path: str, dynamic: bool = True) -> None:
    """Write ``df`` partitioned by ``bucket``; with ``dynamic=True`` only
    the partitions present in ``df`` are replaced, otherwise the whole
    directory is laid down."""
    writer = df.write.mode("overwrite")
    if dynamic:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.partitionBy("bucket").parquet(path)


def incremental_entity_labels(
    spark,
    labels_path: str,
    new_matches: DataFrame,
    n_buckets: int = 64,
    lease_wait: float = 0.0,
) -> FoldReport:
    """Fold one batch of matched pairs ``(a_id, b_id, ...)`` into the
    persistent entity labels.

    Incremental connected components WITHOUT replaying history: the
    previous ``(node, component)`` labels of components TOUCHED by this
    batch re-enter the graph as star edges (every member points at its
    component root, itself a member node), new match edges are unioned
    in, and CC runs over that compressed subgraph — per-batch compute is
    O(touched components + new edges), not O(all historical matches).
    Component ids stay batch-identical (min member key): the old id is
    the min of its prior members, so the min over merged stars equals
    the min over the full history.

    The label store is parquet HASH-BUCKETED on the node key
    (``bucket = pmod(xxhash64(node), n_buckets)``, a partition column),
    and each batch rewrites ONLY buckets containing CHANGED rows (new
    nodes, plus members of component ids retired by a merge — members
    of a surviving component keep byte-identical rows because the id is
    the min member key) via dynamic partition overwrite. Per-batch
    write cost is therefore O(changed-node buckets × bucket size), not
    O(touched-component member count): one new member of a million-row
    component rewrites one bucket, not the component's full scatter.
    Unrewritten bucket files are left byte-identical on disk. SIZING:
    node hashes scatter, so a batch with k changed nodes touches
    ~min(k, n_buckets) buckets — keep ``n_buckets`` well above the
    expected per-batch changed-node count or every fold pays
    ~n_buckets × bucket size (the whole store) in carried rewrites;
    bucket size (rows / n_buckets) sets the per-fold cost floor.
    ``n_buckets`` must stay constant for the lifetime of a store (it
    defines the layout); a store written by the pre-bucketed flat
    layout is migrated wholesale on its first fold.

    READS: the node probe prunes to the batch nodes' own buckets; when
    the batch touches a stored component, member expansion scans the
    rest of the store for its members, because a component's members
    scatter over ~min(members, n_buckets) buckets. Opening the store
    runs no Spark job: a store with a layout sidecar is read with its
    fixed schema, and its bucket directories are listed on the driver
    (:func:`_read_store`). Each fold makes one store write.

    Node identity is namespaced ``{side}:{id}`` exactly like the batch
    operator (operators/clustering.py cluster_matched_pairs), so drained
    streaming labels are comparable row-for-row with the batch entity
    table. Re-delivered pairs (foreachBatch is at-least-once on restart)
    are idempotent: an edge already inside one component changes nothing.

    SMALL FOLDS RUN ON THE DRIVER: the batch edges, the probed
    components, their members and the rows of the buckets to rewrite
    are each collected under a cap of ``clustering.DRIVER_BOUND`` rows
    (100k; the batch edges plus the members also stay under it, the
    connected-components driver rule), labeled by the same min-root
    union-find connected components uses, and written from one
    bucket-sorted local relation, so a rewritten bucket lands in ~one
    file. Nothing is written before the
    last collect: when any capped collect exceeds the bound, the fold
    runs the distributed path described above instead, with the same
    results.

    Returns a :class:`FoldReport`; its ``labels`` property is the FULL
    current label table, read from the store when accessed.

    SINGLE-WRITER: the whole fold runs under the store's writer lease
    (see :func:`_acquire_store_lease`) — a concurrent fold or
    compaction from another process raises instead of corrupting
    buckets. ``lease_wait`` (seconds, default 0 = fail fast) bounds a
    wait-and-backoff retry for the BENIGN case — e.g. a compaction
    finishing as this fold arrives — so callers need no hand-rolled
    retry loop; a lease still held past the wait raises as before.
    """
    layout = _check_store_meta(spark, labels_path, n_buckets)
    with _store_lease(spark, labels_path, "incremental_entity_labels", lease_wait):
        return _fold_locked(spark, labels_path, new_matches, n_buckets, layout)


def _fold_locked(spark, labels_path, new_matches, n_buckets, layout) -> FoldReport:
    from pyspark.errors import AnalysisException

    edges = clustering._encode_nodes(
        new_matches, f"{LEFT}_id", f"{RIGHT}_id", LEFT, RIGHT
    )
    try:
        prev = _read_store(spark, labels_path, layout)
    except AnalysisException:
        prev = None  # cold start: no labels yet

    if prev is None or "bucket" not in prev.columns:
        # cold start (or one-time migration from the flat layout): every
        # node is touched; static overwrite lays down the bucketed store
        if prev is not None:
            edges = edges.unionByName(
                prev.select(
                    F.col("node").alias("src"), F.col("component").alias("dst")
                )
            )
        # a local relation or an eager checkpoint, never a lazy plan
        # over the store it is about to overwrite
        labels = clustering.connected_components(edges)
        bucketed = labels.withColumn("bucket", _node_bucket(n_buckets))
        _write_buckets(bucketed, labels_path, dynamic=False)
        _write_store_meta(spark, labels_path, n_buckets)
        return FoldReport(labels_path, cold_start=True)

    # --- incremental fold against the bucketed store -----------------
    report = _fold_on_driver(spark, labels_path, edges, prev, n_buckets)
    if report is None:
        report = _fold_distributed(spark, labels_path, edges, prev, n_buckets)
    if layout is None:
        # upgrade a pre-sidecar store in place (the check above already
        # accepted this fold's n_buckets as the layout)
        _write_store_meta(spark, labels_path, n_buckets)
    return report


def _sql_string(value: str) -> str:
    """A SQL expression for the string ``value``: a hex byte literal cast
    to string, so no value needs escaping under any parser setting."""
    return f"cast(X'{value.encode().hex()}' as string)"


def _sql_in(column: str, exprs: list[str]) -> Column:
    """``column IN (exprs)`` parsed from one SQL string: one JVM call,
    where ``Column.isin`` pays a py4j round trip per value."""
    if not exprs:
        return F.lit(False)
    return F.expr(f"{column} IN ({', '.join(exprs)})")


def _in_buckets(buckets) -> Column:
    """``bucket IN (buckets)``, built by :func:`_sql_in`."""
    return _sql_in("bucket", [str(int(b)) for b in buckets])


def _write_sorted_buckets(spark, path: str, rows) -> None:
    """Dynamic-overwrite the buckets of ``rows`` — ``(node, component,
    bucket)`` tuples sorted by bucket — from one local relation. Its
    contiguous slices (one per ``defaultParallelism``) land each bucket
    in one file, two where a slice boundary splits it."""
    _write_buckets(
        clustering._local_relation(spark, _STORE_SCHEMA, zip(*rows)), path
    )


def _fold_on_driver(spark, labels_path, edges, prev, n_buckets):
    """The fold with every intermediate on the driver, or None (having
    written nothing) when a capped collect exceeds the bound. Same
    labels and written buckets as :func:`_fold_distributed`.

    Three capped collects of stored rows: the batch nodes' whole
    buckets (the node probe), the hit components' members in every
    other bucket, and the whole buckets that hold a changed member but
    were not loaded yet, so the write carries every row of each
    rewritten bucket. The write is one bucket-sorted local relation,
    so a rewritten bucket lands in ~one file."""
    # everything held on the driver (batch edges plus stored rows, a
    # superset of the union-find's input) stays under the bound
    budget = clustering.DRIVER_BOUND
    edge_rows = clustering._capped_collect(
        edges.select(
            "src", "dst",
            _node_bucket(n_buckets, "src"), _node_bucket(n_buckets, "dst"),
        ),
        budget,
    )
    if edge_rows is None:
        return None
    budget -= len(edge_rows)
    batch_bucket = {}
    for src, dst, src_bucket, dst_bucket in edge_rows:
        batch_bucket[src], batch_bucket[dst] = src_bucket, dst_bucket
    batch_bucket.pop(None, None)  # a null id matches no stored node

    stored = {}  # node -> (component, bucket) of every collected row

    def load(bucket_filter) -> bool:
        nonlocal budget
        rows = clustering._capped_collect(
            prev.filter(bucket_filter).select("node", "component", "bucket"),
            budget,
        )
        if rows is None:
            return False
        budget -= len(rows)
        stored.update((node, (comp, bucket)) for node, comp, bucket in rows)
        return True

    loaded = sorted(set(batch_bucket.values()))
    if not load(_in_buckets(loaded)):
        return None
    hit = {stored[n][0] for n in batch_bucket if n in stored}
    # member expansion: the hit components' rows in the other buckets,
    # filtered where they are read (a component's members scatter, so
    # whole buckets would bring the rest of the store to the driver)
    if hit and not load(
        ~_in_buckets(loaded)
        & _sql_in("component", [_sql_string(c) for c in hit])
    ):
        return None
    labels = clustering._min_root_labels(
        [(s, d) for s, d, _, _ in edge_rows if s is not None and d is not None]
        + [(n, c) for n, (c, _) in stored.items() if c in hit]
    )
    # new nodes plus members of retired ids (see _fold_distributed)
    changed = {
        node: comp for node, comp in labels.items()
        if stored.get(node, (None,))[0] != comp
    }
    bucket_of = {**batch_bucket, **{n: b for n, (_, b) in stored.items()}}
    if not changed.keys() <= bucket_of.keys():
        return None  # a root with no stored row: label it the Spark way
    written_buckets = sorted({bucket_of[n] for n in changed})
    # the other rows of a rewritten bucket that was not loaded whole
    # (one holding a retired member) ride along in the rewrite
    partial = sorted(set(written_buckets) - set(loaded))
    if partial and not load(_in_buckets(partial)):
        return None
    rewrite = set(written_buckets)
    to_write = sorted(
        [(n, c, bucket_of[n]) for n, c in changed.items()]
        + [(n, c, b) for n, (c, b) in stored.items()
           if b in rewrite and n not in changed],
        key=lambda r: (r[2], r[0]),
    )
    if to_write:
        _write_sorted_buckets(spark, labels_path, to_write)
    return FoldReport(
        labels_path,
        n_hit_components=len(hit),
        written_buckets=written_buckets,
        on_driver=True,
    )


def _fold_distributed(spark, labels_path, edges, prev, n_buckets) -> FoldReport:
    batch_nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    # components this batch touches, then ALL their member rows (a merge
    # relabels both components wholesale). The node lookup PRUNES to the
    # batch nodes' own buckets: the bucket values are collected (at most
    # n_buckets small ints — driver-safe by construction) and applied as
    # a static IN filter on the partition column, so the scan reads
    # only those directories instead of the whole store.
    batch_buckets = batch_nodes.withColumn("bucket", _node_bucket(n_buckets))
    probe_buckets = [
        r.bucket for r in batch_buckets.select("bucket").distinct().collect()
    ]
    hit_components = (
        prev.filter(_in_buckets(probe_buckets))
        .join(batch_buckets, on=["bucket", "node"], how="inner")
        .select("component")
        .distinct()
        # read by both uses of the member expansion (the CC input and
        # the diff join) — materialize once
        .localCheckpoint()
    )
    members = prev.join(hit_components, on="component", how="left_semi")
    star = members.select(
        F.col("node").alias("src"), F.col("component").alias("dst")
    )
    new_labels = clustering.connected_components(edges.unionByName(star))  # eager ckpt

    # DIFF-BASED WRITE: rewrite only buckets holding rows whose label
    # actually CHANGED, not every bucket holding any member of a touched
    # component. Node-hash bucketing scatters a component's members
    # across ~min(members, n_buckets) buckets, so an all-members rewrite
    # would make ONE new member of a large component rewrite nearly the
    # whole store. The common fold changes almost nothing: a component's
    # id is the MIN member key, so members of a surviving component keep
    # byte-identical rows, and only (a) brand-new nodes and (b) members
    # of RETIRED (merged-away) component ids differ. `members` is
    # exactly the prior rows of every node whose label could change
    # (batch nodes not in it are new), so one left join against it
    # classifies each new_labels row.
    changed = (
        new_labels.join(
            members.select("node", F.col("component").alias("__old")),
            on="node",
            how="left",
        )
        .filter(F.col("__old").isNull() | (F.col("__old") != F.col("component")))
        .select("node", "component")
    )
    # materialize the (small) changed set once: its bucket ids drive a
    # STATIC partition filter for the carried read (the same
    # collect-then-IN pattern as the node probe above — join-based
    # pruning would hinge on DPP firing), and the write re-reads it
    changed = changed.withColumn(
        "bucket", _node_bucket(n_buckets)
    ).localCheckpoint()
    written_buckets = sorted(
        r.bucket for r in changed.select("bucket").distinct().collect()
    )
    # rows that share a rewritten bucket but are not themselves changed
    # must ride along (partition-granularity overwrite); materialized
    # BEFORE their files are overwritten
    carried = (
        prev.filter(_in_buckets(written_buckets))
        .join(changed.select("node"), on="node", how="left_anti")
        .select("node", "component", "bucket")
        .localCheckpoint()
    )
    _write_buckets(changed.unionByName(carried), labels_path)
    return FoldReport(labels_path, written_buckets=written_buckets)


def _bucket_file_counts(spark, path: str) -> dict[int, int]:
    """Per-bucket parquet data-file counts of a bucket-partitioned store,
    via the Hadoop FileSystem API (storage-agnostic: local, HDFS, S3A).
    Returns {} for a store that does not exist yet."""
    fs, jpath = _hadoop_path(spark, path)
    if not fs.exists(jpath):
        return {}
    counts: dict[int, int] = {}
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("bucket=")):
            continue
        counts[int(name.split("=", 1)[1])] = sum(
            1
            for f in fs.listStatus(st.getPath())
            if f.getPath().getName().endswith(".parquet")
        )
    return counts


def compact_label_store(
    spark,
    labels_path: str,
    max_files_per_bucket: int = 8,
    lease_wait: float = 0.0,
) -> list[int]:
    """Rewrite-coalesce label-store buckets whose data-file count exceeds
    ``max_files_per_bucket``, down to ~one file per bucket. Returns the
    compacted bucket ids.

    Every fold's dynamic partition overwrite can emit one file per task
    per touched bucket, so hot buckets accumulate small files between
    folds and slow the full-table read. Compaction is row-lossless: the
    over-threshold buckets are read, materialized (their files are about
    to be replaced), repartitioned so each bucket lands in one task, and
    dynamically overwritten in place — untouched buckets keep their
    files byte-identical. Safe to run between folds (same writer path,
    same layout); schedule it via ``streaming_resolve_entities``'s
    ``compact_every`` or call it directly. ``lease_wait`` bounds a
    wait-and-backoff retry on the writer lease for benign contention
    (a fold finishing as the compaction arrives); default 0 fails
    fast, as before.

    SINGLE-WRITER: compaction runs under the same writer lease as the
    fold (:func:`_acquire_store_lease`) — compacting while a fold from
    another process is mid-flight would replace bucket files the fold
    is reading and double-write the ones it is writing.
    """
    with _store_lease(spark, labels_path, "compact_label_store", lease_wait):
        return _compact_locked(spark, labels_path, max_files_per_bucket)


def _compact_locked(spark, labels_path, max_files_per_bucket) -> list[int]:
    counts = _bucket_file_counts(spark, labels_path)
    over = sorted(b for b, n in counts.items() if n > max_files_per_bucket)
    if over:
        rows = (
            _read_store(spark, labels_path)
            .filter(_in_buckets(over))
            .localCheckpoint()  # materialize before replacing source files
        )
        _write_buckets(rows.repartition(len(over), "bucket"), labels_path)
    return over


def streaming_resolve_entities(
    matches: DataFrame,
    labels_path: str,
    query_name: str = "streaming_entities",
    checkpoint_dir: str | None = None,
    n_buckets: int = 64,
    compact_every: int | None = None,
    max_files_per_bucket: int = 8,
    lease_wait: float = 0.0,
):
    """Drive a match-pair stream all the way to an entity table — the
    last batch capability the streaming twin lacked. Each micro-batch
    folds its pairs into the persistent labels via
    :func:`incremental_entity_labels` (foreachBatch: per-batch the graph
    is bounded, global state lives in the parquet label store, and a
    restarted query replays at-least-once into an idempotent fold).

    Returns the started StreamingQuery; read the entity table at any
    point with :func:`entity_table`.

    ``compact_every=N`` runs :func:`compact_label_store` after every Nth
    micro-batch so hot buckets don't accumulate small files across
    folds (threshold ``max_files_per_bucket``).

    ``lease_wait`` forwards to both writers: within one streaming query
    folds and compactions already serialize, but an EXTERNAL writer
    (an operator-run compaction in another process) would otherwise
    fail the micro-batch on its brief lease; a bounded wait rides it
    out. Default 0 keeps the fail-fast foreachBatch behavior.
    """

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        incremental_entity_labels(
            batch_df.sparkSession, labels_path, batch_df, n_buckets,
            lease_wait=lease_wait,
        )
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_label_store(
                batch_df.sparkSession, labels_path, max_files_per_bucket,
                lease_wait=lease_wait,
            )

    writer = matches.writeStream.foreachBatch(_fold).queryName(query_name)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def entity_table(spark, labels_path: str) -> DataFrame:
    """Current streaming entity table in the batch operator's column
    contract: ``(id, df_name, cluster_id)``."""
    return clustering._decode_nodes(_read_store(spark, labels_path))


def entity_lookup(
    spark,
    labels_path: str,
    node_keys: list[str],
    n_buckets: int = 64,
) -> DataFrame:
    """Point lookup into the bucketed label store: ``(node, component)``
    for the requested node keys (``"{side}:{id}"`` format) — the
    serving-path read (which entity does this record belong to?).
    ``n_buckets`` must match the store's layout, like every other fold
    parameter.

    What it lists and reads: building the store DataFrame lists every
    bucket directory of the store, on the driver (one filesystem listing
    per directory, no Spark job; see :func:`_read_store`); the scan then
    opens only the files of the buckets the keys hash into, O(len(keys))
    buckets. The bucket ids are Spark's own ``xxhash64`` of each key as
    a literal, which constant folding turns into a static ``bucket IN
    (...)`` partition filter at plan time: no job and no driver-side
    reimplementation of the hash. The collect is the lookup's one job.
    A store without a layout sidecar keeps the inferred schema, so a
    flat-layout store fails on the missing ``bucket`` column instead of
    returning nothing.
    """
    layout = _check_store_meta(spark, labels_path, n_buckets)
    keys = [_sql_string(k) for k in node_keys if k is not None]
    return (
        _read_store(spark, labels_path, layout)
        .filter(_sql_in(
            "bucket", [f"pmod(xxhash64({k}), {n_buckets})" for k in keys]
        ))
        .filter(_sql_in("node", keys))
        .select("node", "component")
    )
