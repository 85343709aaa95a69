"""Physical-plan shape assertions: the 100-TB design claims, checked
against `explain` output. These are the properties that make the engine
scale — pushdown reaching the parquet scan, dimensions broadcasting,
aggregates running map-side partials, and no Python in the hot path.
"""

import pytest

from pyspark_entity_resolution_spark.plans.registry import all_queries

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = all_queries()[name].fn(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(spark, name: str) -> str:
    import contextlib
    import io

    df = all_queries()[name].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushes_down_to_parquet_scan(spark):
    plan = _formatted(spark, "tpch_q6_forecast_revenue")
    assert "PushedFilters:" in plan
    # the shipdate range must reach the scan, not sit in a post-filter only
    assert "l_shipdate" in plan.split("PushedFilters:")[1].splitlines()[0]


def test_column_pruning_reaches_scan(spark):
    plan = _formatted(spark, "tpch_q6_forecast_revenue")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the 4 needed columns are read, not all 11
    assert "l_extendedprice" in read_schema and "l_orderkey" not in read_schema


def test_dimension_join_broadcasts(spark):
    plan = _plan(spark, "join_kinds_pack")
    assert "BroadcastHashJoin" in plan


def test_blocked_pairs_use_hash_join_not_cartesian(spark):
    # the G4 rewrite: blocking is an equi-join, never a cartesian product
    plan = _plan(spark, "levenshtein_blocked_pairs")
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_aggregate_has_partial_phase(spark):
    plan = _plan(spark, "tpch_q1_pricing_summary")
    assert "partial" in plan.lower()  # map-side combine before the shuffle


def test_no_python_eval_in_native_clean_path(spark):
    # D1/D2/D3/D5/D6 compile to pure JVM expressions — no BatchEvalPython /
    # ArrowEvalPython nodes anywhere in the plan. clean_customer_pack and
    # text_analysis_pack bundle these with the (sanctioned-Python) accent
    # fold, so assert on the expressions directly.
    from pyspark.sql import functions as F

    from pyspark_entity_resolution_spark.functions import cleaning as C
    from pyspark_entity_resolution_spark.plans.common import load

    d = (
        load(spark, SF, "documents")
        .select(
            C.sort_authors(F.col("text")).alias("a"),
            C.remove_nums(F.col("text")).alias("b"),
            C.clean_record(F.col("text")).alias("c"),
            C.remove_stopwords(F.col("text")).alias("d"),
            C.get_num_authors(F.col("text")).alias("e"),
        )
    )
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    plan2 = _plan(spark, "clean_record_pack")
    assert "EvalPython" not in plan2


def test_accent_folding_is_arrow_vectorized(spark):
    # D4 is the ONE sanctioned Python op — and it must be Arrow, not
    # row-pickled
    plan = _plan(spark, "clean_customer_pack")
    assert "ArrowEvalPython" in plan


def test_whole_stage_codegen_on_hot_path(spark):
    # AQE shows codegen spans only in the FINAL plan — execute first
    df = all_queries()["tpch_q1_pricing_summary"].fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WholeStageCodegen" in plan or "*(1)" in plan


def test_lsh_candidates_have_no_dedup_aggregate(spark):
    """Pair dedup is by-construction (first-colliding-band admission):
    the candidate plan must contain NO aggregate/distinct above the band
    join — the shuffle that admission eliminated must not creep back."""
    from pyspark.sql import functions as F

    from pyspark_entity_resolution_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = minhash_lsh_candidates(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan
    assert "HashAggregate" not in plan  # no distinct-style dedup
    # and the exactly-once claim itself
    n = df.count()
    assert df.distinct().count() == n


def test_simhash_candidates_have_no_dedup_aggregate(spark):
    from pyspark_entity_resolution_spark.operators.dedup import simhash_candidates

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = simhash_candidates(docs)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan
    n = df.count()
    assert df.distinct().count() == n


def test_batch_ingest_join_carries_no_payload_arrays(spark):
    """Slim batch path of the incremental near-dup matchers: the
    exploded band/key join must carry only ids and key scalars — the
    verification payload (token arrays / vectors) joins onto ADMITTED
    candidates afterwards, so no array column may appear below the
    band-join's own output. The streaming form deliberately differs
    (stream-static cannot re-join the payload; bounded by micro-batch
    size) — this pins the batch shape the foreachBatch ingest drivers
    (streaming/ingest.py) fold every micro-batch through."""
    from pyspark_entity_resolution_spark.operators.ann import (
        incremental_embedding_matches,
        lsh_corpus_index,
    )
    from pyspark_entity_resolution_spark.operators.dedup import (
        incremental_minhash_matches,
        minhash_corpus_index,
        token_profile,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    hist = docs.filter("doc_id % 10 = 0")
    arriving = docs.filter("doc_id % 10 = 1")
    m = incremental_minhash_matches(
        arriving, minhash_corpus_index(hist), token_profile(hist)
    )
    plan = m._jdf.queryExecution().optimizedPlan().toString()
    assert "__arr_toks" in plan  # the payload join exists (above admission)
    # the band explode emits only the id + key scalars: no Generate
    # (posexplode) node may list the token array among its outputs
    explode_lines = [ln for ln in plan.splitlines() if "posexplode" in ln]
    assert explode_lines, plan
    assert all("__arr_toks" not in ln for ln in explode_lines), explode_lines

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    ehist = emb.filter("vec_id % 10 = 0")
    earr = emb.filter("vec_id % 10 = 1")
    em = incremental_embedding_matches(
        earr, lsh_corpus_index(ehist), ehist
    )
    eplan = em._jdf.queryExecution().optimizedPlan().toString()
    assert "__arr_vec" in eplan
    eexplode = [ln for ln in eplan.splitlines() if "posexplode" in ln]
    assert eexplode, eplan
    assert all("__arr_vec" not in ln for ln in eexplode), eexplode


def test_star_round_is_two_windows_no_join(spark):
    """One connected-components round is two window shuffle+sort passes
    (one per star) plus the round-final distinct's HashAggregate, with
    no join: a join on the iterated path would cost once per round."""
    from pyspark.sql import functions as F

    from pyspark_entity_resolution_spark.operators.clustering import (
        _round_step,
    )

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], ["u", "v"]
    ).select(F.col("u").cast("long"), F.col("v").cast("long"))

    plan = _round_step(e)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 2, plan
    assert "Join" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_cc_adaptive_oracle_equals_static_at_gate_scale():
    """The union-find CC oracle (adaptive_sql, used for above-gate
    spot-checks where the recursive-CTE transitive closure explodes)
    must produce EXACTLY the static oracle's labels at gate scale —
    same node set, same min-custkey component ids."""
    import duckdb

    from pyspark_entity_resolution_spark.plans.queries_er import (
        _cc_adaptive_sql,
    )

    spec = all_queries()["connected_components_labels"]
    assert spec.adaptive_sql is _cc_adaptive_sql
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM '{SF}/customer.parquet'"
    )
    static = sorted(con.execute(spec.sql).fetchall())
    adaptive = sorted(con.execute(_cc_adaptive_sql(SF)).fetchall())
    assert len(static) > 0
    assert adaptive == static


def test_adaptive_oracle_equals_static_at_gate_scale():
    """The scale-aware oracle generator (QuerySpec.adaptive_sql) must
    reproduce the committed static SQL EXACTLY where the gate runs
    (4-plane band) — any drift between the two forms would let the sf1
    spot-check silently verify a different computation than the driver
    gate does."""
    from pyspark_entity_resolution_spark.plans.queries_vector import (
        _near_dup_adaptive_sql,
        _near_dup_oracle_sql,
    )

    spec = all_queries()["embedding_near_dup_lsh"]
    assert spec.adaptive_sql is _near_dup_adaptive_sql
    assert _near_dup_adaptive_sql(SF) == spec.sql == _near_dup_oracle_sql(4, 4)
    # above the band the generator must actually move the plane count
    assert _near_dup_oracle_sql(5, 4) != spec.sql
