"""Generate a synthetic sf1-scale dataset (x10 of sf0.1) for bench runs.

The driver provides testdata only up to sf0.1; this tool key-offset
replicates every sf0.1 table x10 into ``/tmp/sf1_synth`` so the FULL
50-query bench can run a decade above its usual scale:

- fact/dim keys are offset per copy (custkey/orderkey/partkey/suppkey/
  user ids), so joins stay referentially intact and group cardinalities
  scale x10 like a real sf1 generation would;
- region/nation stay fixed (true dimensions — sf-invariant in TPC-H);
- document text is token-salted per copy (the trio-probe trick:
  within-copy near-dup structure preserved, cross-copy band collisions
  impossible, so dedup workloads are exactly x10 linear, never
  quadratically inflated);
- embeddings get a per-copy circular rotation (within-copy inner
  products exactly preserved; cross-copy cosines incoherent, so
  near-dup pair volume scales x10 linearly);
- event timestamps are kept, so time windows genuinely densify x10
  (the realistic shape for a busier stream), while per-copy user ids
  keep sessionization linear.

Usage: python tools/gen_scale_data.py [dest_dir]
Then:  SPARK_GRAFT_SF_DIR=/tmp/sf1_synth python bench.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from pyspark_entity_resolution_spark.session import get_spark  # noqa: E402

BASE = "/root/testdata/sf0.1"
COPIES = 10
KEY_OFF = 10_000_000  # > any sf0.1 key


def _salted_text(i: int):
    def _salt(t):
        return F.concat(t, F.lit(f"~{i}"))

    return F.concat_ws(" ", F.transform(F.split(F.col("text"), " "), _salt))


def _rotated_vec(i: int):
    """Circular rotation by 7*i positions: a permutation applied to every
    vector of a copy preserves ALL within-copy inner products (the
    copy's near-dup structure is exactly the original's) while making
    cross-copy cosines incoherent — so pair-generating embedding
    workloads scale exactly x10, never quadratically. (A small additive
    nudge is NOT enough: copies stay cos~0.999 near-dups of each other
    and the near-dup pair output grows x100, measured.)"""
    v = F.col("embedding")
    n = F.size(v)
    k = F.lit(7 * i) % n
    return F.concat(F.slice(v, k + 1, n - k), F.slice(v, F.lit(1), k))


def _copy_expr(table: str, i: int, df):
    off = F.lit(i * KEY_OFF)
    if i == 0:
        return df
    if table in ("region", "nation"):
        return None  # dimensions: single copy
    if table == "customer":
        return df.withColumn("c_custkey", F.col("c_custkey") + off)
    if table == "orders":
        return df.withColumn("o_orderkey", F.col("o_orderkey") + off).withColumn(
            "o_custkey", F.col("o_custkey") + off
        )
    if table == "lineitem":
        return (
            df.withColumn("l_orderkey", F.col("l_orderkey") + off)
            .withColumn("l_partkey", F.col("l_partkey") + off)
            .withColumn("l_suppkey", F.col("l_suppkey") + off)
        )
    if table == "part":
        return df.withColumn("p_partkey", F.col("p_partkey") + off)
    if table == "supplier":
        return df.withColumn("s_suppkey", F.col("s_suppkey") + off)
    if table == "events":
        return df.withColumn("event_id", F.col("event_id") + off).withColumn(
            "user_id", F.col("user_id") + off
        )
    if table == "documents":
        return df.withColumn("doc_id", F.col("doc_id") + off).withColumn(
            "text", _salted_text(i)
        )
    if table == "embeddings":
        return df.withColumn("vec_id", F.col("vec_id") + off).withColumn(
            "embedding", _rotated_vec(i)
        )
    raise ValueError(table)


def main() -> None:
    dest = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1_synth"
    spark = get_spark(app_name="gen-scale-data")
    spark.sparkContext.setLogLevel("ERROR")
    tables = [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]
    for t in tables:
        out_path = f"{dest}/{t}.parquet"
        if os.path.exists(out_path + "/_SUCCESS"):
            print(f"[gen] {t}: cached", flush=True)
            continue
        df = spark.read.parquet(f"{BASE}/{t}.parquet")
        parts = []
        for i in range(COPIES):
            c = _copy_expr(t, i, df)
            if c is None:
                break
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        n_files = 1 if t in ("region", "nation") else 32
        out.repartition(n_files).write.mode("overwrite").parquet(out_path)
        print(f"[gen] {t}: {out.count()} rows -> {out_path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
