"""Parquet / CSV readers and writers (reference src/utils.py:31-54, S2-S6).

Writers default to snappy parquet, overwrite mode. ``coalesce(1)`` is opt-in
and only sensible for small final outputs — at scale the default keeps the
write parallel and lets AQE size the output partitions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (S2); projection/predicate pushdown via Catalyst."""
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    delimiter: str = ",",
    infer_schema: bool = False,
    schema=None,
) -> DataFrame:
    """CSV scan (S3) with explicit schema, inference, or all-string."""
    reader = spark.read.options(header=header, delimiter=delimiter)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema=None,
    multiline: bool = False,
) -> DataFrame:
    """JSON-lines reader (one object per line; ``multiline=True`` for a
    single JSON array per file). Always pass ``schema`` at scale — schema
    inference costs a full extra pass over the data; corrupt records land
    in ``_corrupt_record`` under the default PERMISSIVE mode instead of
    failing the scan."""
    reader = spark.read.option("multiLine", multiline)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_jsonl(
    df: DataFrame,
    dest: str,
    single_file: bool = False,
    compression: str | None = "gzip",
) -> None:
    """JSON-lines sink (the interchange format most LLM-data tooling
    ingests). Compressed per-part by default; parallel unless
    ``single_file``."""
    out = df.coalesce(1) if single_file else df
    writer = out.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.json(dest)


def write_parquet(
    df: DataFrame, dest: str, single_file: bool = False, compression: str = "snappy"
) -> None:
    """Parquet sink (S5); single_file coalesces to one part (small outputs)."""
    out = df.coalesce(1) if single_file else df
    out.write.option("compression", compression).mode("overwrite").parquet(dest)


def write_csv(
    df: DataFrame,
    dest: str,
    sep: str = ",",
    single_file: bool = True,
    rename_to: str | None = None,
) -> None:
    """CSV sink; with ``rename_to``, the part file is renamed afterwards
    (reference src/utils.py:40-54 hardcodes ``Matched_Entities.csv``)."""
    out = df.coalesce(1) if single_file else df
    out.write.options(header="true", delimiter=sep).mode("overwrite").csv(dest)
    if rename_to:
        for file in sorted(os.listdir(dest)):
            if file.endswith(".csv"):
                os.rename(os.path.join(dest, file), os.path.join(dest, rename_to))
                break


# The two sources the ER path links (the paper's DBLP and ACM dumps).
# Their names prefix the pair columns (``a_id``, ``b_title``), key the
# graph nodes (``a:<id>``) and head the entity table (``a_value``).
LEFT, RIGHT = "a", "b"


def prefix_columns(df: DataFrame, prefix: str) -> DataFrame:
    """Prefix every column with ``{prefix}_`` in ONE projection (the
    reference chains a ``withColumnRenamed`` per column,
    src/utils.py:24-28 — N plan nodes for no reason)."""
    from pyspark.sql import functions as F

    return df.select(*[F.col(f"`{c}`").alias(f"{prefix}_{c}") for c in df.columns])
