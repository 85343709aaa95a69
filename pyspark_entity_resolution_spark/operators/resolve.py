"""Cluster representative selection + entity-table pivot
(reference src/create_graph.py:62-87, A1/A2/J2/U1 in SURVEY.md §2).

The reference picks ``first(id)`` per (cluster, dataset) — explicitly
"randomly picked" (report.pdf p.4 §4). We pick ``min(id)`` for
deterministic, testable output. The pivot passes explicit dataset values
so Spark skips the extra distinct-scan pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pick_representatives(clustered: DataFrame) -> DataFrame:
    """One representative record id per (cluster, dataset): the minimum."""
    return clustered.groupBy("cluster_id", "df_name").agg(F.min("id").alias("id"))


def entity_table(
    representatives: DataFrame,
    raw_by_side: dict[str, DataFrame],
    sides: list[str],
) -> DataFrame:
    """Join each side's representative back to its raw record and pivot to
    one row per entity with a ``{side}_value`` column per dataset.

    The per-side raw lookup joins are broadcast-eligible (representatives
    are tiny relative to the raw tables); at scale, the raw side is the big
    probe side and Catalyst/AQE broadcasts the representative side.
    """
    joined = None
    for side in sides:
        raw = raw_by_side[side].select(F.col("id").cast("string").alias("id"), "value")
        side_repr = representatives.filter(F.col("df_name") == side)
        part = side_repr.join(raw, on=["id"], how="left")
        joined = part if joined is None else joined.unionByName(part)

    pivoted = (
        joined.groupBy("cluster_id")
        .pivot("df_name", sides)
        .agg(F.min("id").alias("id"), F.min("value").alias("value"))
    )
    keep = [F.col(f"{side}_value") for side in sides]
    return pivoted.select(F.col("cluster_id"), *keep)
