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


def pick_representatives(
    clustered: DataFrame,
    cluster_col: str = "cluster_id",
    side_col: str = "df_name",
    id_col: str = "id",
) -> DataFrame:
    """One representative record id per (cluster, dataset): the minimum."""
    return clustered.groupBy(cluster_col, side_col).agg(F.min(id_col).alias(id_col))


def entity_table(
    representatives: DataFrame,
    raw_by_side: dict[str, DataFrame],
    sides: list[str],
    cluster_col: str = "cluster_id",
    side_col: str = "df_name",
    id_col: str = "id",
    value_col: str = "value",
) -> DataFrame:
    """Join each side's representative back to its raw record and pivot to
    one row per entity with a ``{side}_value`` column per dataset.

    The per-side raw lookup joins are broadcast-eligible (representatives
    are tiny relative to the raw tables); at scale, the raw side is the big
    probe side and Catalyst/AQE broadcasts the representative side.
    """
    joined = None
    for side in sides:
        raw = raw_by_side[side].select(
            F.col(id_col).cast("string").alias(id_col), F.col(value_col)
        )
        side_repr = representatives.filter(F.col(side_col) == side)
        part = side_repr.join(raw, on=[id_col], how="left")
        joined = part if joined is None else joined.unionByName(part)

    pivoted = (
        joined.groupBy(cluster_col)
        .pivot(side_col, sides)
        .agg(F.min(id_col).alias("id"), F.min(value_col).alias("value"))
    )
    keep = [F.col(f"{side}_value") for side in sides]
    return pivoted.select(F.col(cluster_col), *keep)
