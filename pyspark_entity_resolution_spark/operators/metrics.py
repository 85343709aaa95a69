"""Blocked-vs-exhaustive quality metrics (reference src/performance.py:4-32).

The reference computes five separate actions (two counts + intersect/
subtract/subtract, each its own shuffle). ``match_quality`` keeps that
exact semantics but derives tp/fn/fp from ONE full-outer join on the pair
key — a single shuffle, then one aggregation pass. At 100 TB of pairs that
is the difference between one scan and five.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.io import LEFT, RIGHT


def match_quality(
    complete: DataFrame,
    blocked: DataFrame,
    keys: list[str] = (f"{LEFT}_id", f"{RIGHT}_id"),
    ndigits: int = 3,
) -> dict[str, float]:
    """Precision/recall/F1 of ``blocked`` against the exhaustive
    ``complete`` baseline, keyed on the pair-id columns."""
    keys = list(keys)
    left = complete.select(*keys).distinct().withColumn("_in_complete", F.lit(1))
    right = blocked.select(*keys).distinct().withColumn("_in_blocked", F.lit(1))

    both = left.join(right, on=keys, how="full_outer")
    row = both.agg(
        F.count(F.col("_in_complete")).alias("true_duplicates"),
        F.count(F.col("_in_blocked")).alias("blocked_duplicates"),
        F.count(F.when(F.col("_in_complete").isNotNull() & F.col("_in_blocked").isNotNull(), 1)).alias("tp"),
        F.count(F.when(F.col("_in_complete").isNotNull() & F.col("_in_blocked").isNull(), 1)).alias("fn"),
        F.count(F.when(F.col("_in_complete").isNull() & F.col("_in_blocked").isNotNull(), 1)).alias("fp"),
    ).collect()[0]

    tp, fn, fp = row["tp"], row["fn"], row["fp"]
    precision = tp / (tp + fp) if (tp + fp) else 0.0
    recall = tp / (tp + fn) if (tp + fn) else 0.0
    f1 = 2 * precision * recall / (precision + recall) if (precision + recall) else 0.0
    return {
        "true duplicates": row["true_duplicates"],
        "blocked duplicates": row["blocked_duplicates"],
        "true positives": tp,
        "false negatives": fn,
        "false positives": fp,
        "precision": round(precision, ndigits),
        "recall": round(recall, ndigits),
        "f1": round(f1, ndigits),
    }
