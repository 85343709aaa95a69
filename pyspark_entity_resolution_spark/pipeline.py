"""End-to-end entity-resolution pipeline (single lazy plan per stage).

Composition of the stage operators, mirroring the reference's five stages
(reference src/pipeline.sh / src/pipeline.py) but as one library call:

    parse -> filter -> clean -> block -> match -> cluster -> resolve

Stage boundaries are plain DataFrames; callers choose whether to
materialize (parquet) or keep the plan fused. No driver-side loops over
records; the one collect() on the data path is bounded — clustering
labels a match graph of at most ``clustering.DRIVER_BOUND`` edges on
the driver (operators/clustering.py), larger graphs stay distributed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions import cleaning as C
from .operators import blocking, matching
from .operators.clustering import cluster_matched_pairs
from .operators.resolve import entity_table, pick_representatives
from .sources.aminer import read_aminer
from .sources.io import LEFT, RIGHT, prefix_columns


@dataclass
class ERConfig:
    venues: list[str] = field(default_factory=lambda: ["sigmod", "vldb"])
    year_lower: int = 1995
    year_upper: int = 2004
    window: int | None = 3          # None -> exhaustive cross join
    max_levenshtein: int = 10
    min_jaccard: float = 0.6


def prepare_publications(spark: SparkSession, path: str, cfg: ERConfig) -> DataFrame:
    """Parse + filter + clean one source (reference src/cleaning.py:175-199).

    The year/venue filter runs BEFORE the cleaning expressions so the one
    pandas UDF (accent folding) only sees surviving rows. The stable ``id``
    is a hash of the raw record (deterministic across runs, unlike the
    reference's ``monotonically_increasing_id``, SURVEY.md §7.3).
    """
    df = read_aminer(spark, path)
    # NO forced repartition before the clean stage: an exchange here
    # shuffles the full raw `value` text and splits the two
    # accent-folding projections across a stage boundary, and
    # measured slower (OPTIMIZATION_r13.md). Spark's bytes-per-core file
    # splitting already gives the text scan adequate width; the blocked
    # join downstream has its own spread guard (operators/blocking.py).
    year = F.col("year")
    venue_ok = F.lit(False)
    for v in cfg.venues:
        venue_ok = venue_ok | F.col("venue").contains(v)
    df = df.filter(year.between(cfg.year_lower, cfg.year_upper) & venue_ok)
    return clean_publications(df)


def clean_publications(df: DataFrame) -> DataFrame:
    """Apply the cleaning composition (reference src/cleaning.py:118-134):
    title -> stopword-stripped accent-folded; authors -> digit-stripped,
    punctuation-cleaned, accent-folded, token-sorted; plus honest types
    and the derived ``num_authors``/``id`` columns."""
    return df.select(
        F.xxhash64("value").alias("id"),
        C.remove_stopwords(C.remove_accents(F.col("title"))).alias("title"),
        C.sort_authors(
            C.remove_accents(C.clean_record(C.remove_nums(F.col("authors"))))
        ).alias("authors"),
        F.col("year"),
        C.clean_record(F.col("venue")).alias("venue"),
        C.clean_record(F.col("index")).alias("index"),
        C.clean_record(F.col("references")).alias("references"),
        F.trim(F.regexp_replace("value", "\n", " ")).alias("value"),
    ).withColumn("num_authors", C.get_num_authors("authors"))


def match_publications(left: DataFrame, right: DataFrame, cfg: ERConfig) -> DataFrame:
    """Block + score + match two cleaned publication tables; returns the
    matched-pair table with prefixed columns."""
    l, r = LEFT, RIGHT
    keep = ["id", "index", "title", "authors", "year", "venue", "num_authors"]
    lp = prefix_columns(left.select(*keep), l)
    rp = prefix_columns(right.select(*keep), r)

    pairs = blocking.candidate_pairs(
        lp,
        rp,
        left_id=f"{l}_id",
        right_id=f"{r}_id",
        venues=cfg.venues,
        year_col_left=f"{l}_year",
        year_col_right=f"{r}_year",
        venue_col_left=f"{l}_venue",
        venue_col_right=f"{r}_venue",
        lower=cfg.year_lower,
        upper=cfg.year_upper,
        window=cfg.window,
    )
    matched = matching.score_and_match(
        pairs,
        venues=cfg.venues,
        max_levenshtein=cfg.max_levenshtein,
        min_jaccard=cfg.min_jaccard,
    )
    if cfg.window is None:
        matched = matched.dropDuplicates([f"{l}_id", f"{r}_id"])
    return matched


def resolve_pipeline(
    left_clean: DataFrame,
    right_clean: DataFrame,
    matches: DataFrame,
    cfg: ERConfig,
) -> DataFrame:
    """Cluster matches and emit the two-column matched-entities table
    (reference src/create_graph.py:51-89). No ``cfg`` field applies to
    these two stages; it is taken so every stage has the same call shape."""
    clustered = cluster_matched_pairs(matches)
    return entity_table(
        pick_representatives(clustered),
        raw_by_side={LEFT: left_clean, RIGHT: right_clean},
        sides=[LEFT, RIGHT],
    )


def run_er_pipeline(
    spark: SparkSession,
    left_path: str,
    right_path: str,
    cfg: ERConfig | None = None,
) -> dict[str, DataFrame]:
    """Full pipeline from two raw AMiner dumps. Returns every stage output.

    Stage outputs are lazily local-checkpointed: each is materialized by
    its first consumer and later consumers read the persisted rows instead
    of replaying the plan. The cleaned tables feed both the match join and
    the final entity join; the match table feeds the cluster stage twice
    (node set + edge set) plus any caller writes. The reference persists
    the same stage boundaries to parquet between its pipeline steps
    (src/pipeline.sh); this keeps them in executor storage instead.
    """
    cfg = cfg or ERConfig()
    left_clean = prepare_publications(spark, left_path, cfg).localCheckpoint(
        eager=False
    )
    right_clean = prepare_publications(spark, right_path, cfg).localCheckpoint(
        eager=False
    )
    matches = match_publications(left_clean, right_clean, cfg).localCheckpoint(
        eager=False
    )
    entities = resolve_pipeline(left_clean, right_clean, matches, cfg)
    return {
        "left_clean": left_clean,
        "right_clean": right_clean,
        "matches": matches,
        "entities": entities,
    }
