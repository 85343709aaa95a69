"""CLI mirroring the reference's staged pipeline (src/pipeline.sh /
prepare_data.py / match.py / create_graph.py / measure_performance.py),
so a user of the reference can run the same stages against this engine:

    python -m pyspark_entity_resolution_spark prepare --input dump.txt --dest clean/
    python -m pyspark_entity_resolution_spark match --left a/ --right b/ --dest pairs/ [--year-range N]
    python -m pyspark_entity_resolution_spark cluster --pairs pairs/ --left a/ --right b/ --dest entities/
    python -m pyspark_entity_resolution_spark metrics --complete full/ --blocked blocked/
    python -m pyspark_entity_resolution_spark run --left-raw a.txt --right-raw b.txt --dest out/ [--year-range N]

Stage handoff is parquet, as in the reference (report.pdf p.2 §1.2); the
`run` subcommand fuses everything into one session/plan instead.
"""

from __future__ import annotations

import argparse
import json

from .operators.metrics import match_quality
from .pipeline import (
    ERConfig,
    match_publications,
    prepare_publications,
    resolve_pipeline,
    run_er_pipeline,
)
from .session import get_spark
from .sources.io import read_parquet, write_csv, write_parquet


def _cfg(args) -> ERConfig:
    window = getattr(args, "year_range", None)
    if window is not None:
        window = max(1, min(window, 9))  # reference clamps to [1, 9]
    return ERConfig(window=window)


def cmd_prepare(args) -> None:
    spark = get_spark("er-prepare")
    df = prepare_publications(spark, args.input, _cfg(args))
    write_parquet(df, args.dest)


def cmd_match(args) -> None:
    spark = get_spark("er-match")
    left = read_parquet(spark, args.left)
    right = read_parquet(spark, args.right)
    matched = match_publications(left, right, _cfg(args))
    write_parquet(matched, args.dest)


def cmd_cluster(args) -> None:
    spark = get_spark("er-cluster")
    cfg = _cfg(args)
    pairs = read_parquet(spark, args.pairs)
    left = read_parquet(spark, args.left)
    right = read_parquet(spark, args.right)
    entities = resolve_pipeline(left, right, pairs, cfg)
    write_parquet(entities, args.dest)
    write_csv(entities, args.dest + "_csv", sep="\t", rename_to="Matched_Entities.csv")


def cmd_metrics(args) -> None:
    spark = get_spark("er-metrics")
    complete = read_parquet(spark, args.complete)
    blocked = read_parquet(spark, args.blocked)
    print(json.dumps(match_quality(complete, blocked)))


def cmd_run(args) -> None:
    spark = get_spark("er-run")
    cfg = _cfg(args)
    stages = run_er_pipeline(spark, args.left_raw, args.right_raw, cfg)
    write_parquet(stages["matches"], args.dest + "/matches")
    write_parquet(stages["entities"], args.dest + "/entities")
    write_csv(
        stages["entities"], args.dest + "/entities_csv", sep="\t",
        rename_to="Matched_Entities.csv",
    )
    print(
        json.dumps(
            {
                "matches": stages["matches"].count(),
                "entities": stages["entities"].count(),
            }
        )
    )


def main() -> None:
    parser = argparse.ArgumentParser(prog="pyspark_entity_resolution_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("prepare", help="parse+filter+clean one AMiner dump")
    p.add_argument("--input", required=True)
    p.add_argument("--dest", required=True)
    p.set_defaults(fn=cmd_prepare)

    p = sub.add_parser("match", help="block+score+match two cleaned tables")
    p.add_argument("--left", required=True)
    p.add_argument("--right", required=True)
    p.add_argument("--dest", required=True)
    p.add_argument("--year-range", type=int, default=None,
                   help="blocking window size (omit for exhaustive)")
    p.set_defaults(fn=cmd_match)

    p = sub.add_parser("cluster", help="cluster matches -> entity table")
    p.add_argument("--pairs", required=True)
    p.add_argument("--left", required=True)
    p.add_argument("--right", required=True)
    p.add_argument("--dest", required=True)
    p.set_defaults(fn=cmd_cluster)

    p = sub.add_parser("metrics", help="P/R/F1 of blocked vs exhaustive")
    p.add_argument("--complete", required=True)
    p.add_argument("--blocked", required=True)
    p.set_defaults(fn=cmd_metrics)

    p = sub.add_parser("run", help="full pipeline from two raw dumps")
    p.add_argument("--left-raw", required=True)
    p.add_argument("--right-raw", required=True)
    p.add_argument("--dest", required=True)
    p.add_argument("--year-range", type=int, default=None)
    p.set_defaults(fn=cmd_run)

    args = parser.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
