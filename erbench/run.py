"""Entity-resolution benchmark: one workload per run, one closed-loop client.

    python3 erbench/run.py --workload er_paper --seed 1 --seconds 12 --trace 0

Runs from the root of a source checkout, on ``local[<cpus>]`` with a 2 GB
driver heap and every file it writes under ``.erbench_work/``. The run sets
up a Spark session, performs one cold operation and ``WARMUP_OPS`` untimed
warm-up operations (JIT compilation makes the first warm operations of a
session up to ~30% slower than the later ones, and ~5% faster each time
for a few more), then timed warm operations back to back until their
summed time reaches ``--seconds`` (at least ``MIN_WARM``), checks every
output, and prints one JSON object as the last line of standard output.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a separate
traced run that reports the per-layer metrics (see ``spans.py``) and writes
its spans to ``.erbench_work/traces/``. Exit code 1 when an output check
failed, 2 when the checkout holds no package source.

Every end-to-end metric of every workload, by name and unit:

    for w in er_paper er_incremental; do
        python3 erbench/run.py --workload $w --seed 1 --seconds 12 --trace 0 || break
    done

Workloads (sizes, counts, metric names and predictions: ``workloads.json``;
its ``params`` are the only copy of the input sizes):

- ``er_paper``: an operation is one batch pass of the reference pipeline,
  two raw AMiner dumps -> cleaned -> matched -> clustered -> entity CSV.
- ``er_incremental``: an operation is one batch cycle against a bucketed
  label store, a ~1% fold followed by a 100-key entity lookup; the cold
  operation folds the whole match history into an empty store.
"""

from __future__ import annotations

import argparse
import csv
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import checks
import gen
import spans

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".erbench_work")
PACKAGE = "pyspark_entity_resolution_spark"

WARMUP_OPS = 2
MIN_WARM = 2
MAX_OPS = 60
LOOKUP_KEYS = 100
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(f"[erbench {time.perf_counter() - T_PROCESS:7.1f}s] {msg}", file=sys.stderr, flush=True)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """State of one benchmark run: the session, the op tally, problems."""

    def __init__(self, args, run_dir: str):
        self.args = args
        self.dir = run_dir
        self.spark = None
        self.attempted = 0
        self.failed_ops: set[int] = set()
        self.problems: list[str] = []

    def op(self, fn, *a):
        """Run one timed operation; returns (seconds, result) or (None,
        None) when it raised, which counts as a failed operation."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn(*a)
        except Exception:  # a failed op is recorded and the loop goes on
            traceback.print_exc()
            self.failed_ops.add(self.attempted)
            self.problems.append(f"operation {self.attempted} raised")
            return None, None
        dt = time.perf_counter() - t
        log(f"operation {self.attempted} took {dt:.2f} s")
        return dt, out

    def fail(self, problems: list[str]) -> None:
        """Charge failed output checks to the operation just run."""
        if problems:
            self.failed_ops.add(self.attempted)
            self.problems += problems
            for p in problems:
                log(f"CHECK FAILED: {p}")

    def warm_loop(self, fn, verify) -> list[float]:
        times: list[float] = []
        while (len(times) < MIN_WARM or sum(times) < self.args.seconds) and self.attempted < MAX_OPS:
            dt, out = self.op(fn)
            if dt is not None:
                times.append(dt)
                self.fail(verify(out))
        return times


def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
        })
    return conf


def start_spark(run: Run, tracer):
    """Session plus one trivial job; returns the seconds it took."""
    t = time.perf_counter()
    from pyspark_entity_resolution_spark.session import get_spark

    if tracer is None:
        spark = get_spark("erbench", extra_conf=spark_conf(run.dir, False))
        spark.range(1).count()
    else:
        with tracer.span("session") as c:
            t_build = time.perf_counter()
            spark = get_spark("erbench", extra_conf=spark_conf(run.dir, True))
            tracer.attach(spark)
            c["build_s"] = time.perf_counter() - t_build
            t_exec = time.perf_counter()
            c["rows_out"] = spark.range(1).count()
            c["exec_s"] = time.perf_counter() - t_exec
    run.spark = spark
    return time.perf_counter() - t


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# ----------------------------------------------------------- er_paper --

class ERWorkload:
    def __init__(self, run: Run, inputs: dict):
        from pyspark_entity_resolution_spark.pipeline import ERConfig

        self.run = run
        self.inputs = inputs
        self.cfg = ERConfig(window=3, year_upper=inputs["year_upper"])
        self.out = os.path.join(run.dir, "entities_csv")
        self.first: tuple | None = None
        self.recall = None

    def one_pass(self):
        from pyspark_entity_resolution_spark.pipeline import run_er_pipeline
        from pyspark_entity_resolution_spark.sources.io import write_csv

        stages = run_er_pipeline(
            self.run.spark, self.inputs["dump_a"], self.inputs["dump_b"], self.cfg
        )
        write_csv(stages["entities"], self.out, sep="\t", rename_to="Matched_Entities.csv")
        return stages

    def verify(self, stages) -> list[str]:
        """Full checks on the first pass, then stability against it."""
        matches = stages["matches"].select("a_id", "b_id", "a_index", "b_index").toPandas()
        rows = checks.read_entity_csv(os.path.join(self.out, "Matched_Entities.csv"))
        key = (checks.digest(rows), checks.pair_multiset(matches))
        if self.first is not None:
            problems = []
            if key[0] != self.first[0]:
                problems.append("entity table digest differs from the first pass")
            if key[1] != self.first[1]:
                problems.append("matched pairs differ from the first pass")
            return problems
        self.first = key
        return self.full_checks(stages, matches, rows)

    def full_checks(self, stages, matches, rows) -> list[str]:
        cfg = self.cfg
        log("full output checks")
        left = stages["left_clean"].select(*checks.CLEAN_COLS).toPandas()
        right = stages["right_clean"].select(*checks.CLEAN_COLS).toPandas()
        oracle = checks.oracle_matches(
            left, right, cfg.venues, cfg.year_lower, cfg.year_upper, cfg.window,
            cfg.max_levenshtein, cfg.min_jaccard,
        )
        problems = checks.check_matches(matches, oracle)
        self.recall, missing = checks.check_planted(matches, self.inputs["planted_pairs"])
        problems += missing
        want = checks.expected_entities(matches, left, right)
        if sorted(rows) != sorted(want):
            problems.append(
                f"entity table differs from union-find clusters: {len(rows)} rows vs "
                f"{len(want)} expected, {len(set(rows) - want)} unexpected"
            )
        counts = {"matches": len(matches), "entities": len(rows),
                  "cleaned_a": len(left), "cleaned_b": len(right)}
        log(f"counts {json.dumps(counts)} planted_recall={self.recall}")
        return problems

    def measure(self) -> dict:
        run = self.run
        cold, stages = run.op(self.one_pass)
        if cold is not None:
            run.fail(self.verify(stages))
        for _ in range(WARMUP_OPS):
            dt, stages = run.op(self.one_pass)
            if dt is not None:
                run.fail(self.verify(stages))
        warm = run.warm_loop(self.one_pass, self.verify)
        pass_s = statistics.median(warm)
        return {
            "cold_s": cold,
            "warm_s": pass_s,
            "records_per_s": self.inputs["records"] / pass_s,
        }

    def traced(self, tracer) -> dict:
        """Cold pass and one warm-up pass, one traced pass with every stage
        boundary materialized, one plain pass (the overhead baseline),
        then the count-only blocking and accent UDF spans. Per-layer
        numbers come from the traced pass."""
        from pyspark.sql import functions as F

        from pyspark_entity_resolution_spark.functions.cleaning import remove_accents
        from pyspark_entity_resolution_spark.operators import blocking
        from pyspark_entity_resolution_spark.operators import clustering as cc
        from pyspark_entity_resolution_spark.operators.resolve import (
            entity_table, pick_representatives,
        )
        from pyspark_entity_resolution_spark.pipeline import (
            clean_publications, match_publications,
        )
        from pyspark_entity_resolution_spark.sources.aminer import read_aminer
        from pyspark_entity_resolution_spark.sources.io import prefix_columns, write_csv

        run, spark, cfg = self.run, self.run.spark, self.cfg
        for _ in range(2):  # cold pass and one warm-up pass
            dt, stages = run.op(self.one_pass)
            if dt is not None:
                run.fail(self.verify(stages))

        def ckpt(df):
            return df.localCheckpoint(eager=True)

        def parse(path):
            # the year/venue filter of pipeline.prepare_publications
            df = read_aminer(spark, path)
            venue_ok = F.lit(False)
            for v in cfg.venues:
                venue_ok = venue_ok | F.col("venue").contains(v)
            return df.filter(F.col("year").between(cfg.year_lower, cfg.year_upper) & venue_ok)

        outputs = []
        t = time.perf_counter()
        with tracer.span("pass"):
            run.attempted += 1
            parsed, clean = {}, {}
            for side in ("a", "b"):
                parsed[side], c = tracer.stage(
                    "aminer", lambda: parse(self.inputs[f"dump_{side}"]), ckpt)
                outputs.append((parsed[side], c))
                clean[side], c = tracer.stage(
                    "cleaning", lambda: clean_publications(parsed[side]), ckpt)
                outputs.append((clean[side], c))
            matches, c = tracer.stage(
                "matching", lambda: match_publications(clean["a"], clean["b"], cfg), ckpt)
            outputs.append((matches, c))
            clustered, c = tracer.stage(
                "clustering",
                lambda: cc.cluster_matched_pairs(matches, "a_id", "b_id", "a", "b"), ckpt)
            rounds = len(getattr(cc, "LAST_RUN_ROUND_STATS", []))
            outputs.append((clustered, c))
            entities, c = tracer.stage(
                "resolve",
                lambda: entity_table(pick_representatives(clustered), clean, ["a", "b"]), ckpt)
            outputs.append((entities, c))
            _, c = tracer.stage(
                "io", lambda: entities,
                lambda df: write_csv(df, self.out, sep="\t", rename_to="Matched_Entities.csv"))
            outputs.append((entities, c))
        traced_s = time.perf_counter() - t
        for df, c in outputs:
            c["rows_out"] = df.count()
        run.fail(self.verify({"matches": matches, "left_clean": clean["a"],
                              "right_clean": clean["b"]}))
        plain_s, stages = run.op(self.one_pass)
        if plain_s is not None:
            run.fail(self.verify(stages))

        keep = ["id", "index", "title", "authors", "year", "venue", "num_authors"]
        lp = prefix_columns(clean["a"].select(*keep), "a")
        rp = prefix_columns(clean["b"].select(*keep), "b")

        def candidates():  # the blocking call match_publications makes
            return blocking.candidate_pairs(
                lp, rp, left_id="a_id", right_id="b_id", venues=cfg.venues,
                year_col_left="a_year", year_col_right="b_year",
                venue_col_left="a_venue", venue_col_right="b_venue",
                lower=cfg.year_lower, upper=cfg.year_upper, window=cfg.window)

        n_cand, c = tracer.stage("blocking", candidates, lambda df: df.count())
        c["rows_out"] = n_cand
        planted = spark.createDataFrame(
            [tuple(p) for p in self.inputs["planted_pairs"]], "a_index string, b_index string")
        found = candidates().join(planted, ["a_index", "b_index"], "left_semi").count()
        with tracer.span("cleaning.accent_udf"):
            t_udf = time.perf_counter()
            for side in ("a", "b"):
                parsed[side].select(remove_accents(F.col("title"))).write.format(
                    "noop").mode("overwrite").save()
            accent_s = time.perf_counter() - t_udf
        n_left, n_right = outputs[1][1]["rows_out"], outputs[3][1]["rows_out"]
        n_matches = outputs[4][1]["rows_out"]
        return {
            "ops": 1,
            "blocking.candidates": n_cand,
            "blocking.pair_completeness": found / len(self.inputs["planted_pairs"]),
            "blocking.reduction_ratio": 1 - n_cand / (n_left * n_right),
            "matching.yield": n_matches / n_cand,
            "matching.planted_recall": self.recall,
            "cleaning.accent_udf_s": accent_s,
            "clustering.rounds": rounds,
            "clustering.edges_in": n_matches,
            "clustering.components": clustered.select("cluster_id").distinct().count(),
            "trace.pass_s": traced_s,
            "trace.overhead_s": traced_s - plain_s,
        }


# ----------------------------------------------------- er_incremental --

class IncrementalWorkload:
    def __init__(self, run: Run, inputs: dict):
        self.run = run
        self.inputs = inputs
        self.store = os.path.join(run.dir, "labels")
        self.uf = checks.UnionFind()
        self.delivered: list[tuple[int, int]] = []
        self.nodes: list[str] = []  # every node key delivered, first-seen order
        self.rng = random.Random(f"lookup:{run.args.seed}")
        self.next_batch = 0

    def _read(self, path):
        return self.run.spark.read.csv(path, header=True, schema="a_id long, b_id long")

    def _deliver(self, path) -> None:
        """Fold ``path`` into the union-find oracle and the node list."""
        with open(path, newline="") as f:
            for row in csv.DictReader(f):
                a, b = int(row["a_id"]), int(row["b_id"])
                self.delivered.append((a, b))
                for node in (f"a:{a}", f"b:{b}"):
                    if node not in self.uf.parent:
                        self.nodes.append(node)
                self.uf.union(f"a:{a}", f"b:{b}")

    def fold(self, batch):
        from pyspark_entity_resolution_spark.streaming.er import incremental_entity_labels

        return incremental_entity_labels(self.run.spark, self.store, batch)

    def lookup(self, keys):
        from pyspark_entity_resolution_spark.streaming.er import entity_lookup

        return keys, entity_lookup(self.run.spark, self.store, keys).collect()

    def check_lookup(self, keys, rows) -> list[str]:
        got = {r["node"]: r["component"] for r in rows}
        wrong = [k for k in keys if got.get(k) != self.uf.find(k)]
        return [f"lookup: {len(wrong)} of {len(keys)} keys wrong or missing"] if wrong else []

    def cycle(self, path, tracer=None):
        """One batch cycle: fold ``path`` into the store, then look up
        ``LOOKUP_KEYS`` node keys. Returns (fold seconds, lookup seconds,
        lookup result). Only the fold and the lookup are timed; the
        oracle's bookkeeping and the key draw run between them."""
        t = time.perf_counter()
        if tracer is None:
            self.fold(self._read(path))
        else:
            report, c = tracer.stage("streaming_er", lambda: self._read(path), self.fold)
            c.update(self.fold_counts(report))
        fold_s = time.perf_counter() - t
        self._deliver(path)
        if tracer is not None:
            c["rows_out"] = len(self.nodes)
        keys = self.rng.sample(self.nodes, LOOKUP_KEYS)
        t = time.perf_counter()
        if tracer is None:
            result = self.lookup(keys)
        else:
            with tracer.span("streaming_er.lookup"):
                result = self.lookup(keys)
        return fold_s, time.perf_counter() - t, result

    def fold_counts(self, rep) -> dict:
        written = rep.written_buckets or []
        size = 0
        for root in (self.store, self.store + "__cidx"):
            for b in written:
                d = os.path.join(root, f"bucket={b}")
                if os.path.isdir(d):
                    size += sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
        return {
            "hit_components": rep.n_hit_components or 0,
            "written_buckets": len(written),
            "expansion_buckets": len(rep.expansion_buckets or []),
            "bytes_written": size,
        }

    def warm_op(self, tracer=None):
        path = self.inputs["batches"][self.next_batch]
        self.next_batch += 1
        return self.cycle(path, tracer)

    def final_check(self) -> list[str]:
        rows = self.run.spark.read.parquet(self.store).select("node", "component").collect()
        store = {r["node"]: r["component"] for r in rows}
        if len(store) != len(rows):
            return [f"label store holds {len(rows) - len(store)} duplicate node rows"]
        return checks.check_labels(store, self.delivered)

    def measure(self) -> dict:
        run = self.run
        max_ops = min(MAX_OPS, len(self.inputs["batches"]) + 1)
        cold = None
        dt, out = run.op(self.cycle, self.inputs["history"], None)
        if dt is not None:
            cold = out[0] + out[1]
            run.fail(self.check_lookup(*out[2]))
        for _ in range(WARMUP_OPS):
            dt, out = run.op(self.warm_op)
            if dt is not None:
                run.fail(self.check_lookup(*out[2]))
        fold_times, lookup_times, pairs = [], [], []
        while (len(fold_times) < MIN_WARM or sum(fold_times) + sum(lookup_times) < run.args.seconds) \
                and run.attempted < max_ops:
            batch = self.next_batch
            dt, out = run.op(self.warm_op)
            if dt is not None:
                fold_times.append(out[0])
                lookup_times.append(out[1])
                pairs.append(self.inputs["batch_pairs"][batch])
                run.fail(self.check_lookup(*out[2]))
        run.fail(self.final_check())
        cycles = [f + l for f, l in zip(fold_times, lookup_times)]
        per_batch = statistics.mean(pairs) * 2
        log(f"folds={len(fold_times)} store_nodes={len(self.nodes)}")
        return {
            "cold_s": cold,
            "warm_s": statistics.median(cycles),
            "records_per_s": per_batch / statistics.median(cycles),
            "fold_s": statistics.median(fold_times),
            "lookup_s": statistics.median(lookup_times),
            "folds": len(fold_times),
        }

    def traced(self, tracer) -> dict:
        """Cold cycle, then plain and traced cycles alternating; the first
        plain cycle is the warm-up, and the overhead is the median traced
        fold minus the other plain fold."""
        from pyspark_entity_resolution_spark.operators import clustering as cc

        run = self.run
        with tracer.span("streaming_er.cold"):
            cold, out = run.op(self.cycle, self.inputs["history"], None)
        if cold is None:
            return {"ops": 1}
        cold_fold_s = out[0]
        run.fail(self.check_lookup(*out[2]))
        folds = {False: [], True: []}
        rounds = []
        for traced in (False, True, False, True):
            dt, out = run.op(self.warm_op, tracer if traced else None)
            if dt is None:
                continue
            folds[traced].append(out[0])
            run.fail(self.check_lookup(*out[2]))
            if traced:
                rounds.append(len(getattr(cc, "LAST_RUN_ROUND_STATS", [])))
        run.fail(self.final_check())
        lookups = [s["end"] - s["start"] for s in tracer.spans if s["name"] == "streaming_er.lookup"]
        traced_s = statistics.median(folds[True])
        return {
            "ops": len(folds[True]),
            "streaming_er.cold_fold_s": cold_fold_s,
            "streaming_er.lookup_s": statistics.mean(lookups),
            "clustering.rounds": statistics.mean(rounds),
            "trace.pass_s": traced_s,
            "trace.overhead_s": traced_s - statistics.median(folds[False][1:]),
        }


# --------------------------------------------------------------- main --

def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def measure(args, run_dir: str) -> tuple[Run, dict]:
    """One run of one workload; returns the tally and the metrics."""
    run = Run(args, run_dir)
    inputs = gen.generate(os.path.join(WORK, "inputs"), args.workload, args.seed)
    tracer = None
    if args.trace:
        tracer = spans.Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        setup_s = start_spark(run, tracer)
        kind = gen.workloads()[args.workload]["generator"]
        workload = (ERWorkload if kind == "aminer" else IncrementalWorkload)(run, inputs)
        if tracer is None:
            m = workload.measure()
            m["setup_s"] = setup_s
            log(json.dumps(m))
        else:
            extra = workload.traced(tracer)
        peak_rss_mb = jvm_peak_rss_mb(run.spark)
        log(f"driver JVM peak RSS {peak_rss_mb:.0f} MB")
        cores = int(run.spark.sparkContext.defaultParallelism)
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
            log("spark stopped")

    if tracer is None:
        units = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "records_per_s": "1/s"}
        return run, {k: {"value": m[k], "unit": u} for k, u in units.items()}

    events = spans.read_event_log(os.path.join(run_dir, "eventlog"))
    values = spans.layer_metrics(tracer.spans, events, cores, extra.pop("ops"))
    values["session.start_s"] = setup_s
    values["driver.peak_rss_mb"] = peak_rss_mb
    values.update(extra)
    for span in tracer.spans:
        span["events"] = events.get(span["id"], {})
    trace_path = os.path.join(WORK, "traces", f"{tracer.run_id}.json")
    tracer.dump(trace_path)
    log(f"spans written to {trace_path}")
    units = per_layer_units()
    unused = [n for n in units if n not in values]
    log(f"layers or counts this workload does not exercise, reported as 0: {unused}")
    return run, {n: {"value": values.get(n, 0.0), "unit": u} for n, u in units.items()}


def main() -> int:
    p = argparse.ArgumentParser(description="Entity-resolution benchmark (one workload per run)")
    p.add_argument("--workload", required=True, choices=sorted(gen.workloads()))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"package {PACKAGE} not found under {ROOT}; run from a source checkout")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
    })
    try:
        run, metrics = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    correct = not run.problems
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": len(run.failed_ops),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
