"""Seeded input generators for the ER benchmark.

Two generators, both pure Python and independent of the package under test
(the package only ever sees the files written here):

- ``aminer``: two AMiner citation dumps (side ``a`` and side ``b``) of
  SIGMOD/VLDB records in the workload's year range, with planted
  cross-side duplicate entities. Per-year density is
  ``n_per_side / years`` records per side.
- ``pairs``: an ER-shaped match history (clusters of at most four records,
  every pair delivered twice) and a sequence of ~1% batches, half attaching
  new records to existing entities and half forming new clusters.

Each workload's generator and sizes are its ``params`` in
``workloads.json``, the one table of workload sizes. Output is cached on
disk by (generator, seed, size), so repeated runs with the same seed reuse
the same bytes. Run directly to materialize one workload's inputs:

    python3 erbench/gen.py --workload er_paper --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import csv
import json
import os
import random

GEN_VERSION = 2
YEAR_LOWER = 1995
DUP_RATE = 0.08  # planted duplicate entities per record, as in the paper's corpus

_FIRST = [
    "alice", "ángel", "bruno", "carla", "chen", "dario", "elena", "élodie",
    "farid", "greta", "hana", "hugo", "ines", "ivan", "jürgen", "julia",
    "kai", "karin", "lars", "lena", "luca", "maria", "mei", "mikko",
    "åsa", "amir", "beatriz", "dmitri", "fatima", "giorgos",
]
_LAST = [
    "nguyen", "novak", "nováková", "olsen", "ortiz", "patel", "petrov",
    "quinn", "rossi", "ruiz", "sato", "schulz", "silva", "smith", "søndergaard",
    "suzuki", "tanaka", "torres", "ueda", "varga", "vogel", "wagner", "weber",
    "wong", "xu", "yamada", "young", "zhang", "zhou", "šimek", "prieto",
    "ramírez", "størmer", "thiel", "úlfarsson",
]
_WORDS = [
    "adaptive", "aggregation", "algebra", "analytics", "approximate", "array",
    "benchmark", "bitmap", "bloom", "buffer", "cache", "cardinality", "catalog",
    "clustering", "columnar", "compression", "concurrency", "consistency",
    "cost", "crowdsourcing", "cube", "database", "dataflow", "deduplication",
    "distributed", "durability", "elastic", "embedding", "engine", "entity",
    "estimation", "evaluation", "execution", "federated", "filter", "flash",
    "framework", "fuzzy", "graph", "hashing", "heterogeneous", "histogram",
    "hybrid", "incremental", "index", "integration", "isolation", "join",
    "key-value", "lakehouse", "latency", "learned", "lineage", "linkage",
    "locking", "logging", "main-memory", "mining", "model", "multidimensional",
    "network", "nearest", "neighbor", "olap", "online", "optimization",
    "optimizer", "parallel", "partitioning", "pipeline", "planning", "privacy",
    "probabilistic", "provenance", "quality", "query", "recovery", "relational",
    "replication", "resolution", "rewriting", "robust", "sampling", "scalable",
    "schema", "search", "semantic", "serializable", "similarity", "sketch",
    "skyline", "spatial", "storage", "stream", "string", "temporal", "top-k",
    "transaction", "tree", "uncertain", "update", "vector", "versioned",
    "view", "warehouse", "workload", "xml", "café", "naïve", "façade",
    "coördinated", "über", "rôle", "déjà",
]
_STOP = ["of", "the", "for", "a", "in", "with", "on", "and", "to", "an"]
_ACCENT_FOLD = {
    "café": "cafe", "naïve": "naive", "façade": "facade",
    "coördinated": "coordinated", "über": "uber", "rôle": "role", "déjà": "deja",
    "ángel": "angel", "élodie": "elodie", "jürgen": "jurgen", "åsa": "asa",
    "nováková": "novakova", "šimek": "simek",
    "ramírez": "ramirez", "úlfarsson": "ulfarsson",
}
_VENUES = {
    "a": {"sigmod": ["SIGMOD Conference"], "vldb": ["VLDB"]},
    "b": {
        "sigmod": [
            "Proceedings of the ACM SIGMOD International Conference on Management of Data",
            "SIGMOD Record",
        ],
        "vldb": ["The VLDB Journal", "PVLDB"],
    },
}
_BOTH_TAG_VENUE = "SIGMOD/VLDB Joint Workshop on Data Management"


def _record(title, authors, year, venue, index, refs=()) -> str:
    lines = [f"#*{title}", f"#@{authors}", f"#t{year}", f"#c{venue}", f"#index{index}"]
    lines += [f"#%{r}" for r in refs]
    return "\n".join(lines)


def _title(rng: random.Random) -> list[str]:
    """Distinct content words of one base title (7 to 10 words)."""
    return rng.sample(_WORDS, rng.randint(7, 10))


def _render_title(rng: random.Random, words: list[str]) -> str:
    out = []
    for i, w in enumerate(words):
        if i and rng.random() < 0.25:
            out.append(rng.choice(_STOP))
        out.append(w.capitalize() if i == 0 or rng.random() < 0.3 else w)
    return " ".join(out) + ("." if rng.random() < 0.5 else "")


def _authors(rng: random.Random) -> list[tuple[str, str]]:
    return [(rng.choice(_FIRST), rng.choice(_LAST)) for _ in range(rng.randint(1, 4))]


def _render_authors(rng: random.Random, names: list[tuple[str, str]]) -> str:
    out = []
    for first, last in names:
        name = f"{first.capitalize()} {last.capitalize()}"
        if rng.random() < 0.1:
            name += f" {rng.randint(1, 9):04d}"  # DBLP homonym suffix
        out.append(name)
    return ", ".join(out)


def _perturb(rng: random.Random, words, names, year, year_upper):
    """One duplicate copy of a base entity. Every perturbation keeps the
    pair inside the pipeline's match rule against the base AND against any
    other copy: at most one dropped title word (>= 7 distinct words, so
    pairwise Jaccard >= 5/7), at most one one-letter author typo in a last
    name's final letter (pairwise Levenshtein <= 2, author count unchanged,
    within-name token order unchanged because first names sort before last
    names), and a year within +1 of the base."""
    words = list(words)
    kind = rng.random()
    if kind < 0.3:
        del words[rng.randrange(len(words))]
    elif kind < 0.5:
        i, j = rng.sample(range(len(words)), 2)
        words[i], words[j] = words[j], words[i]
    words = [_ACCENT_FOLD.get(w, w) if rng.random() < 0.5 else w for w in words]

    names = [
        (_ACCENT_FOLD.get(f, f), _ACCENT_FOLD.get(l, l)) if rng.random() < 0.3 else (f, l)
        for f, l in names
    ]
    if rng.random() < 0.3:
        k = rng.randrange(len(names))
        f, l = names[k]
        typo = rng.choice([c for c in "aeiourst" if c != l[-1]])
        names[k] = (f, l[:-1] + typo)
    authors = _render_authors(rng, names)
    if rng.random() < 0.2:  # "Last First" within one name: sort_authors restores it
        parts = authors.split(", ")
        k = rng.randrange(len(parts))
        toks = parts[k].split(" ")
        parts[k] = " ".join([toks[1], toks[0], *toks[2:]])
        authors = ", ".join(parts)
    year = min(year + (1 if rng.random() < 0.3 else 0), year_upper)
    return _render_title(rng, words), authors, year


def _store(out: str, meta: dict) -> None:
    tmp = os.path.join(out, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(out, "meta.json"))


def _load(out: str) -> dict:
    """Metadata with file names resolved against the cache directory."""
    with open(os.path.join(out, "meta.json")) as f:
        meta = json.load(f)
    for k in ("dump_a", "dump_b", "history"):
        if k in meta:
            meta[k] = os.path.join(out, meta[k])
    if "batches" in meta:
        meta["batches"] = [os.path.join(out, n) for n in meta["batches"]]
    return meta


def aminer_dir(root: str, seed: int, n: int, years: int) -> str:
    return os.path.join(root, f"aminer-v{GEN_VERSION}-s{seed}-n{n}-y{years}")


def generate_aminer(root: str, seed: int, n: int, years: int) -> dict:
    """Write ``dump_a.txt``, ``dump_b.txt`` and ``meta.json`` (planted
    duplicate pairs by AMiner index, raw record counts) under a directory
    keyed by the arguments; return the metadata. Cached."""
    out = aminer_dir(root, seed, n, years)
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        return _load(out)
    rng = random.Random(f"aminer:{seed}:{n}:{years}")
    year_upper = YEAR_LOWER + years - 1
    recs = {"a": [], "b": []}
    counter = {"a": 0, "b": 0}
    planted: list[list[str]] = []

    def new_index(side):
        counter[side] += 1
        return f"{side}{counter[side]:07d}"

    def refs():
        return [f"r{rng.randrange(10**6):06d}" for _ in range(rng.randint(0, 3))]

    def venue(side, tag):
        if rng.random() < 0.01:
            return _BOTH_TAG_VENUE
        return rng.choice(_VENUES[side][tag])

    n_dup_entities = int(n * DUP_RATE)
    for _ in range(n_dup_entities):
        words, names = _title(rng), _authors(rng)
        year = rng.randint(YEAR_LOWER, year_upper)
        tag = rng.choice(["sigmod", "vldb"])
        members = {}
        for side in ("a", "b"):
            members[side] = []
            for _k in range(2 if rng.random() < 0.2 else 1):
                t, au, y = _perturb(rng, words, names, year, year_upper)
                idx = new_index(side)
                recs[side].append(_record(t, au, y, venue(side, tag), idx, refs()))
                members[side].append(idx)
        planted += [[ia, ib] for ia in members["a"] for ib in members["b"]]

    for side in ("a", "b"):
        while len(recs[side]) < n:
            tag = rng.choice(["sigmod", "vldb"])
            recs[side].append(_record(
                _render_title(rng, _title(rng)), _render_authors(rng, _authors(rng)),
                rng.randint(YEAR_LOWER, year_upper), venue(side, tag),
                new_index(side), refs(),
            ))
        rng.shuffle(recs[side])

    os.makedirs(out, exist_ok=True)
    for side in ("a", "b"):
        with open(os.path.join(out, f"dump_{side}.txt"), "w", encoding="utf-8") as f:
            f.write("\n\n".join(recs[side]) + "\n")
    meta = {
        "dump_a": "dump_a.txt",
        "dump_b": "dump_b.txt",
        "records": len(recs["a"]) + len(recs["b"]),
        "year_upper": year_upper,
        "planted_pairs": planted,
    }
    _store(out, meta)
    return _load(out)


def pairs_dir(root: str, seed: int, n_pairs: int, batches: int) -> str:
    return os.path.join(root, f"pairs-v{GEN_VERSION}-s{seed}-p{n_pairs}-k{batches}")


def _cluster_pairs(rng: random.Random, new_id) -> list[tuple[int, int]]:
    """All cross-side pairs of one entity of at most four records."""
    k_a = rng.choice([1, 1, 2])
    k_b = rng.choice([1, 1, 2]) if k_a == 2 else rng.choice([1, 2, 3])
    a_ids = [new_id() for _ in range(k_a)]
    b_ids = [new_id() for _ in range(k_b)]
    return [(x, y) for x in a_ids for y in b_ids]


def generate_pairs(root: str, seed: int, n_pairs: int, batches: int) -> dict:
    """Write ``history.csv`` (~``n_pairs`` distinct pairs, each twice) and
    ``batch_000.csv``... (each ~1% of ``n_pairs``, pairs twice) with header
    ``a_id,b_id`` of signed 64-bit ids, like the pipeline's record ids.
    Cached."""
    out = pairs_dir(root, seed, n_pairs, batches)
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        return _load(out)
    rng = random.Random(f"pairs:{seed}:{n_pairs}:{batches}")
    used: set[int] = set()

    def new_id() -> int:
        while True:
            x = rng.randrange(-(2**63), 2**63)
            if x not in used:
                used.add(x)
                return x

    history: list[tuple[int, int]] = []
    members: list[tuple[list[int], list[int]]] = []  # per entity: a ids, b ids
    while len(history) < n_pairs:
        ps = _cluster_pairs(rng, new_id)
        history += ps
        members.append((sorted({a for a, _ in ps}), sorted({b for _, b in ps})))

    batch_pairs = []
    per_batch = max(2, n_pairs // 100)
    for _ in range(batches):
        batch: list[tuple[int, int]] = []
        while len(batch) < per_batch // 2:  # attach a new record to an entity
            a_ids, b_ids = rng.choice(members)
            if rng.random() < 0.5:
                x = new_id()
                batch += [(x, b) for b in b_ids]
                a_ids.append(x)
            else:
                y = new_id()
                batch += [(a, y) for a in a_ids]
                b_ids.append(y)
        while len(batch) < per_batch:  # brand-new entities
            ps = _cluster_pairs(rng, new_id)
            batch += ps
            members.append((sorted({a for a, _ in ps}), sorted({b for _, b in ps})))
        batch_pairs.append(batch)

    os.makedirs(out, exist_ok=True)

    def write(name, ps):
        doubled = ps + ps  # at-least-once delivery: every pair arrives twice
        rng.shuffle(doubled)
        with open(os.path.join(out, name), "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["a_id", "b_id"])
            w.writerows(doubled)

    write("history.csv", history)
    names = []
    for i, ps in enumerate(batch_pairs):
        names.append(f"batch_{i:03d}.csv")
        write(names[-1], ps)
    meta = {
        "history": "history.csv",
        "batches": names,
        "history_pairs": len(history),
        "batch_pairs": [len(b) for b in batch_pairs],
    }
    _store(out, meta)
    return _load(out)


def workloads() -> dict[str, dict]:
    """Each workload's ``params`` from ``workloads.json``."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")) as f:
        return {name: w["params"] for name, w in json.load(f)["workloads"].items()}


def generate(root: str, workload: str, seed: int) -> dict:
    """Inputs of ``workload`` for ``seed`` under ``root``, cached."""
    spec = workloads()[workload]
    if spec["generator"] == "aminer":
        return generate_aminer(root, seed, spec["n_per_side"], spec["years"])
    return generate_pairs(root, seed, spec["history_pairs"], spec["batches"])


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads()))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    meta = generate(args.out, args.workload, args.seed)
    print(json.dumps({k: v for k, v in meta.items() if not isinstance(v, list)}))


if __name__ == "__main__":
    main()
