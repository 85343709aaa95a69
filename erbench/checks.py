"""Output checks that hold for any generator seed.

Every check here is an independent formulation of what the package should
produce; none of them calls the package. Each returns a list of problem
strings (empty when the output is correct).
"""

from __future__ import annotations

import csv
import hashlib
import os

import duckdb
import pandas as pd

CLEAN_COLS = ["id", "index", "title", "authors", "year", "venue", "num_authors", "value"]


def _ascii_codec(series: list[pd.Series]):
    """Map every non-ASCII character in ``series`` to an unused ASCII
    character. DuckDB's ``levenshtein`` counts bytes where Spark's counts
    characters; a character bijection makes the two agree exactly."""
    used = set()
    for s in series:
        for v in s.dropna():
            used.update(v)
    wide = sorted(c for c in used if ord(c) > 127)
    free = [chr(i) for i in range(1, 128) if chr(i) not in used]
    if len(free) < len(wide):
        raise ValueError(f"{len(wide)} non-ASCII characters but only {len(free)} free codes")
    table = str.maketrans(dict(zip(wide, free)))
    return lambda s: s.map(lambda v: v if v is None else v.translate(table))


def oracle_matches(
    left: pd.DataFrame,
    right: pd.DataFrame,
    venues: list[str],
    lower: int,
    upper: int,
    window: int,
    max_levenshtein: int,
    min_jaccard: float,
) -> pd.DataFrame:
    """The blocked venue/Levenshtein/rule/Jaccard chain in DuckDB, written
    the way the reference loops: one block per (venue, year window
    ``[s, s + window]``), candidates are the distinct pairs sharing a
    block, then venue agreement, the match rule and the Jaccard threshold.
    Returns ``(a_id, b_id)``.
    """
    to_ascii = _ascii_codec([left["authors"], right["authors"]])
    l = left.assign(authors=to_ascii(left["authors"]))
    r = right.assign(authors=to_ascii(right["authors"]))
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        con.register("l", l)
        con.register("r", r)
        con.register("v", pd.DataFrame({"v": venues}))
        venue_agree = " OR ".join(
            f"(contains(l.venue, '{x}') AND contains(r.venue, '{x}'))" for x in venues
        )
        # Every branch of the rule requires equal author counts, so that
        # cheap test and the Jaccard threshold run before the Levenshtein
        # distance; the predicates are a conjunction, so order does not
        # change the result. Jaccard is computed relationally over each
        # record's distinct title tokens: |A & B| / (|A| + |B| - |A & B|).
        sql = f"""
        WITH w AS (SELECT range AS s FROM range({lower}, {upper - window + 1})),
        lb AS (SELECT l.id, w.s, v.v FROM l, w, v
               WHERE l.year BETWEEN w.s AND w.s + {window} AND contains(l.venue, v.v)),
        rb AS (SELECT r.id, w.s, v.v FROM r, w, v
               WHERE r.year BETWEEN w.s AND w.s + {window} AND contains(r.venue, v.v)),
        cand AS (SELECT DISTINCT lb.id AS a_id, rb.id AS b_id
                 FROM lb JOIN rb ON lb.s = rb.s AND lb.v = rb.v),
        agree AS MATERIALIZED (
            SELECT c.a_id, c.b_id, l.num_authors AS nl, r.num_authors AS nr,
                   l.authors AS la, r.authors AS ra
            FROM cand c JOIN l ON l.id = c.a_id JOIN r ON r.id = c.b_id
            WHERE ({venue_agree}) AND l.num_authors = r.num_authors),
        lt AS (SELECT DISTINCT id, unnest(string_split_regex(title, '\\s+')) AS tok FROM l),
        rt AS (SELECT DISTINCT id, unnest(string_split_regex(title, '\\s+')) AS tok FROM r),
        ln AS (SELECT id, count(*) AS n FROM lt GROUP BY id),
        rn AS (SELECT id, count(*) AS n FROM rt GROUP BY id),
        shared AS (
            SELECT g.a_id, g.b_id, count(*) AS k
            FROM agree g JOIN lt ON lt.id = g.a_id JOIN rt ON rt.id = g.b_id AND rt.tok = lt.tok
            GROUP BY g.a_id, g.b_id),
        jaccard_ok AS MATERIALIZED (
            SELECT g.a_id, g.b_id, g.nl, g.nr, g.la, g.ra
            FROM agree g JOIN ln ON ln.id = g.a_id JOIN rn ON rn.id = g.b_id
            LEFT JOIN shared s ON s.a_id = g.a_id AND s.b_id = g.b_id
            WHERE coalesce(s.k, 0) / (ln.n + rn.n - coalesce(s.k, 0)) >= {min_jaccard}),
        scored AS (SELECT a_id, b_id, nl, nr, levenshtein(la, ra) AS lev FROM jaccard_ok)
        SELECT a_id, b_id FROM scored
        WHERE (lev = 0 AND nl = nr AND nl > 0 AND nr > 0)
           OR (lev = 0 AND nl = 0 AND nr = 0)
           OR (lev > 0 AND lev < {max_levenshtein} AND nl = nr)
        """
        return con.execute(sql).df()
    finally:
        con.close()


def pair_multiset(df: pd.DataFrame) -> list[tuple]:
    return sorted(zip(df["a_id"].tolist(), df["b_id"].tolist()))


def check_matches(program: pd.DataFrame, oracle: pd.DataFrame) -> list[str]:
    got, want = pair_multiset(program), pair_multiset(oracle)
    if got == want:
        return []
    gs, ws = set(got), set(want)
    return [
        f"matches differ from the DuckDB oracle: {len(got)} program rows vs "
        f"{len(want)} oracle rows, {len(gs - ws)} extra, {len(ws - gs)} missing, "
        f"{len(got) - len(gs)} duplicate rows"
    ]


def check_planted(program: pd.DataFrame, planted: list[list[str]]) -> tuple[float, list[str]]:
    """Share of planted ``(a_index, b_index)`` pairs among the matches."""
    found = set(zip(program["a_index"], program["b_index"]))
    missing = [p for p in planted if tuple(p) not in found]
    recall = 1 - len(missing) / len(planted) if planted else 1.0
    return recall, [f"{len(missing)} of {len(planted)} planted pairs unmatched"] if missing else []


class UnionFind:
    """Component labels with the minimum member key as the component id."""

    def __init__(self):
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        p = self.parent.setdefault(x, x)
        while p != self.parent[p]:
            self.parent[p] = self.parent[self.parent[p]]
            p = self.parent[p]
        self.parent[x] = p
        return p

    def union(self, x: str, y: str) -> None:
        rx, ry = self.find(x), self.find(y)
        if rx != ry:
            lo, hi = (rx, ry) if rx < ry else (ry, rx)
            self.parent[hi] = lo

    def labels(self) -> dict[str, str]:
        return {x: self.find(x) for x in self.parent}


def expected_entities(
    matches: pd.DataFrame, left: pd.DataFrame, right: pd.DataFrame
) -> set[tuple[str, str, str]]:
    """Entity rows ``(cluster_id, a_value, b_value)``: connected components
    of the matched pairs over ``a:<id>`` / ``b:<id>`` nodes, cluster id the
    minimum node key, each side represented by its minimum id (compared as
    a string) and that record's cleaned ``value``."""
    uf = UnionFind()
    for a, b in zip(matches["a_id"], matches["b_id"]):
        uf.union(f"a:{a}", f"b:{b}")
    rep: dict[str, dict[str, str]] = {}
    for node, comp in uf.labels().items():
        side, rid = node.split(":", 1)
        cur = rep.setdefault(comp, {})
        if side not in cur or rid < cur[side]:
            cur[side] = rid
    values = {
        "a": dict(zip(left["id"].astype(str), left["value"])),
        "b": dict(zip(right["id"].astype(str), right["value"])),
    }
    return {(c, values["a"][s["a"]], values["b"][s["b"]]) for c, s in rep.items()}


def read_entity_csv(path: str) -> list[tuple[str, ...]]:
    """Rows of a tab-separated entity CSV as Spark's writer quotes it."""
    with open(path, newline="", encoding="utf-8") as f:
        rows = list(csv.reader(f, delimiter="\t", quotechar='"', escapechar="\\", doublequote=False))
    return [tuple(r) for r in rows[1:]]


def digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update("\x1f".join(r).encode("utf-8") + b"\n")
    return h.hexdigest()


def check_labels(store: dict[str, str], pairs) -> list[str]:
    """The label store must equal a union-find over every delivered pair."""
    uf = UnionFind()
    for a, b in pairs:
        uf.union(f"a:{a}", f"b:{b}")
    want = uf.labels()
    if store == want:
        return []
    wrong = sum(1 for k, v in want.items() if store.get(k) != v)
    extra = len(set(store) - set(want))
    return [f"label store differs from union-find: {wrong} nodes wrong or missing, {extra} extra"]
