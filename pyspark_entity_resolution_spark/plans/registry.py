"""Aggregated driver-contract query registry."""

from __future__ import annotations

from .common import QuerySpec
from . import (
    queries_er,
    queries_events,
    queries_relational,
    queries_text,
    queries_vector,
)

_MODULES = [
    queries_relational, queries_er, queries_text, queries_vector, queries_events,
]


def all_queries() -> dict[str, QuerySpec]:
    out: dict[str, QuerySpec] = {}
    for mod in _MODULES:
        for name, spec in mod.QUERIES.items():
            if name in out:
                raise ValueError(f"duplicate query name: {name}")
            out[name] = spec
    return out
