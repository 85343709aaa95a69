"""Generate API.md: every public function/class in the package with its
signature and first docstring sentence — the switch-over map for a user
of the reference engine.

Usage: python tools/gen_api.py [--check]

Without arguments it rewrites API.md; with ``--check`` it writes nothing
and exits 1 when API.md differs from what it would write.
"""

from __future__ import annotations

import argparse
import importlib
import inspect
import os
import pkgutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import pyspark_entity_resolution_spark as pkg

SKIP_MODULES = {
    "pyspark_entity_resolution_spark.plans",     # driver contract, see COVERAGE.md
    "pyspark_entity_resolution_spark.__main__",  # CLI; documented in README
}


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.strip().split())
    for stop in (". ", ".\n"):
        if stop in text:
            return text[: text.index(stop) + 1]
    return text if text.endswith(".") else text + "."


def render() -> str:
    """The API.md text for the package as imported now."""
    out = [
        "# API index\n",
        "Generated by `tools/gen_api.py`. Every public operator/function",
        "with its signature and summary; full semantics in the docstrings,",
        "driver-contract queries in `plans/` (see COVERAGE.md).\n",
    ]
    for info in sorted(
        pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."),
        key=lambda i: i.name,
    ):
        if any(info.name.startswith(s) for s in SKIP_MODULES):
            continue
        mod = importlib.import_module(info.name)
        rows = []
        for name, obj in sorted(vars(mod).items()):
            if name.startswith("_"):
                continue
            if not (inspect.isfunction(obj) or inspect.isclass(obj)):
                continue
            if getattr(obj, "__module__", None) != info.name:
                continue  # re-exports listed where they are defined
            try:
                sig = str(inspect.signature(obj))
            except (TypeError, ValueError):
                sig = "(...)"
            if len(sig) > 90:
                sig = sig[:87] + "..."
            rows.append(f"- `{name}{sig}` — {first_sentence(obj.__doc__)}")
        if rows:
            rel = info.name.replace("pyspark_entity_resolution_spark.", "")
            out.append(f"\n## {rel}\n")
            out.extend(rows)
    return "\n".join(out) + "\n"


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description="Generate API.md.")
    parser.add_argument(
        "--check", action="store_true",
        help="write nothing; exit 1 when API.md is out of date",
    )
    args = parser.parse_args(argv)
    path = os.path.join(REPO, "API.md")
    text = render()
    if args.check:
        with open(path) as f:
            if f.read() == text:
                return 0
        print("API.md is out of date: run python tools/gen_api.py")
        return 1
    with open(path, "w") as f:
        f.write(text)
    print("wrote API.md")
    return 0


if __name__ == "__main__":
    sys.exit(main())
