"""Generate API.md: every public function/class in the package with its
signature and first docstring sentence — the switch-over map for a user
of the reference engine.

Usage: python tools/gen_api.py
"""

from __future__ import annotations

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


def main() -> None:
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
    with open(os.path.join(REPO, "API.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote API.md")


if __name__ == "__main__":
    main()
