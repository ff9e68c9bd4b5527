"""Generate CATALOG.md — the user-facing index of every registered
query: where it lives, what it does (first docstring sentence), and
a ``(rows-only)`` marker on any query without a DuckDB oracle.

Deterministic output; ``tests/test_catalog.py`` regenerates and diffs
so the committed file can never drift from the registry.

Run: PYTHONPATH=. python tools/gen_catalog.py [--write]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def first_sentence(doc: str | None) -> str:
    if not doc:
        return "(no docstring)"
    text = " ".join(doc.split())
    for stop in (". ", ".\n"):
        if stop in text:
            return text.split(stop, 1)[0] + "."
    return text if text.endswith(".") else text + "."


def render() -> str:
    import end2end_data_pipeline_spark.operators  # noqa: F401  (registers queries)
    from end2end_data_pipeline_spark.registry import ORACLE, QUERIES

    by_module: dict[str, list[tuple[str, str]]] = {}
    for name, fn in QUERIES.items():
        mod = fn.__module__.rsplit(".", 1)[-1]
        by_module.setdefault(mod, []).append((name, first_sentence(fn.__doc__)))

    lines = [
        "# CATALOG — every registered query",
        "",
        "GENERATED by `tools/gen_catalog.py` — do not edit by hand",
        "(`tests/test_catalog.py` diffs this file against the registry).",
        "",
        f"{len(QUERIES)} queries, {len(ORACLE)} oracle-paired"
        f" ({100 * len(ORACLE) // len(QUERIES)}%);"
        " `(rows-only)` marks a query without an oracle.",
        "",
    ]
    for mod in sorted(by_module):
        lines.append(f"## operators/{mod}.py")
        lines.append("")
        lines.append("| query | summary |")
        lines.append("|---|---|")
        for name, summary in sorted(by_module[mod]):
            oracle = "" if name in ORACLE else " (rows-only)"
            summary = summary.replace("|", "\\|")
            lines.append(f"| `{name}`{oracle} | {summary} |")
        lines.append("")
    return "\n".join(lines)


def main() -> int:
    text = render()
    path = os.path.join(REPO, "CATALOG.md")
    if "--write" in sys.argv:
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({text.count(chr(10))} lines)")
        return 0
    with open(path) as f:
        current = f.read()
    if current != text:
        print("CATALOG.md is stale — run: PYTHONPATH=. python tools/gen_catalog.py --write")
        return 1
    print("CATALOG.md up to date")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
