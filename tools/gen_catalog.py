"""Generate CATALOG.md from the live query registry.

One row per registered query: name, oracle kind, tags, and the first
docstring sentence. Regenerate with ``python tools/gen_catalog.py``;
``tests/test_catalog.py`` pins the committed file equal to a fresh render
so the table can't drift from the code.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkstreaming_gmall_scala_spark.plans.catalog import load_all  # noqa: E402


def first_sentence(doc: str) -> str:
    flat = " ".join(doc.split())
    for stop in (". ", ".\n"):
        if stop in flat:
            return flat[: flat.index(stop) + 1]
    return flat[:160]


def render() -> str:
    reg = load_all()
    lines = [
        "# Query catalog",
        "",
        "Auto-generated from the live registry by `tools/gen_catalog.py` "
        "(pinned current by `tests/test_catalog.py`). Every `full` entry is "
        "checked against its DuckDB oracle by `tests/test_oracle_parity.py` "
        "and `tools/verify_local.py`; `rows-only` entries are covered by "
        "pytest semantics tests instead.",
        "",
        f"{len(reg)} queries; "
        f"{sum(1 for q in reg.values() if q.oracle is not None)} "
        "with full DuckDB oracles.",
        "",
        "| Query | Oracle | Tags | What |",
        "|---|---|---|---|",
    ]
    for name in sorted(reg):
        q = reg[name]
        oracle = "full" if q.oracle is not None else "rows-only"
        tags = " ".join(q.tags)
        doc = first_sentence(q.doc).replace("|", "\\|")
        lines.append(f"| `{name}` | {oracle} | {tags} | {doc} |")
    lines.append("")
    return "\n".join(lines)


if __name__ == "__main__":
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "CATALOG.md")
    with open(out, "w") as f:
        f.write(render())
    print(f"wrote {out}")
