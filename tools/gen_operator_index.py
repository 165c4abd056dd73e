"""Generate docs/OPERATORS.md — the full registry index, one row per
``queries()`` entry with its verification mode and docstring summary.
Regenerate after registry changes: python tools/gen_operator_index.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod


def main() -> None:
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    lines = [
        "# Registry index — every `queries()` entry",
        "",
        f"{len(qs)} entries: {sum(1 for n in qs if n in os_)} "
        "oracle-paired (DuckDB hash-checked), "
        f"{sum(1 for n in qs if n not in os_)} rows-only "
        "(pytest-pinned; no SQL-expressible oracle). The first 50 are "
        "the driver-checked prefix (rotation policy in the "
        "`queries()` docstring). Generated by "
        "tools/gen_operator_index.py — do not edit by hand.",
        "",
        "| # | entry | check | summary |",
        "|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(qs.items(), 1):
        doc = (fn.__doc__ or "").strip().replace("\n", " ")
        doc = " ".join(doc.split())
        if len(doc) > 220:
            doc = doc[:217] + "..."
        mode = "oracle" if name in os_ else "rows-only"
        lines.append(f"| {i} | `{name}` | {mode} | {doc} |")
    with open(os.path.join(REPO, "docs", "OPERATORS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {len(qs)} rows")


if __name__ == "__main__":
    main()
