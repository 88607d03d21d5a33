#!/usr/bin/env python
"""Generate CATALOG.md: one row per catalog query — id, one-line
description (docstring first sentence), oracle status. Run after
adding queries; the output is committed so reviewers get a single
index without importing the package."""

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ulh_etl_spark.queries import all_oracles, all_queries  # noqa: E402


def first_sentence(doc: str | None, limit: int = 160) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split()).replace("|", "\\|")
    m = re.match(r"(.+?\.)(\s|$)", text)
    out = m.group(1) if m else text
    if len(out) > limit:
        # cut at a word boundary with an ellipsis, never mid-word
        out = out[:limit].rsplit(" ", 1)[0] + " …"
    return out


def main() -> None:
    queries = all_queries()
    oracles = all_oracles()
    lines = [
        "# CATALOG — generated by tools/gen_catalog.py (do not edit)",
        "",
        f"{len(queries)} queries; {len(oracles)} hash-checked against "
        "DuckDB oracles"
        + (
            ", the rest rows-only sketch ops with pytest error bounds"
            if len(oracles) < len(queries)
            else ""
        )
        + " (see tests/test_catalog_consistency.py).",
        "",
        "| Query | Check | Description |",
        "|---|---|---|",
    ]
    for name in sorted(queries):
        check = "oracle" if name in oracles else "rows-only"
        desc = first_sentence(queries[name].__doc__)
        lines.append(f"| {name} | {check} | {desc} |")
    with open(os.path.join(ROOT, "CATALOG.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote CATALOG.md ({len(queries)} queries)")


if __name__ == "__main__":
    main()
