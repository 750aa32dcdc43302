#!/usr/bin/env python
"""Regenerate CATALOG.md from the query registry — the browsable index of
every capability: name, family tags, oracle status, one-paragraph
description. Run after adding queries; CI-check is `--check` (exits 1 if
the file is stale)."""

from __future__ import annotations

import argparse
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADER = """# CATALOG — every registered query

Auto-generated by `scripts/catalog_dump.py` from
`data_integration_and_processing_spark/queries/catalog.py`. Do not edit by
hand. Each entry is a (PySpark implementation, DuckDB oracle) pair; `rows-only`
entries have no SQL oracle and are covered by behavioral tests instead
(see COVERAGE.md for which).

"""


def render() -> str:
    from data_integration_and_processing_spark.queries.catalog import all_specs

    specs = all_specs()
    n_oracled = sum(1 for s in specs.values() if s.oracle is not None)
    tag_counts = Counter(t for s in specs.values() for t in s.tags)
    lines = [HEADER]
    lines.append(
        f"**{len(specs)} queries — {n_oracled} oracle-checked, "
        f"{len(specs) - n_oracled} rows-only.**\n"
    )
    lines.append("Top family tags: " + ", ".join(f"`{t}` ({n})" for t, n in tag_counts.most_common(18)) + "\n")
    lines.append("| # | query | check | tags | description |")
    lines.append("|---|---|---|---|---|")
    for i, (name, s) in enumerate(specs.items(), 1):
        check = "oracle" if s.oracle is not None else "rows-only"
        desc = " ".join((s.description or "").split())
        if len(desc) > 320:
            desc = desc[:317] + "..."
        desc = desc.replace("|", "\\|")
        lines.append(f"| {i} | `{name}` | {check} | {', '.join(s.tags)} | {desc} |")
    lines.append("")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true", help="exit 1 if CATALOG.md is stale")
    args = ap.parse_args()
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "CATALOG.md")
    content = render()
    if args.check:
        with open(path) as f:
            if f.read() != content:
                print("CATALOG.md is stale — run scripts/catalog_dump.py", file=sys.stderr)
                return 1
        print("CATALOG.md up to date")
        return 0
    with open(path, "w") as f:
        f.write(content)
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
