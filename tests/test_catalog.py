"""Catalog registry invariants: size, order, import cost and the generated
indexes (CATALOG.md, COVERAGE.md) that must track it."""

from __future__ import annotations

import os
import re
import subprocess
import sys

from data_integration_and_processing_spark.queries import catalog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_priority_does_not_shrink_catalog():
    specs = catalog.all_specs()
    assert len(specs) >= 125
    assert len(set(specs)) == len(specs)


def test_catalog_md_is_fresh():
    """CATALOG.md must match the registry — regenerate with
    scripts/catalog_dump.py after adding queries."""
    import scripts.catalog_dump as dump

    with open(os.path.join(REPO, "CATALOG.md")) as f:
        assert f.read() == dump.render(), "CATALOG.md stale — run scripts/catalog_dump.py"


def test_coverage_md_counts_are_fresh():
    """COVERAGE.md's header counts must match the live registry, the way
    test_catalog_md_is_fresh pins CATALOG.md."""
    specs = catalog.all_specs()
    total = len(specs)
    oracled = sum(1 for s in specs.values() if s.oracle is not None)
    rows_only = total - oracled
    with open(os.path.join(REPO, "COVERAGE.md")) as f:
        header = f.read(600)
    expected = f"{total} catalog queries ({oracled} DuckDB-oracle value-checked, {rows_only} rows-only"
    assert expected in header, (
        f"COVERAGE.md header stale — expected it to contain {expected!r}"
    )


_DATED_PATH = re.compile(r"(^|/)(test_)?(r|round)[0-9]+[_/.]|_r[0-9]+\.")
# bench.py's regression gate globs its own history files; they go with it.
_BENCH_HISTORY = re.compile(r"^BENCH_r[0-9]+\.json$")

_IMPORT_PROBE = """
import sys
from data_integration_and_processing_spark.queries import catalog
assert catalog.all_specs()
print([m for m in ("duckdb", "data_integration_and_processing_spark.queries.oracle_lint")
       if m in sys.modules])
"""


def test_catalog_is_plain_registration_order():
    """The catalog is the registry in registration order and nothing more:
    listing it imports neither DuckDB nor the oracle lints, its order is
    (module position, definition order), and no tracked file other than
    bench.py's history is named after a dated work cycle."""
    tracked = subprocess.run(
        ["git", "ls-files"], cwd=REPO, capture_output=True, text=True, check=True
    ).stdout.split()
    dated = [p for p in tracked if _DATED_PATH.search(p) and not _BENCH_HISTORY.match(p)]
    assert not dated, f"tracked paths named after a dated cycle: {dated[:10]}"

    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_PROBE],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.splitlines()[-1]
    assert out == "[]", f"all_specs() imported {out}"

    specs = catalog.all_specs()
    position = {m: i for i, m in enumerate(catalog._QUERY_MODULES)}
    defined = sorted(
        specs.values(),
        key=lambda s: (position[s.spark.__module__], s.spark.__code__.co_firstlineno),
    )
    assert list(specs) == [s.name for s in defined]
