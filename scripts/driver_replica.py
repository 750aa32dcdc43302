#!/usr/bin/env python
"""Replica of the driver's verify: drive __spark_entry__ end-to-end.

Usage: python scripts/driver_replica.py [--sf-dir /root/testdata/sf0.01]

1. smoke: entry(spark) on sf0.001 -> collect, rows >= 0, stable schema
2. correctness: each queries()[name] at sf_dir vs oracle_sql()[name] in
   DuckDB — row count, column-name set, order-insensitive value hash
   (columns sorted by name, floats rendered at round-trip precision).

Prints one JSON line per query and a final summary line.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def rendered_rows(pdf) -> list[str]:
    """Sorted, string-rendered rows (columns sorted by name) — the list-safe
    canon for value comparison; --values diffs these."""
    import numpy as np
    cols = sorted(pdf.columns)

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, (np.floating, float)):
            f = float(v)
            if f == 0:
                f = 0.0
            # Round-trip precision: a %.9g canon renders only 9 SIGNIFICANT
            # digits, so a >=1e4-magnitude value rounded to 6 decimals hides
            # its last digits and a 6th-decimal mismatch reads as MATCH.
            # repr() round-trips.
            return repr(f)
        if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
            return str(int(v))
        if isinstance(v, (np.ndarray, list, tuple)):
            return "[" + ",".join(norm(x) for x in v) + "]"
        if hasattr(v, "isoformat"):
            s = v.isoformat()
            return s[:-6] if s.endswith("+00:00") else s
        return str(v)

    return sorted("|".join(norm(v) for v in row) for row in pdf[cols].itertuples(index=False))


def value_hash(pdf) -> str:
    return hashlib.sha256("\n".join(rendered_rows(pdf)).encode()).hexdigest()[:16]


def row_diff(spdf, opdf, limit: int = 5) -> dict:
    """Rows present on only one side (by rendered string), up to ``limit``
    each — localizes a hash mismatch to concrete rows in seconds instead of
    a cross-engine debugging session."""
    from collections import Counter

    sp, op = Counter(rendered_rows(spdf)), Counter(rendered_rows(opdf))
    only_spark = list((sp - op).elements())
    only_oracle = list((op - sp).elements())
    return {
        "n_only_spark": len(only_spark),
        "n_only_oracle": len(only_oracle),
        "cols_sorted": sorted(c.lower() for c in spdf.columns),
        "only_spark": only_spark[:limit],
        "only_oracle": only_oracle[:limit],
    }


def dtype_parity_violations(spdf, opdf) -> list:
    """Columns where one side is floating and the other integral.

    The driver canonicalizes values per-cell WITHOUT the replica's %.9g float
    collapse, so DuckDB HUGEINT sums materialized by fetchdf as float64 render
    "5.0" against Spark's int64 "5" and hash-mismatch even when every value is
    numerically identical. Flag the class at authoring time instead.
    """
    import pandas.api.types as pt

    def kind(s):
        if pt.is_bool_dtype(s):
            return "bool"
        if pt.is_integer_dtype(s):
            return "int"
        if pt.is_float_dtype(s):
            return "float"
        return "other"

    sp = {c.lower(): kind(spdf[c]) for c in spdf.columns}
    op = {c.lower(): kind(opdf[c]) for c in opdf.columns}
    bad = []
    for c in sorted(set(sp) & set(op)):
        a, b = sp[c], op[c]
        if {a, b} == {"int", "float"} or {a, b} == {"bool", "int"}:
            bad.append(f"{c}: spark={a} oracle={b}")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    ap.add_argument(
        "--values",
        action="store_true",
        help="on hash mismatch, print the first differing rows per side (list-safe canon)",
    )
    args = ap.parse_args()

    import duckdb
    import __spark_entry__ as mod
    from data_integration_and_processing_spark.queries.oracle_lint import (
        complex_frame_columns,
        negative_zero_frame_columns,
    )
    from data_integration_and_processing_spark.session import get_spark

    spark = get_spark(app_name="driver-replica")

    t0 = time.time()
    edf = mod.entry(spark)
    rows = edf.collect()
    print(json.dumps({"check": "entry_smoke", "rows": len(rows), "cols": edf.columns, "sec": round(time.time() - t0, 2)}))
    assert len(rows) >= 0 and edf.columns

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")

    qs, oracles = mod.queries(), mod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    n_pass = n_fail = n_rows_only = 0
    for name in sorted(qs):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spdf = qs[name](spark, args.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(json.dumps({"query": name, "status": "SPARK_ERROR", "error": str(e)[:300]}))
            n_fail += 1
            continue
        if name not in oracles:
            print(json.dumps({"query": name, "status": "rows_only", "rows": len(spdf), "sec": round(time.time() - t0, 2)}))
            n_rows_only += 1
            continue
        try:
            opdf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(json.dumps({"query": name, "status": "ORACLE_ERROR", "error": str(e)[:300]}))
            n_fail += 1
            continue
        ok_rows = len(spdf) == len(opdf)
        ok_cols = sorted(c.lower() for c in spdf.columns) == sorted(c.lower() for c in opdf.columns)
        dtype_bad = dtype_parity_violations(spdf, opdf) if ok_cols else []
        # The driver's canon crashes sorting list/struct/map cells (pandas
        # sort_values -> unhashable 'list'); the replica's stringifies them,
        # so the replica would pass what the driver fails. Flag complex-typed output
        # on EITHER side as a failure so the divergence is caught here.
        complex_bad = complex_frame_columns(spdf) + [
            f"oracle:{c}" for c in complex_frame_columns(opdf)
        ]
        # Signed-zero guard: the driver's repr canon renders
        # -0.0 vs 0.0 as different values; this replica's norm() normalizes
        # zero, so it would stay green where the driver goes red. Flag the
        # class BEFORE the canon erases it — a -0.0 cell on either side is a
        # MISMATCH here even when the hashes agree.
        negzero_bad = [f"spark:{c}" for c in negative_zero_frame_columns(spdf)] + [
            f"oracle:{c}" for c in negative_zero_frame_columns(opdf)
        ]
        ok_hash = ok_rows and ok_cols and value_hash(spdf) == value_hash(opdf)
        status = (
            "MATCH"
            if (ok_rows and ok_cols and ok_hash and not dtype_bad and not complex_bad and not negzero_bad)
            else "MISMATCH"
        )
        rec = {"query": name, "status": status, "rows": len(spdf), "sec": round(time.time() - t0, 2)}
        if status == "MISMATCH":
            rec.update({"ok_rows": ok_rows, "ok_cols": ok_cols, "oracle_rows": len(opdf),
                        "spark_cols": sorted(spdf.columns), "oracle_cols": sorted(opdf.columns)})
            if dtype_bad:
                rec["dtype_parity"] = dtype_bad
            if complex_bad:
                rec["complex_output"] = complex_bad
            if negzero_bad:
                rec["negative_zero"] = negzero_bad
            if args.values and ok_cols and not ok_hash:
                rec["row_diff"] = row_diff(spdf, opdf)
            n_fail += 1
        else:
            n_pass += 1
        print(json.dumps(rec))

    print(json.dumps({"summary": {"match": n_pass, "mismatch_or_error": n_fail, "rows_only": n_rows_only}}))
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
