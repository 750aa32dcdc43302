#!/usr/bin/env python
"""Driver-conditions simulation: run catalog queries under a STOCK
SparkSession — no repo confs beyond master/shuffle/memory — so Spark-4
defaults apply (ANSI on, Arrow off, 10 MB broadcast threshold, default
timezone). An external checker that builds its own session sees these
defaults, not the repo's session confs, so a query can pass every
repo-session check and still fail there (an ANSI overflow, say). This
script runs the catalog under those defaults.

Usage:
    python scripts/stock_session_check.py            # full catalog
    python scripts/stock_session_check.py --only a,b
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.driver_replica import TABLES, value_hash  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = (
        SparkSession.builder.appName("stock-session-check")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    print(
        json.dumps(
            {
                "session": "stock",
                "ansi": spark.conf.get("spark.sql.ansi.enabled"),
                "tz": spark.conf.get("spark.sql.session.timeZone"),
                "arrow": spark.conf.get("spark.sql.execution.arrow.pyspark.enabled"),
            }
        )
    )

    from data_integration_and_processing_spark.queries import catalog

    specs = catalog.all_specs()
    names = list(specs)
    if args.only:
        names = [n for n in args.only.split(",") if n in specs]

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")

    n_pass = n_fail = n_rows_only = 0
    for name in names:
        spec = specs[name]
        try:
            spdf = spec.spark(spark, args.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(json.dumps({"query": name, "status": "SPARK_ERROR", "err": str(e)[:300]}))
            n_fail += 1
            continue
        if spec.oracle is None:
            n_rows_only += 1
            continue
        opdf = con.execute(spec.oracle).fetchdf()
        ok = (
            len(spdf) == len(opdf)
            and sorted(c.lower() for c in spdf.columns) == sorted(c.lower() for c in opdf.columns)
            and value_hash(spdf) == value_hash(opdf)
        )
        if ok:
            n_pass += 1
        else:
            n_fail += 1
            print(
                json.dumps(
                    {
                        "query": name,
                        "status": "MISMATCH",
                        "spark_rows": len(spdf),
                        "oracle_rows": len(opdf),
                    }
                )
            )
    print(json.dumps({"stock_session": {"pass": n_pass, "fail": n_fail, "rows_only": n_rows_only}}))
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
