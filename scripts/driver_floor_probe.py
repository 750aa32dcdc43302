#!/usr/bin/env python
"""Split one query's wall time into driver-side phases (guide §1.2/§7.3):

  build   = Python/py4j plan construction (fn(spark, sf_dir) returning a DF)
  plan    = analysis + optimization + physical planning (executedPlan force)
  exec    = the noop-sink write (includes AQE stage replanning + jobs)

Run AFTER a warm-up pass so codegen/scan caches don't pollute phase 1 of the
first query. Usage:
  python scripts/driver_floor_probe.py q5_local_supplier_volume text_pmi_collocations
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    from data_integration_and_processing_spark.queries import catalog  # noqa: PLC0415
    from data_integration_and_processing_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark(app_name="driver_floor_probe")
    spark.sparkContext.setLogLevel("ERROR")
    specs = catalog.all_specs()

    # warmups: one JVM query and one pandas UDF, so the timed run pays no first-use cost
    specs["q1_pricing_summary"].spark(spark, args.sf_dir).collect()
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415
    from pyspark.sql.types import DoubleType  # noqa: PLC0415

    @pandas_udf(DoubleType())
    def _warm(v: pd.Series) -> pd.Series:
        time.sleep(0.3)
        return v * 1.0

    n_cores = spark.sparkContext.defaultParallelism
    spark.range(n_cores, numPartitions=n_cores).select(_warm("id")).collect()
    spark.range(1).write.format("noop").mode("overwrite").save()

    import bench  # noqa: PLC0415

    raw_paths = bench._raw_headline_paths()
    for name in args.names:
        fn = raw_paths[name] if name in raw_paths else specs[name].spark
        rows = []
        for _ in range(args.runs):
            t0 = time.time()
            df = fn(spark, args.sf_dir)
            t1 = time.time()
            df._jdf.queryExecution().executedPlan()
            t2 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.time()
            rows.append((t1 - t0, t2 - t1, t3 - t2, t3 - t0))
        best = min(rows, key=lambda r: r[3])
        print(
            f"{name}: build={best[0]:.3f}s plan={best[1]:.3f}s exec={best[2]:.3f}s "
            f"total={best[3]:.3f}s  (all runs: "
            + "; ".join(f"{b:.2f}/{p:.2f}/{e:.2f}" for b, p, e, _ in rows)
            + ")"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
