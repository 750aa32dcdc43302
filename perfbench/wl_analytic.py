"""analytic_queries: a mix of JVM-only catalog queries.

Inputs are the sf0.05 star schema with a seed-permuted row order and file
split (same rows for every seed). The queries run in a fixed order: a run
makes one pass, and a seed-chosen order would decide which query pays the
session's JIT warm-up. Each op plans one catalog query through
``queries.catalog.all_specs()[name].spark(spark, dir)`` and runs it to the
noop sink; an order-independent hash of its rows rides the same action and
must equal the hash of the catalog's DuckDB oracle, computed before timing.
"""

from __future__ import annotations

import re

import gen
from common import Op, observed_noop, pandas_hashes

QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q9_product_profit", "q10_returned_items",
    "q18_large_volume_customers", "join_broadcast_dim", "join_inner_shuffle",
    "agg_rollup", "agg_count_distinct", "window_topk_per_group",
)
WARMUP_QUERY = "q12_priority_by_discount_band"


class AnalyticQueries:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.sf = 0.05 if ctx.scale == "full" else 0.001
        self.dir = f"{ctx.scratch}/tables"
        self._n = 0

    def generate(self) -> None:
        import duckdb

        from data_integration_and_processing_spark.queries import catalog

        self.rows = gen.tpch_tables(self.dir, self.sf, self.ctx.seed)
        specs = catalog.all_specs()
        self.specs = {n: specs[n] for n in QUERIES}
        con = duckdb.connect()
        for t in self.rows:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet/*.parquet')")
        self.oracle = {n: con.execute(s.oracle).fetchdf() for n, s in self.specs.items()}
        con.close()
        # input rows of an op = rows of every table its query reads
        self.in_rows = {
            n: sum(r for t, r in self.rows.items() if re.search(rf"\b{t}\b", s.oracle))
            for n, s in self.specs.items()
        }

    def prepare(self, spark) -> None:
        self.spark = spark
        # the session's first catalog query pays JVM warm-up (first scans,
        # joins, decimal aggregation) that would otherwise land on whichever
        # measured query runs first; a query outside the mix takes it
        from data_integration_and_processing_spark.queries import catalog

        warm = catalog.all_specs()[WARMUP_QUERY].spark(spark, self.dir)
        warm.write.format("noop").mode("overwrite").save()
        self.expected = pandas_hashes(spark, {n: pdf for n, pdf in self.oracle.items() if len(pdf)})
        self.expected.update({n: (tuple(sorted(c.lower() for c in pdf.columns)), 0, 0)
                              for n, pdf in self.oracle.items() if not len(pdf)})

    def ops(self) -> list[Op]:
        return [Op(n, "queries", self.in_rows[n], self._runner(n)) for n in QUERIES]

    def _runner(self, name: str):
        tr = self.ctx.tracer

        def run():
            with tr.span("queries.plan", "queries"):
                df = self.specs[name].spark(self.spark, self.dir)
            self._n += 1
            with tr.span("queries.exec", "queries"):
                got = observed_noop(df, f"aq{self._n}")
            return lambda: got == self.expected[name]

        return run

    def summary(self, records) -> dict:
        return {"input_rows": self.rows}
