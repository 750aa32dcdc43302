"""etl_transfer: the reference's whole job, rebuilt on the engine.

Ops (one round runs each once, in this order, as one job would):

- ``ingest_csv_overwrite`` / ``ingest_csv_append``: ``plans.pipelines.ingest_file``
  of a CSV with dirty and Cyrillic headers (rename map applied, casts) into
  parquet, in overwrite and append mode;
- ``ingest_xlsx``: the same pipeline from a small XLSX;
- ``transfer_parquet``: ``plans.pipelines.transfer`` of a lineitem slice;
- ``jdbc_roundtrip``: ``sources.writers.write_jdbc`` into embedded Derby, then a
  partitioned ``sources.readers.read_jdbc`` read-back;
- ``cdc_batch`` / ``cdc_streaming``: a seeded changelog through
  ``plans.pipelines.cdc_apply`` and ``streaming.pipelines.run_streaming_cdc_apply``;
- ``versioned_merge``: ``sources.versioned.write_version``, ``merge_into`` and
  ``read_version`` of the latest and the previous version.

Every output is hashed and compared with expectations computed with pandas
from the generated inputs.
"""

from __future__ import annotations

import glob
import os
import shutil

import gen
from common import Op, dir_bytes, frame_hash, frame_hashes, observed_noop


class EtlTransfer:
    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.sf = 0.1 if ctx.scale == "full" else 0.001
        self.inp = f"{ctx.scratch}/etl_in"
        self.out = f"{ctx.scratch}/etl_out"
        self._n = 0

    def generate(self) -> None:
        from data_integration_and_processing_spark.plans import pipelines
        from data_integration_and_processing_spark.sources import readers, versioned, writers
        from data_integration_and_processing_spark.streaming import pipelines as streaming

        self.pl, self.rd, self.wr, self.vs, self.st = pipelines, readers, writers, versioned, streaming
        self.data = gen.etl_inputs(self.inp, self.sf, self.ctx.seed)
        self.sizes = self.data["sizes"]

    def prepare(self, spark) -> None:
        self.spark = spark
        self.h = frame_hashes({k: spark.read.parquet(p) for k, p in self.data["expected"].items()})
        self.jdbc_url = f"jdbc:derby:memory:perfbench{self.ctx.seed};create=true"
        self.appends = 0  # the append target starts absent; each append adds chunk b

    def _file_bytes(self, path: str) -> int:
        return os.path.getsize(path) if os.path.isfile(path) else dir_bytes(path)

    def _sink(self, src: str, dest: str, before: int = 0) -> None:
        self.ctx.note("bytes_in", self._file_bytes(src))
        self.ctx.note("bytes_out", dir_bytes(dest) - before)

    def ops(self) -> list[Op]:
        s = self.sizes
        return [
            Op("ingest_csv_overwrite", "plans", s["csv_rows"], self.ingest_csv_overwrite),
            Op("ingest_csv_append", "plans", s["csv_rows"], self.ingest_csv_append),
            Op("ingest_xlsx", "plans", s["xlsx_rows"], self.ingest_xlsx),
            Op("transfer_parquet", "plans", s["transfer_rows"], self.transfer_parquet),
            Op("jdbc_roundtrip", "sources", 2 * s["jdbc_rows"], self.jdbc_roundtrip),
            Op("cdc_batch", "plans", s["cdc_events"], self.cdc_batch),
            Op("cdc_streaming", "streaming", s["cdc_events"], self.cdc_streaming),
            Op("versioned_merge", "sources", s["vbase_rows"] + s["vupdate_rows"], self.versioned_merge),
        ]

    def ingest_csv_overwrite(self):
        src, dest = f"{self.inp}/reviews_a.csv", f"{self.out}/overwrite"
        self.pl.ingest_file(self.spark, src, dest, "csv", column_mapping=gen.RENAME_MAP,
                            casts=gen.CSV_CASTS, mode="overwrite")
        self._sink(src, dest)
        return lambda: frame_hash(self.spark.read.parquet(dest)) == self.h["ingest_a"]

    def ingest_csv_append(self):
        src, dest = f"{self.inp}/reviews_b.csv", f"{self.out}/append"
        before = dir_bytes(dest)
        self.pl.ingest_file(self.spark, src, dest, "csv", column_mapping=gen.RENAME_MAP,
                            casts=gen.CSV_CASTS, mode="append")
        self.appends += 1
        self._sink(src, dest, before)
        k = self.appends
        cols, n, h = self.h["ingest_b"]
        return lambda: frame_hash(self.spark.read.parquet(dest)) == (cols, k * n, k * h)

    def ingest_xlsx(self):
        src, dest = f"{self.inp}/lookup.xlsx", f"{self.out}/xlsx"
        self.pl.ingest_file(self.spark, src, dest, "xlsx", column_mapping=gen.RENAME_MAP,
                            casts={"article": "bigint", "total_price": "double"}, mode="overwrite")
        self._sink(src, dest)
        return lambda: frame_hash(self.spark.read.parquet(dest)) == self.h["xlsx"]

    def transfer_parquet(self):
        src, dest = f"{self.inp}/lineitem.parquet", f"{self.out}/transfer"
        cols = self.data["columns"]["transfer"]
        self.pl.transfer(self.spark, src, dest, column_mapping={f"l_{c}": c for c in cols},
                         mode="overwrite")
        self._sink(src, dest)
        return lambda: frame_hash(self.spark.read.parquet(dest)) == self.h["transfer"]

    def jdbc_roundtrip(self):
        src = self.rd.read_file(self.spark, f"{self.inp}/jdbc_src.parquet")
        self.wr.write_jdbc(src, self.jdbc_url, "pb_orders", mode="overwrite",
                           column_types="o_orderstatus VARCHAR(4), o_orderpriority VARCHAR(32)")
        back = self.rd.read_jdbc(self.spark, self.jdbc_url, "pb_orders", partition_column="o_orderkey",
                                 lower_bound=0, upper_bound=self.sizes["jdbc_key_max"],
                                 num_partitions=4)
        self._n += 1
        with self.ctx.tracer.span("sources.jdbc_read", "sources"):
            got = observed_noop(back, f"etl{self._n}")
        self.ctx.note("jdbc_rows", 2 * self.sizes["jdbc_rows"])
        return lambda: got == self.h["jdbc"]

    def cdc_batch(self):
        src, dest = f"{self.inp}/changelog.parquet", f"{self.out}/cdc"
        final = self.pl.cdc_apply(self.rd.read_file(self.spark, src), ["event_id"], "seq")
        self.wr.write_file(final, dest, mode="overwrite")
        self._sink(src, dest)
        return lambda: frame_hash(self.spark.read.parquet(dest)) == self.h["cdc"]

    def cdc_streaming(self):
        scratch = f"{self.out}/stream"
        shutil.rmtree(scratch, ignore_errors=True)
        log = self.rd.read_file(self.spark, f"{self.inp}/changelog.parquet")
        final = self.st.run_streaming_cdc_apply(self.spark, log, ["event_id"], seq_col="seq",
                                                scratch_dir=scratch)
        self._n += 1
        got = observed_noop(final, f"etl{self._n}")
        commits = [p for p in glob.glob(f"{scratch}/ckpt/commits/*") if not p.endswith(".crc")]
        self.ctx.note("stream_batches", len(commits))
        self.ctx.note("stream_state_bytes", dir_bytes(f"{scratch}/ckpt"))
        self.ctx.note("stream_calls", 1)
        return lambda: got == self.h["cdc"]

    def versioned_merge(self):
        path = f"{self.out}/versioned"
        base = self.rd.read_file(self.spark, f"{self.inp}/vbase.parquet")
        upd = self.rd.read_file(self.spark, f"{self.inp}/vupdates.parquet")
        v = self.vs.write_version(base, path, mode="overwrite")
        self.vs.merge_into(self.spark, path, upd, on=["k"], delete_condition="s.qty < 10")
        self._n += 2
        latest = observed_noop(self.vs.read_version(self.spark, path), f"etl{self._n}")
        prev = observed_noop(self.vs.read_version(self.spark, path, v), f"etl{self._n - 1}")
        return lambda: latest == self.h["vmerged"] and prev == self.h["vbase"]

    def summary(self, records) -> dict:
        measured = [r for r in records if r["measured"]]
        b_in = sum(r["notes"].get("bytes_in", 0.0) for r in measured)
        b_out = sum(r["notes"].get("bytes_out", 0.0) for r in measured)
        return {"bytes_written_per_input_byte": b_out / b_in if b_in else 0.0, "input_sizes": self.sizes}
