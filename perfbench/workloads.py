"""Workload registry: name -> object with generate / prepare / ops / summary."""

from __future__ import annotations


class EtlCuration:
    """The etl_transfer op group followed by the llm_curation op group in one
    run (neither is a workload of its own): the write path, ``functions``,
    ``plans``, ``streaming`` and ``operators`` with its Python workers,
    against ``analytic_queries``' JVM-only reads."""

    def __init__(self, ctx) -> None:
        from wl_etl import EtlTransfer
        from wl_llm import LlmCuration

        self.parts = (EtlTransfer(ctx), LlmCuration(ctx))
        self.VERIFY_MARKER = self.parts[1].VERIFY_MARKER

    def generate(self) -> None:
        for p in self.parts:
            p.generate()

    def prepare(self, spark) -> None:
        for p in self.parts:
            p.prepare(spark)

    def ops(self):
        return [op for p in self.parts for op in p.ops()]

    def summary(self, records) -> dict:
        return {k: v for p in self.parts for k, v in p.summary(records).items()}


def make(name: str, ctx):
    if name == "analytic_queries":
        from wl_analytic import AnalyticQueries

        return AnalyticQueries(ctx)
    if name == "etl_curation":
        return EtlCuration(ctx)
    raise ValueError(f"unknown workload {name!r}")
