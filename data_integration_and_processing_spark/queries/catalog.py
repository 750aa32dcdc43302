"""Registry mapping query names to (PySpark impl, DuckDB oracle SQL) pairs.

Keeping both halves in one registration site guarantees the column-name
contract: the driver's correctness gate sorts columns by name before value
hashing, so every computed column is aliased identically in the DataFrame
code and the oracle SQL.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

# Modules that register queries on import (order = SURVEY.md §7 build order).
_QUERY_MODULES = [
    "data_integration_and_processing_spark.queries.flagship",
    "data_integration_and_processing_spark.queries.etl_parity",
    "data_integration_and_processing_spark.queries.relational",
    "data_integration_and_processing_spark.queries.tpch_extra",
    "data_integration_and_processing_spark.queries.partsupp_queries",
    "data_integration_and_processing_spark.queries.functions_pack",
    "data_integration_and_processing_spark.queries.udf_surface",
    "data_integration_and_processing_spark.queries.dedup_queries",
    "data_integration_and_processing_spark.queries.similarity_queries",
    "data_integration_and_processing_spark.queries.text_queries",
    "data_integration_and_processing_spark.queries.curation_queries",
    "data_integration_and_processing_spark.queries.sampling_queries",
    "data_integration_and_processing_spark.queries.streaming_queries",
    "data_integration_and_processing_spark.queries.multimodal_queries",
    "data_integration_and_processing_spark.queries.analytics_queries",
    "data_integration_and_processing_spark.queries.quality_queries",
    "data_integration_and_processing_spark.queries.temporal_queries",
    "data_integration_and_processing_spark.queries.scale_queries",
]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: SparkQuery
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False

# Catalog order is registration order, independent of import order: a caller
# that imports one query module directly runs its @register calls before
# _load()'s sweep, so _REGISTRY insertion order is not stable. Order is
# therefore derived: (_QUERY_MODULES position, statement order within the
# module), which is the same however the module got imported.
_MODULE_ORDER: dict[str, int] = {m: i for i, m in enumerate(_QUERY_MODULES)}
_MODULE_SEQ: dict[str, int] = {}  # query name -> position within its module


def _canonical_specs() -> list[QuerySpec]:
    return sorted(
        _REGISTRY.values(),
        key=lambda s: (
            _MODULE_ORDER.get(s.spark.__module__, len(_QUERY_MODULES)),
            _MODULE_SEQ[s.name],
        ),
    )


def register(
    name: str,
    oracle: str | None = None,
    description: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[SparkQuery], SparkQuery]:
    """Decorator: register a query under ``name`` with its oracle SQL."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _MODULE_SEQ[name] = sum(
            1 for s in _REGISTRY.values() if s.spark.__module__ == fn.__module__
        )
        _REGISTRY[name] = QuerySpec(name, fn, oracle, description or (fn.__doc__ or "").strip(), tags)
        return fn

    return deco


def _load() -> None:
    global _LOADED
    if _LOADED:
        return
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    _LOADED = True


def all_specs() -> dict[str, QuerySpec]:
    """All query specs in registration order (see _canonical_specs)."""
    _load()
    return {s.name: s for s in _canonical_specs()}


def queries() -> dict[str, SparkQuery]:
    return {name: spec.spark for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None}
