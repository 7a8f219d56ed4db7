"""Query registry: every declared operator from SURVEY.md §2 registers a
(name, spark_callable, duckdb_oracle_sql) triple here.

``__spark_entry__.py`` exposes the registry to the driver:
``queries()[name](spark, sf_dir) -> DataFrame`` and
``oracle_sql()[name] -> str`` (omitted for rows-only ops), in the
driver's sweep order.

The first ``specs()``/``queries()``/``oracles()`` call imports every
module of the package for its ``@register`` side effects, so importing
the package alone (as every Spark worker does) loads no operator module.
Registration order follows import history.

Discipline enforced by convention (SURVEY §7 slice 1 pitfalls):
- alias every computed column identically in Spark and SQL;
- round floating aggregates so order-insensitive value hashes are stable;
- timestamps rendered with an explicit format when they appear in output.
"""

from __future__ import annotations

import importlib
import pkgutil
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}
_loaded = False


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: Optional[str]  # DuckDB SQL; None => rows-only check
    doc: str = ""


def register(name: str, oracle: Optional[str] = None, doc: str = ""):
    """Decorator: register a query callable under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def _load() -> None:
    """Import every module under the package once. Memoised only after a
    walk that succeeds, so a failing import raises on every read."""
    global _loaded
    if _loaded:
        return
    import empdia_iceberg_spark

    for info in pkgutil.walk_packages(empdia_iceberg_spark.__path__, "empdia_iceberg_spark."):
        importlib.import_module(info.name)
    _loaded = True


def specs() -> dict[str, QuerySpec]:
    _load()
    return dict(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in specs().items()}


def oracles() -> dict[str, str]:
    return {name: spec.oracle for name, spec in specs().items() if spec.oracle is not None}
