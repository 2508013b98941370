"""Central query registry.

Every operator from SURVEY.md §2 registers itself here with a name
(the key the driver sees in ``queries()``), a Spark implementation
``fn(spark, sf_dir) -> DataFrame`` and, where expressible, an ANSI
SQL oracle string DuckDB can run on the same parquet tables.

Column-name parity between the Spark result and the oracle result is
a hard requirement (the driver sorts columns by name before
hashing), so implementations alias every computed column and oracles
use the same ``AS`` names.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB-runnable ANSI SQL, or None → rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None,
             tags: tuple[str, ...] = ()) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the registry."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle,
                                   tags=tags, doc=(fn.__doc__ or "").strip())
        return fn

    return deco


def load_all_operators() -> None:
    """Import every module under ``operators/`` and ``streaming/`` so
    their ``@register`` side effects run, in sorted module order."""
    from . import operators, streaming

    for pkg in (operators, streaming):
        for mod in sorted(m.name for m in pkgutil.iter_modules(pkg.__path__)):
            importlib.import_module(f"{pkg.__name__}.{mod}")
