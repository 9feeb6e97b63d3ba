"""Registration machinery shared by ``registry`` and the family modules
(``registry_*``).

Every query enters ``QUERIES`` one way: ``@register`` at import time.
Family modules import this module, never ``registry``, so importing one
directly registers just its own rows.  ``registry`` imports every family
module, adds its own rows, then moves ``DRIVER_WINDOW`` to the front —
the only ordering policy (it also re-exports these names, so
``registry.QUERIES`` / ``registry.register`` keep working).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None => driver does rows-only check


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:  # a second copy would overwrite the first silently
            raise ValueError(f"query already registered: {name!r}")
        QUERIES[name] = QuerySpec(fn, oracle)
        return fn

    return deco


def dsum(col, name, prec="decimal(18,4)"):
    """Exact, order-independent SUM of a money-like double: route through
    DECIMAL, emit DOUBLE.  Oracle twin: CAST(SUM(CAST(c AS DECIMAL(18,4))) AS DOUBLE)."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.sum(c.cast(prec)).cast("double").alias(name)


def ravg(col, name):
    c = col if isinstance(col, Column) else F.col(col)
    return F.round(F.avg(c), 6).alias(name)


def davg(col, name, prec="decimal(18,4)"):
    """Exact, order-independent mean of a 2-4dp double column: DECIMAL sum
    (exact) cast to double, divided by count — bit-identical across
    engines and partitionings, unlike float AVG whose low bits depend on
    summation order and often sit exactly on rounding boundaries."""
    c = col if isinstance(col, Column) else F.col(col)
    return (F.sum(c.cast(prec)).cast("double") / F.count(F.lit(1))).alias(name)
