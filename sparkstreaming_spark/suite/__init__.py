"""Query suite registry.

Every implemented operator from SURVEY.md §2 (plus the north-star
extensions) registers here as a named `QuerySpec`:

- `fn(spark, sf_dir) -> DataFrame`  — the PySpark plan,
- `oracle` — equivalent ANSI SQL for the DuckDB differential oracle
  (None for genuinely non-SQL-expressible ops → driver runs a weaker
  rows-only check),
- `doc` — what it covers, with reference citations.

Conventions enforced suite-wide (driver contract, `__spark_entry__.py`):
- every computed/aggregate column is aliased IDENTICALLY in fn and oracle;
- double-typed output aggregates are rounded to a fixed scale in BOTH
  engines, which absorbs accumulation-order noise but cannot settle an
  exact tie: a double sum whose true mean sits on the rounding boundary
  lands on either side of it depending on the order of the terms;
- an intermediate that is rounded and then reused (a mean that feeds a
  window, a difference or a median) is therefore computed from
  integer-scaled sums and counts with one half-up division,
  `(2*s + n) div (2*n)`, with the input quantised first (events.value to
  integer micro-units, 1e-6); it is divided back to a double only in
  the output column (suite/behavior.py::q_seasonal_decompose);
- deterministic ordering for top-k via unique tie-break columns.
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


def all_queries() -> dict[str, QuerySpec]:
    from . import (
        analytics,
        behavior,
        cardinality,
        changefeed,
        core,
        enrich,
        events,
        extensions,
        relational_ops,
        llm,
        platform_ops,
        scale_ops,
        spatial,
        streaming_suite,
        streaming_twins,
        textmining,
        tpch,
        tpch2,
        vectors,
    )

    registry: dict[str, QuerySpec] = {}
    for mod in (
        analytics,
        behavior,
        cardinality,
        changefeed,
        core,
        enrich,
        events,
        extensions,
        relational_ops,
        llm,
        platform_ops,
        scale_ops,
        spatial,
        streaming_suite,
        streaming_twins,
        textmining,
        tpch,
        tpch2,
        vectors,
    ):
        for name, spec in mod.QUERIES.items():
            if name in registry:
                raise ValueError(f"duplicate query name: {name}")
            registry[name] = spec
    return registry
