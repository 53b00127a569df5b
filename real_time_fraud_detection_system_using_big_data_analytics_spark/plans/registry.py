"""Query registry: the single source of truth behind ``__spark_entry__.py``.

Every operator the engine implements registers here as a named query
callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the
equivalent DuckDB oracle SQL. Conventions that keep the Spark/DuckDB
comparison hash-stable:

- every computed/aggregate column is aliased identically on both sides;
- double-valued aggregates are ``ROUND(..., 2)`` (or a documented scale) on
  both sides so floating summation order cannot flip the hash;
- integer sums are cast to BIGINT in the oracle (DuckDB widens to INT128);
- ties in any top-k / rank are broken by a unique key so ordering is
  deterministic in both engines.
"""

from __future__ import annotations

import textwrap
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}
# Measured-baseline/diagnostic queries: oracle-green and deliberately kept,
# but their registered form is a known scale-killer whose production twin
# lives elsewhere (e.g. the uncapped wedge joins vs their _capped twins).
# Harnesses that define the engine's headline posture (bench.py HEADLINE)
# exclude these; the shuffle-audit and memory-pressure harnesses keep them
# precisely BECAUSE they are the measured A/B baseline.
DIAGNOSTIC: set[str] = set()


def register(
    name: str, oracle: str | None = None, diagnostic: bool = False
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query (and optional oracle SQL) to the registry.
    ``diagnostic=True`` tags a measured-baseline query (see DIAGNOSTIC)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = textwrap.dedent(oracle).strip()
        if diagnostic:
            DIAGNOSTIC.add(name)
        return fn

    return deco


def load_all() -> None:
    """Import every operator module so its ``@register`` calls run."""
    from ..operators import (  # noqa: F401
        cdc,
        clustering,
        corpus_stats,
        curation,
        dedup,
        etl,
        eventflow,
        features,
        fraud,
        graph,
        grouping,
        joins,
        marketing,
        olap,
        pca,
        recursive,
        relational,
        risk,
        sampling,
        scalars_extra,
        setops,
        sql4,
        similarity,
        skew,
        text,
        tpch,
        tpch2,
        udf_surface,
        warehouse,
        windows,
    )
    from ..ml import scoring  # noqa: F401
    from ..sources import avro_ocf, pysource  # noqa: F401
    from ..multimodal import queries as multimodal_queries  # noqa: F401
    from ..streaming import (  # noqa: F401
        materialize,
        pipeline,
        stateful_queries,
        statestore,
        tws,
    )
