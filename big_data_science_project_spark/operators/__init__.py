"""Operator/query registry.

Each operator module defines ``QUERIES: dict[name, (callable, oracle_sql)]``
where the callable is ``(spark, sf_dir) -> DataFrame`` and ``oracle_sql`` is
an equivalent DuckDB SQL string (or ``None`` for non-SQL-expressible ops —
the driver then records a weaker rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def collect_registry() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Merge every operator module's QUERIES into (queries, oracles).

    Every builder is called as is and returns a fresh DataFrame.
    """
    from . import (curation, dedup, excision, graph, ingest, linear,
                   multimodal, outlier, relational, segmentation,
                   similarity, text, timeseries)
    from ..streaming import events as streaming_events
    from ..sources import cells as cells_src
    from ..sources import cells_datasource as cells_ds
    from ..sources import sinks as sinks_src

    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for mod in (relational, outlier, dedup, similarity, linear, graph, text,
                curation, ingest, excision, timeseries, streaming_events,
                cells_src, segmentation, multimodal, sinks_src, cells_ds):
        for name, (fn, sql) in getattr(mod, "QUERIES", {}).items():
            if name in queries:
                raise ValueError(f"duplicate query name: {name}")
            queries[name] = fn
            if sql is not None:
                oracles[name] = sql
    return queries, oracles
