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

    Pure plan builders are wrapped in ``plan_cached`` (sources.tables):
    their DataFrame is deterministic in (session, sf_dir), so repeated
    invocation — the oracle gate, smoke passes, plan tests — reuses one
    logical plan instead of re-paying hundreds of Py4J expression
    round-trips. Modules whose builders have construction-time side
    effects (sink writes, streaming runs, data-source registration) are
    excluded, as is the export query's side-effect writer: a builder
    with side effects must repeat its work on every call.
    """
    from . import (curation, dedup, excision, graph, ingest, linear,
                   multimodal, outlier, relational, segmentation,
                   similarity, text, timeseries)
    from ..streaming import events as streaming_events
    from ..sources import cells as cells_src
    from ..sources import cells_datasource as cells_ds
    from ..sources import sinks as sinks_src
    from ..sources.tables import plan_cached

    impure_modules = (streaming_events, sinks_src, cells_ds)
    # also impure by construction: text_udtf_chunk registers a UDTF +
    # temp view; ann_pq_topk collects the PQ codebook at build time —
    # leaving them unwrapped makes every call redo that work;
    # multimodal_png_roundtrip materializes per-image PNG files at
    # construction (mkdtemp + a collected write job) — plan-caching it
    # would silently skip that cost on repeat invocations
    # ann_incremental_assign / ann_ivf_trained_topk run the Lloyd's
    # codebook training (driver-looped collects) at construction —
    # plan-caching them would silently skip the training on repeat
    # calls; the *_persisted variants amortize it BY DESIGN (write-once
    # artifacts), so they stay cached like dedup_incremental_persisted
    impure_names = {"multimodal_export", "multimodal_png_roundtrip",
                    "text_udtf_chunk",
                    "text_udtf_ngrams", "text_udtf_table_arg",
                    "ann_pq_topk", "ann_pq_refine", "ml_kmeans_lloyd",
                    "ml_adaboost_stumps",
                    "q69_sql_udf", "q71_skew_autosalt", "ann_recall_eval",
                    "ann_recall_sweep", "ann_trained_sweep", "ann_incremental_assign",
                    "ann_ivf_trained_topk",
                    "q72_session_variable"}

    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for mod in (relational, outlier, dedup, similarity, linear, graph, text,
                curation, ingest, excision, timeseries, streaming_events,
                cells_src, segmentation, multimodal, sinks_src, cells_ds):
        for name, (fn, sql) in getattr(mod, "QUERIES", {}).items():
            if name in queries:
                raise ValueError(f"duplicate query name: {name}")
            if mod not in impure_modules and name not in impure_names:
                fn = plan_cached(fn)
            queries[name] = fn
            if sql is not None:
                oracles[name] = sql
    return queries, oracles
