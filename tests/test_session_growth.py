"""A registry query called again in the same session must not leave
more cached RDDs behind than it found.

Each query below once added cache entries on every call: a persist
over a ``createDataFrame(list)`` table (a scan of an RDD made for that
call), over a worker closure big enough for PySpark to broadcast (a new
broadcast per call) or over the ``cells`` data source (a relation that
is new on every call), or one local checkpoint per propagation round
(``dedup_clusters``). The first two now plan the same on every call, so
the cache manager reuses one entry, and so do ``dedup_clusters``'
per-round persists; the cells-fed intermediates are lazy local
checkpoints, which Spark drops once their DataFrame is garbage, so the
count is read after a JVM GC.
"""

from __future__ import annotations

import gc
import time

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
QUERIES = entrymod.queries()

GREW = [
    "cells_outlier_filter",
    "dedup_clusters",
    "dedup_recall_sweep_embedding",
    "multimodal_surf_neardup",
    "multimodal_ingest_dedup",
    "multimodal_audio_fingerprint_dedup",
    "multimodal_video_fingerprint_dedup",
    "multimodal_audio_ingest_gate",
    "multimodal_video_ingest_gate",
    "unified_ingest_gate",
    "unified_media_verdicts",
    "stream_unified_ingest_gate",
    "stream_unified_media_verdicts",
]


def _cached_rdds(spark, settle_to: int | None = None) -> int:
    """Cached RDDs left once unreachable DataFrames are collected. A
    finished query's objects can stay reachable in the JVM for a while
    after the call returns, so poll (up to ~10 s, running a trivial job
    each time) until the count is back to ``settle_to``; a
    cache-manager entry never goes away."""
    for _ in range(40):
        spark.range(1).count()
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.25)
        count = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
        if settle_to is None or count <= settle_to:
            break
    return count


@pytest.mark.parametrize("name", GREW)
def test_repeat_call_holds_cached_rdds_flat(spark, name):
    QUERIES[name](spark, SF).collect()
    before = _cached_rdds(spark)
    QUERIES[name](spark, SF).collect()
    assert _cached_rdds(spark, settle_to=before) <= before, name
