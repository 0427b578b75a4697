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

``release`` frees the rest of what a session holds: the scratch root
with every sink output, write-once artifact, staged stream input and
per-call directory, the catalog tables stored there, and the cache.
"""

from __future__ import annotations

import gc
import os
import time

import pytest

import __spark_entry__ as entrymod
from big_data_science_project_spark.session import release, scratch_dir

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


# one query per kind of state a session used to keep by its own means:
# catalog tables over sink dirs, a write-once artifact with its bucketed
# table, a staged stream input, and a per-call output dir
RELEASED = [
    "sink_bucketed_join",
    "dedup_incremental_persisted",
    "stream_hourly_by_type",
    "cells_datasource_write",
]


def _catalog_tables(spark) -> list[str]:
    return [t.name for t in spark.catalog.listTables() if not t.isTemporary]


def test_release_frees_session_state(spark):
    want = {n: sorted(map(tuple, QUERIES[n](spark, SF).collect()))
            for n in RELEASED}
    root = os.path.dirname(scratch_dir(spark, "probe_"))
    assert len(os.listdir(root)) > len(RELEASED)
    assert _catalog_tables(spark)

    release(spark)
    assert not os.path.exists(root)
    assert _catalog_tables(spark) == []
    assert _cached_rdds(spark, settle_to=0) == 0

    for n in RELEASED:
        assert sorted(map(tuple, QUERIES[n](spark, SF).collect())) == \
            want[n], n
