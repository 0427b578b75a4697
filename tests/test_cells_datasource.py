"""Contract tests for the `cells` Python DataSource — the engine's
equivalent of the reference scifio reader's option surface
(main.py:17-19, test.py:10): row identity with the numpy generator,
channel-projection pushdown, row-limit pushdown, masked schema switch,
partition planning, image_id predicate pushdown, and the sink → decoder
round trips (batch, stream, snapshot, binaryFile scans)."""

from __future__ import annotations

import json
import os
import shutil
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from big_data_science_project_spark.sources import cells_datasource as CD
from big_data_science_project_spark.sources.cells import (CELLS_SCHEMA,
                                                          _gen_image,
                                                          load_cells,
                                                          select_channels)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    CD.register(spark)


def _fmt(spark):
    return spark.read.format("cells")


def _numpy_rows(n, channels=(0, 1, 2), masked=True, c=3, w=16, h=16):
    """The rows the source must produce, built from ``_gen_image``
    directly (no Spark): channel slices of the flat channel-major
    arrays, mask dropped when ``masked`` is false."""
    rows = []
    for i in range(n):
        d, m = _gen_image(i, c, w, h)
        d = d.reshape(c, w * h)[list(channels)].reshape(-1)
        m = m.reshape(c, w * h)[list(channels)].reshape(-1)
        rows.append((i, len(channels), w, h, d.tolist())
                    + ((m.tolist(),) if masked else ()))
    return rows


def _decode_dir(spark, out):
    """Every container on disk under ``out`` (not only the manifest's),
    through the one container decoder."""
    return (spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.npz").load(out)
            .select("content")
            .mapInArrow(CD._decode_containers, CELLS_SCHEMA))


def test_rows_match_mapinpandas_source(spark):
    """Source rows equal the numpy generator's, value for value: all
    channels (through ``load_cells`` and the format), a channel subset,
    the unmasked schema and a zero row limit."""
    want = _numpy_rows(12)
    assert sorted(map(tuple, load_cells(spark, n_images=12).collect())) == want
    assert sorted(map(tuple, _fmt(spark).option("n_images", 12)
                      .load().collect())) == want
    assert sorted(map(tuple, _fmt(spark).option("n_images", 6)
                      .option("channels", "0,2").load().collect())) == \
        _numpy_rows(6, channels=(0, 2))
    assert sorted(map(tuple, _fmt(spark).option("n_images", 4)
                      .option("masked", "false").load().collect())) == \
        _numpy_rows(4, masked=False)
    assert _fmt(spark).option("imagelimit", 0).load().collect() == []
    assert load_cells(spark, imagelimit=0).collect() == []


def test_imagelimit_pushdown(spark):
    df = _fmt(spark).option("n_images", 240).option("imagelimit", 7).load()
    assert df.count() == 7


def test_channel_projection_pushdown(spark):
    full = load_cells(spark, n_images=6)
    expected = sorted(map(tuple, select_channels(full, [0, 2]).collect()))
    got = sorted(map(tuple, _fmt(spark).option("n_images", 6)
                 .option("channels", "0,2").load().collect()))
    assert got == expected
    # pruned data length is 2 channels, not 3
    row = _fmt(spark).option("n_images", 1).option("channels", "1").load().first()
    assert len(row["data"]) == row["width"] * row["height"]
    assert row["n_channels"] == 1


def test_masked_false_drops_mask_column(spark):
    df = _fmt(spark).option("n_images", 2).option("masked", "false").load()
    assert "mask" not in df.columns
    assert df.count() == 2


def test_numpartitions_planning(spark):
    """``numpartitions`` splits the ids; <= 0 plans one partition holding
    every id (batch reader and each stream micro-batch); more partitions
    than images plan one per image."""
    df = _fmt(spark).option("n_images", 40).option("numpartitions", 5).load()
    assert df.rdd.getNumPartitions() == 5
    df = _fmt(spark).option("n_images", 5).option("numpartitions", 0).load()
    assert df.rdd.getNumPartitions() == 1
    assert sorted(r.image_id for r in df.select("image_id").collect()) == \
        list(range(5))
    dsrc = CD.CellsDataSource({"n_images": "5", "numpartitions": "0"})
    parts = dsrc.streamReader(dsrc.schema()).partitions({"next": 0},
                                                        {"next": 5})
    assert [(p.start, p.end) for p in parts] == [(0, 5)]
    assert _fmt(spark).option("n_images", 3).option("numpartitions", 8) \
        .load().rdd.getNumPartitions() == 3


def test_image_id_predicate_pushdown(spark):
    df = (_fmt(spark).option("n_images", 240).option("numpartitions", 4).load()
          .filter((F.col("image_id") >= 100) & (F.col("image_id") < 104)))
    rows = df.select("image_id").collect()
    assert sorted(r["image_id"] for r in rows) == [100, 101, 102, 103]
    # the filter was consumed by the reader: partitions cover only the range
    dsrc = CD.CellsDataSource({"n_images": "240", "numpartitions": "4"})
    reader = dsrc.reader(dsrc.schema())
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan
    left = reader.pushFilters([GreaterThanOrEqual(("image_id",), 100),
                               LessThan(("image_id",), 104)])
    assert left == []
    parts = reader.partitions()
    assert min(p.start for p in parts) == 100
    assert max(p.end for p in parts) == 104


def test_stream_scan_matches_batch_scan(spark):
    """The streaming reader (offset-log micro-batches) must be
    row-identical to the batch reader on the same options — same
    synthesis core, different admission bookkeeping."""
    from big_data_science_project_spark.sources.cells_datasource import (
        cells_source_scan, cells_stream_scan)

    got = sorted(tuple(r) for r in cells_stream_scan(spark).collect())
    want = sorted(tuple(r) for r in cells_source_scan(spark).collect())
    assert got == want and len(got) == 2


def test_stream_reader_offsets_and_partitions():
    """Offset admission: latestOffset advances streambatch per call,
    clamps at the row limit; partitions cover [start, end) exactly."""
    from big_data_science_project_spark.sources import cells_datasource as CD

    dsrc = CD.CellsDataSource({"n_images": "100", "streambatch": "40",
                               "numpartitions": "3"})
    r = dsrc.streamReader(dsrc.schema())
    assert r.initialOffset() == {"next": 0}
    assert [r.latestOffset()["next"] for _ in range(4)] == [40, 80, 100, 100]
    parts = r.partitions({"next": 40}, {"next": 80})
    covered = sorted((p.start, p.end) for p in parts)
    assert covered[0][0] == 40 and covered[-1][1] == 80
    assert all(a < b for a, b in covered)
    assert r.partitions({"next": 100}, {"next": 100}) == []


def test_writer_roundtrip_row_identity(spark, tmp_path):
    """df.write.format("cells") → .npz containers + manifest →
    binaryFile decode returns the EXACT source rows (every pixel and
    mask bit), and the manifest covers all containers/rows."""
    import json
    import os

    CD.register(spark)
    out = str(tmp_path)
    src = (spark.read.format("cells")
           .option("n_images", 20).option("numpartitions", 3).load())
    src.write.format("cells").option("path", out).mode("append").save()

    with open(os.path.join(out, "_MANIFEST.json")) as fh:
        man = json.load(fh)
    assert man["n_rows"] == 20
    on_disk = sorted(os.path.join(out, f) for f in os.listdir(out)
                     if f.endswith(".npz"))
    assert sorted(man["containers"]) == on_disk
    assert len(on_disk) == 3  # one container per non-empty task

    back = _decode_dir(spark, out)
    want = sorted(tuple(r) for r in src.collect())
    got = sorted(tuple(r) for r in back.collect())
    assert got == want


def test_writer_overwrite_replaces_previous_containers(spark, tmp_path):
    """mode("overwrite") clears prior containers; a second write leaves
    exactly the new file set, not an accumulation."""
    import os

    CD.register(spark)
    out = str(tmp_path)
    src = (spark.read.format("cells")
           .option("n_images", 12).option("numpartitions", 2).load())
    src.write.format("cells").option("path", out).mode("append").save()
    first = set(os.listdir(out))
    src.write.format("cells").option("path", out).mode("overwrite").save()
    second = {f for f in os.listdir(out) if f.endswith(".npz")}
    assert len(second) == 2
    assert not (first & second), "overwrite must not retain old containers"


def test_stream_sink_roundtrip_and_epoch_manifests(spark):
    """readStream("cells") → writeStream.format("cells"): 3 epoch
    manifests (one per 40-image micro-batch), manifest rows cover all
    images exactly once, and decoding the manifest-listed containers
    reproduces the batch source rows exactly."""
    import glob
    import json
    import os

    from big_data_science_project_spark.sources import cells_datasource as CD2

    df = CD2.QUERIES["cells_stream_sink"][0](spark)
    rollup = {r["channel"]: (r["total_area"], r["n_images"])
              for r in df.collect()}
    assert set(rollup) == {0, 1, 2}
    assert all(n == 120 for _, n in rollup.values())

    # strongest check: decoded rows == batch DataSource rows
    out = CD2.LAST_STREAM_SINK_DIR
    assert out is not None
    manifests = sorted(glob.glob(os.path.join(out, "_batch-*.json")))
    assert len(manifests) == 3
    ids = []
    for mp in manifests:
        with open(mp) as fh:
            m = json.load(fh)
        assert m["containers"], mp
        ids.append(m["n_rows"])
    assert sum(ids) == 120

    back = _decode_dir(spark, out)
    CD2.register(spark)
    src = (spark.read.format("cells")
           .option("imagelimit", 120).option("numpartitions", 4).load())
    assert sorted(tuple(r) for r in back.collect()) == \
        sorted(tuple(r) for r in src.collect())


def test_writer_abort_removes_orphans_and_skips_manifest(spark, tmp_path):
    """Two-phase commit, unhappy path: if any task fails, the driver
    must NOT publish a manifest and abort() must remove the containers
    successful tasks already wrote."""
    import os

    from pyspark.sql import functions as F

    CD.register(spark)
    out = str(tmp_path)
    src = (spark.read.format("cells")
           .option("n_images", 20).option("numpartitions", 4).load())

    @F.udf("long")
    def boom(i):
        if i >= 15:  # fails only the last partition's rows
            raise ValueError("synthetic task failure")
        return i

    bad = src.withColumn("image_id", boom("image_id"))
    import pytest as _pytest
    with _pytest.raises(Exception):
        bad.write.format("cells").option("path", out).mode("append").save()

    assert not os.path.exists(os.path.join(out, "_MANIFEST.json"))
    leftover = [f for f in os.listdir(out) if f.endswith(".npz")]
    assert leftover == [], f"abort left orphans: {leftover}"


def test_writer_append_merges_manifest(spark, tmp_path):
    """Two mode("append") jobs into the same path: the manifest must list
    BOTH jobs' containers and the summed row count — append may not
    silently drop the first job from the read contract."""
    import json
    import os

    CD.register(spark)
    out = str(tmp_path)
    src = (spark.read.format("cells")
           .option("n_images", 10).option("numpartitions", 2).load())
    src.write.format("cells").option("path", out).mode("append").save()
    src.write.format("cells").option("path", out).mode("append").save()
    with open(os.path.join(out, "_MANIFEST.json")) as fh:
        man = json.load(fh)
    on_disk = {os.path.join(out, f) for f in os.listdir(out)
               if f.endswith(".npz")}
    assert man["n_rows"] == 20
    assert set(man["containers"]) == on_disk
    assert len(on_disk) == 4


def test_snapshot_time_travel_reads_exact_versions(spark, tmp_path):
    """Snapshot v1 returns exactly the first append's rows; v2 and the
    current manifest return both; row content is identical to the
    sources."""
    from big_data_science_project_spark.sources.cells_datasource import (
        read_snapshot)

    CD.register(spark)
    out = str(tmp_path)
    first = (spark.read.format("cells")
             .option("imagelimit", 8).option("numpartitions", 2).load())
    second = (spark.read.format("cells")
              .option("imagelimit", 16).option("numpartitions", 2).load()
              .filter(F.col("image_id") >= 8))
    first.write.format("cells").option("path", out).mode("append").save()
    second.write.format("cells").option("path", out).mode("append").save()

    v1 = sorted(tuple(r) for r in read_snapshot(spark, out, 1).collect())
    v2 = sorted(tuple(r) for r in read_snapshot(spark, out, 2).collect())
    cur = sorted(tuple(r) for r in read_snapshot(spark, out).collect())
    want1 = sorted(tuple(r) for r in first.collect())
    want2 = sorted(want1 + [tuple(r) for r in second.collect()])
    assert v1 == want1
    assert v2 == want2 == cur


def test_stream_sink_epoch_bounded_read(spark):
    """read_stream_epochs(up_to_batch=0) returns exactly the first
    epoch's rows (40 images); unbounded returns all 120 — read-committed
    tailing over the epoch manifests."""
    import glob
    import os

    from big_data_science_project_spark.sources import cells_datasource as CD2
    from big_data_science_project_spark.sources.cells_datasource import (
        read_stream_epochs)

    # drive the stream sink once via the registry query; the query
    # records its own output dir — no racy tempdir scanning
    CD2.QUERIES["cells_stream_sink"][0](spark).collect()
    out = CD2.LAST_STREAM_SINK_DIR
    assert out and glob.glob(os.path.join(out, "_batch-*.json"))

    first = read_stream_epochs(spark, out, up_to_batch=0)
    ids0 = sorted(r["image_id"] for r in first.collect())
    assert len(ids0) == 40 and max(ids0) < 40  # offsets admit in id order
    all_rows = read_stream_epochs(spark, out)
    assert all_rows.count() == 120


def test_snapshot_read_after_overwrite_fails_loudly(spark, tmp_path):
    """A snapshot whose containers a later overwrite reclaimed must
    raise, not return a silently-empty DataFrame."""
    import pytest as _pytest

    from big_data_science_project_spark.sources.cells_datasource import (
        read_snapshot)

    CD.register(spark)
    out = str(tmp_path)
    src = (spark.read.format("cells")
           .option("imagelimit", 6).option("numpartitions", 2).load())
    src.write.format("cells").option("path", out).mode("append").save()
    src.write.format("cells").option("path", out).mode("overwrite").save()
    with _pytest.raises(FileNotFoundError, match="no longer exist"):
        read_snapshot(spark, out, version=1)
    # the post-overwrite snapshot still reads fine
    assert read_snapshot(spark, out).count() == 6


def test_snapshot_read_touches_only_its_manifest(spark, tmp_path):
    """A snapshot read opens exactly the containers its manifest lists:
    a stray container in the sink directory is neither read nor
    returned. An epoch bound that admits no epoch reads nothing."""
    out = str(tmp_path)
    src = (spark.read.format("cells")
           .option("imagelimit", 8).option("numpartitions", 2).load())
    src.write.format("cells").option("path", out).mode("append").save()
    with open(os.path.join(out, "_MANIFEST.json")) as fh:
        man = json.load(fh)
    shutil.copy(man["containers"][0], os.path.join(out, "stray.npz"))

    back = CD.read_snapshot(spark, out)
    assert sorted(urlparse(p).path for p in back.inputFiles()) == \
        sorted(man["containers"])
    assert sorted(tuple(r) for r in back.collect()) == \
        sorted(tuple(r) for r in src.collect())
    assert CD.read_stream_epochs(spark, out, up_to_batch=-1).count() == 0


def test_binary_scan_rollup_matches_datasource_scan(spark):
    """Same 120-image / 2-channel rollup through two ingestion paths:
    containers written through the sink and decoded back vs the
    DataSource scan."""
    a = sorted(map(tuple, CD.cells_binary_scan(spark).collect()))
    b = sorted(map(tuple, CD.cells_source_scan(spark).collect()))
    assert a == b


def test_binary_stream_scan_matches_batch_scan(spark):
    """availableNow binaryFile stream (2 containers per micro-batch) must
    produce the identical rollup as the batch container scan."""
    a = sorted(map(tuple, CD.cells_binary_stream_scan(spark).collect()))
    b = sorted(map(tuple, CD.cells_binary_scan(spark).collect()))
    assert a == b


def _cells_scan_tables(spark, df) -> list[int]:
    """The identity of the table behind every cells scan in ``df``'s
    optimized plan, persisted fragments included (each fragment once)."""
    ident = spark._jvm.System.identityHashCode
    tables, seen = [], set()
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        table = (node.relation().table() if kind == "DataSourceV2ScanRelation"
                 else node.table() if kind == "BatchScanExec" else None)
        if table is not None and table.name() == "cells":
            tables.append(ident(table))
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
        # a persisted fragment's plan hangs off every use of it
        it = node.innerChildren().iterator()
        while it.hasNext():
            inner = it.next()
            if ident(inner) not in seen:
                seen.add(ident(inner))
                stack.append(inner)
    return tables


def test_registry_cells_relations_feed_one_scan(spark, sf_dir, monkeypatch):
    """Spark plans one read per Python data source relation: every scan
    of one loaded cells DataFrame reads the id range pushed into any of
    them, so a DataFrame feeding two branches where one filters on
    ``image_id`` silently loses the other branch's images. No registry
    query over the cells source may scan one relation twice. A local
    checkpoint hides the plan below it, so here checkpoints are built
    as (unexecuted) persists, whose plans the walk can see."""
    from pyspark.sql.classic.dataframe import DataFrame

    from big_data_science_project_spark.operators import (multimodal,
                                                          segmentation)
    from big_data_science_project_spark.sources import cells as cells_src

    kept = []
    monkeypatch.setattr(DataFrame, "localCheckpoint",
                        lambda self, eager=True, storageLevel=None:
                        kept.append(self.persist()) or self)
    shared = {}
    try:
        for mod in (cells_src, segmentation, multimodal):
            for name, (fn, _) in mod.QUERIES.items():
                tables = _cells_scan_tables(spark, fn(spark, sf_dir))
                if len(tables) != len(set(tables)):
                    shared[name] = tables
    finally:
        for df in kept:
            df.unpersist()
    assert not shared, shared
