"""Synthetic ``cells`` source — reproduces the reference's scifio row
contract (SURVEY.md §1.1, FIXTURES.md §B) without the proprietary .cif
format: ``(image_id, n_channels, width, height, data, mask)`` with
channel-major flat arrays.

Mirrors the scifio reader's pushdown surface (reference ``main.py:17-19``):
``channels`` (slice pruning), ``imagelimit`` (row limit),
``numpartitions`` (split control). Images are deterministic (hash-seeded
per image), so any engine — or any retry at any parallelism — generates
identical rows. ``load_cells`` is a thin wrapper over the ``cells``
DataSource (:mod:`.cells_datasource`), whose reader synthesizes each
partition's id slice executor-side; ``_gen_image`` is the one pixel
synthesizer both it and the numpy references use.

Also registers the multimodal feature pipeline as rows-only queries (no
SQL oracle — image kernels aren't DuckDB-expressible; pytest goldens in
tests/test_kernels.py carry the correctness weight, SURVEY.md §5).
"""

from __future__ import annotations

import math
import os
import tempfile
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

QUERIES: dict = {}


def per_channel(cells: DataFrame, *cols: str) -> DataFrame:
    """One row per (image, channel): ``image_id, channel, width,
    height`` plus ``<col>_ch``, that channel's slice of each of
    ``cols`` — the one per-channel view every cells operator reads."""
    from ..functions.image_kernels import channel_slice

    wh = F.col("width") * F.col("height")
    return cells.select(
        "image_id", "width", "height",
        F.explode(F.sequence(F.lit(0), F.col("n_channels") - 1))
        .alias("channel"), *cols,
    ).select(
        "image_id", "channel", "width", "height",
        *[channel_slice(F.col(c), F.col("channel"), wh).alias(f"{c}_ch")
          for c in cols])


def per_channel_mask_rollup(df: DataFrame) -> DataFrame:
    """Per-channel (total_area, n_images) over a cells DataFrame — the
    shared verification rollup every scan/sink round-trip query returns,
    factored once so the five call sites can't drift."""
    from ..functions import image_kernels as K

    return (per_channel(df, "mask").groupBy("channel")
            .agg(F.sum(K.area(F.col("mask_ch"))).alias("total_area"),
                 F.count(F.lit(1)).alias("n_images")))

CELLS_SCHEMA = T.StructType([
    T.StructField("image_id", T.LongType(), False),
    T.StructField("n_channels", T.IntegerType(), False),
    T.StructField("width", T.IntegerType(), False),
    T.StructField("height", T.IntegerType(), False),
    T.StructField("data", T.ArrayType(T.DoubleType()), False),
    T.StructField("mask", T.ArrayType(T.BooleanType()), False),
])

DEFAULT_N = 240
DEFAULT_C = 3
DEFAULT_W = 16
DEFAULT_H = 16


def _gen_image(image_id: int, c: int, w: int, h: int):
    """One deterministic cell image: per channel, a disk blob of elevated
    intensity on a noisy background; mask = the true disk."""
    rng = np.random.default_rng(image_id * 1_000_003 + 7)
    data = np.empty((c, w, h), dtype=np.float64)
    mask = np.zeros((c, w, h), dtype=bool)
    yy, xx = np.meshgrid(np.arange(h), np.arange(w))
    for ch in range(c):
        cx = rng.integers(w // 4, 3 * w // 4)
        cy = rng.integers(h // 4, 3 * h // 4)
        r = rng.integers(2, min(w, h) // 3)
        disk = (xx - cx) ** 2 + (yy - cy) ** 2 <= r * r
        base = rng.uniform(20, 60)
        blob = rng.uniform(400, 900)
        noise = rng.normal(0, 5, size=(w, h))
        img = base + noise + disk * blob
        data[ch] = np.round(img, 4)
        mask[ch] = disk
    return data.reshape(-1), mask.reshape(-1)


def load_cells(spark: SparkSession, n_images: int = DEFAULT_N,
               channels: int = DEFAULT_C, width: int = DEFAULT_W,
               height: int = DEFAULT_H, numpartitions: int = 8,
               imagelimit: int | None = None) -> DataFrame:
    """The scifio-scan analogue: ``spark.read.format("cells")`` with
    these options (``channels`` here is the image's channel count, the
    source's ``n_channels``). Registers the source first, so a plain
    session works too.

    Spark keeps one read plan per Python data source relation, so a
    returned DataFrame feeds one scan: a second branch takes its own
    ``load_cells`` call (guarded for the registry by
    ``tests/test_cells_datasource.py``)."""
    from .cells_datasource import register

    register(spark)
    reader = (spark.read.format("cells").option("n_images", n_images)
              .option("n_channels", channels).option("width", width)
              .option("height", height)
              .option("numpartitions", numpartitions))
    # `is not None`, not truthiness: imagelimit=0 means zero rows
    if imagelimit is not None:
        reader = reader.option("imagelimit", imagelimit)
    return reader.load()


def select_channels(df: DataFrame, channels: list[int]) -> DataFrame:
    """Channel projection pushdown analogue (reference ``channels`` option,
    main.py:17): slice the flat arrays down to the requested channels."""
    wh = F.col("width") * F.col("height")
    data = F.concat(*[F.slice("data", F.lit(c) * wh + 1, wh) for c in channels])
    mask = F.concat(*[F.slice("mask", F.lit(c) * wh + 1, wh) for c in channels])
    return df.select(
        "image_id", F.lit(len(channels)).alias("n_channels"),
        "width", "height", data.alias("data"), mask.alias("mask"))


# ---------------------------------------------------------------------------
# tidy per-(image, channel) feature extraction — the reference's
# calculate_features (feature extraction.py:86-98) as one declarative plan
# ---------------------------------------------------------------------------
def cell_features(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    from ..functions import image_kernels as K

    feats = per_channel(load_cells(spark), "data", "mask").select(
        "image_id", "channel",
        K.area(F.col("mask_ch")).alias("area"),
        K.perimeter_udf(F.col("mask_ch"), F.col("width"), F.col("height")).alias("perimeter"),
        K.masked_mean(F.col("data_ch"), F.col("mask_ch")).alias("mean_intensity"),
    )
    return feats.withColumn(
        "circularity",
        F.round(K.circularity(F.col("area"), F.col("perimeter")), 9),
    )


def cell_outlier_filter(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """End-to-end reference flagship on image data: features → fit stats →
    vote filter (feature extraction.py:108-118 + outlier_detection.py).
    The tidy table feeds both the fit and the scoring, so it is kept
    once with a lazy local checkpoint rather than a persist: the cells
    relation is new on every call, so a persisted plan never matches an
    earlier call's cache entry, and the cache manager would hold one
    entry per call for the session's life. A local checkpoint lives as
    long as the returned DataFrame; Spark's context cleaner drops it
    once that is garbage."""
    from ..operators.outlier import OutlierModel

    feats = cell_features(spark, sf_dir)
    tidy = feats.select(
        "image_id", "channel",
        F.expr("stack(3, 'area', CAST(area AS DOUBLE), "
               "'perimeter', CAST(perimeter AS DOUBLE), "
               "'mean_intensity', mean_intensity) AS (feature, value)"),
    ).localCheckpoint(eager=False)
    model = OutlierModel().fit(tidy)
    return model.votes(tidy).filter(F.col("votes") < 0)


# ---------------------------------------------------------------------------
# DuckDB value oracles for the cells kernels. The generator is
# deterministic, so it is materialized ONCE to a parquet fixture (pure
# pyarrow — no Spark in the loop, so the oracle's input provably shares
# no engine code with the query under test) and the DuckDB side
# recomputes area/perimeter/masked-mean/circularity from raw pixels
# with list functions. Float parity is exact by construction: the
# masked mean is a sequential left fold from 0.0 on both engines
# (F.aggregate ↔ list_reduce with a prepended 0.0 — identical IEEE
# tree), circularity embeds the same 4π literal and rounds to 9dp.
# ---------------------------------------------------------------------------
def cells_fixture_path() -> str:
    """Materialize the default cells table to parquet (idempotent,
    atomic) and return the path — referenced by the oracle SQL below."""
    path = os.path.join(
        tempfile.gettempdir(),
        f"bdsp_cells_{DEFAULT_N}x{DEFAULT_C}x{DEFAULT_W}x{DEFAULT_H}.parquet")
    if not os.path.exists(path):
        import pyarrow as pa
        import pyarrow.parquet as pq
        rows = [_gen_image(i, DEFAULT_C, DEFAULT_W, DEFAULT_H)
                for i in range(DEFAULT_N)]
        tb = pa.table({
            "image_id": pa.array(range(DEFAULT_N), pa.int64()),
            "n_channels": pa.array([DEFAULT_C] * DEFAULT_N, pa.int32()),
            "width": pa.array([DEFAULT_W] * DEFAULT_N, pa.int32()),
            "height": pa.array([DEFAULT_H] * DEFAULT_N, pa.int32()),
            "data": pa.array([r[0].tolist() for r in rows],
                             pa.list_(pa.float64())),
            "mask": pa.array([r[1].tolist() for r in rows],
                             pa.list_(pa.bool_())),
        })
        tmp = f"{path}.tmp.{os.getpid()}"
        pq.write_table(tb, tmp)
        os.replace(tmp, path)  # atomic under concurrent materializers
    return path


_FOUR_PI = repr(4.0 * math.pi)  # same double literal on both engines


def per_channel_sql_ctes(max_image_id: int | None = None) -> str:
    """cells + per_ch CTE text over the materialized fixture — the
    shared preamble for every DuckDB mirror of a cells-kernel query."""
    where = f"WHERE image_id < {max_image_id}" if max_image_id else ""
    return f"""
cells AS (SELECT * FROM read_parquet('{cells_fixture_path()}') {where}),
per_ch AS (
  SELECT image_id, CAST(ch.c AS INT) AS channel, width, height,
         data[CAST(ch.c*width*height + 1 AS BIGINT)
              :CAST((ch.c+1)*width*height AS BIGINT)] AS data_ch,
         mask[CAST(ch.c*width*height + 1 AS BIGINT)
              :CAST((ch.c+1)*width*height AS BIGINT)] AS mask_ch
  FROM cells,
       LATERAL (SELECT unnest(generate_series(0, n_channels - 1)) AS c) ch
)"""


def _features_sql_body() -> str:
    """feats(image_id, channel, area, perimeter, mean_intensity,
    circularity) CTE text over the materialized fixture."""
    return f"""{per_channel_sql_ctes()},
raw_feats AS (
  SELECT image_id, channel,
    CAST(len(list_filter(mask_ch, m -> m)) AS BIGINT) AS area,
    -- perimeter: Σ over fg pixels of in-bounds bg 4-neighbors
    -- (row-major pos = x·H + y, 1-based list index)
    CAST(list_sum(list_transform(
      generate_series(1, CAST(width*height AS BIGINT)), i ->
      CASE WHEN mask_ch[i] THEN
        CAST((i - 1) // height > 0 AND NOT mask_ch[i - height] AS INT)
        + CAST((i - 1) // height < width - 1
               AND NOT mask_ch[i + height] AS INT)
        + CAST((i - 1) % height > 0 AND NOT mask_ch[i - 1] AS INT)
        + CAST((i - 1) % height < height - 1
               AND NOT mask_ch[i + 1] AS INT)
      ELSE 0 END)) AS BIGINT) AS perimeter,
    -- masked mean: sequential fold from 0.0 == Spark F.aggregate order
    CASE WHEN len(list_filter(mask_ch, m -> NOT m)) > 0 THEN
      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(generate_series(1, CAST(width*height AS BIGINT)),
          i -> CASE WHEN mask_ch[i] THEN CAST(0.0 AS DOUBLE)
               ELSE data_ch[i] END)),
        (acc, v) -> acc + v)
      / len(list_filter(mask_ch, m -> NOT m))
    ELSE NULL END AS mean_intensity
  FROM per_ch
),
feats AS (
  SELECT image_id, channel, area, perimeter, mean_intensity,
         ROUND(CASE WHEN perimeter > 0
               THEN {_FOUR_PI} * area / (perimeter * perimeter)
               ELSE 0.0 END, 9) AS circularity
  FROM raw_feats
)"""


def rollup_oracle_sql(max_image_id: int, channels: list[int]) -> str:
    """Per-channel (total_area, n_images) oracle for the scan/sink
    round-trip queries — same rollup the five ingestion paths return."""
    ch_values = ", ".join(f"({c})" for c in channels)
    return f"""
WITH cells AS (SELECT * FROM read_parquet('{cells_fixture_path()}')
               WHERE image_id < {max_image_id})
SELECT CAST(ch.c AS INT) AS channel,
       CAST(SUM(len(list_filter(
           mask[CAST(ch.c*width*height + 1 AS BIGINT)
                :CAST((ch.c+1)*width*height AS BIGINT)], m -> m)))
         AS BIGINT) AS total_area,
       COUNT(*) AS n_images
FROM cells, (VALUES {ch_values}) ch(c)
GROUP BY ch.c
"""


QUERIES["cells_features"] = (cell_features, f"""
WITH {_features_sql_body()}
SELECT image_id, channel, area, perimeter, mean_intensity, circularity
FROM feats
""")

# flagship on image data: features → tidy melt → per-(feature, channel)
# davg/var_samp stats → ±1 vote band → keep votes < 0 (z = 0.5, the
# OutlierModel default) — outlier_detection.py's whole lifecycle in SQL
from ..functions.numeric import davg_expr as _davg_expr  # noqa: E402

QUERIES["cells_outlier_filter"] = (cell_outlier_filter, f"""
WITH {_features_sql_body()},
tidy AS (
  SELECT image_id, channel, 'area' AS feature,
         CAST(area AS DOUBLE) AS value FROM feats
  UNION ALL
  SELECT image_id, channel, 'perimeter',
         CAST(perimeter AS DOUBLE) FROM feats
  UNION ALL
  SELECT image_id, channel, 'mean_intensity', mean_intensity FROM feats
),
stats AS (
  SELECT feature, channel, {_davg_expr('value')} AS mean,
         var_samp(value) AS variance
  FROM tidy GROUP BY feature, channel
)
SELECT t.image_id,
       CAST(SUM(CASE WHEN ABS(t.value - s.mean)
                          < 0.5 * sqrt(s.variance)
                THEN -1 ELSE 1 END) AS BIGINT) AS votes
FROM tidy t
JOIN stats s ON t.feature = s.feature AND t.channel = s.channel
GROUP BY t.image_id
HAVING SUM(CASE WHEN ABS(t.value - s.mean) < 0.5 * sqrt(s.variance)
           THEN -1 ELSE 1 END) < 0
""")


# ---------------------------------------------------------------------------
# K6 — SURF descriptors per channel (reference calc_descriptor,
# ``feature extraction.py:27-35``: convertScaleAbs → uint8 →
# ``surf.detectAndCompute`` with hessianThreshold=400, upright=True,
# created at ``:9``; dead code there — the only call, ``:122``, is
# commented out — but part of the surveyed surface, so implemented from
# the published algorithm in functions/surf.py rather than skipped).
#
# Layout mirrors the reference exactly: one detect+describe PER CHANNEL
# on the saturate-cast uint8 image. The reference prints the raw
# descriptor matrix; a distributed engine must not ship N×64 floats per
# keypoint to the driver, so the query returns the per-(image, channel)
# summary a pipeline would aggregate anyway — keypoint count, mean
# detection scale, and an order-independent integer checksum of the
# descriptor matrix (micros quantization, the repo's integer-cents
# pattern) that pins every descriptor value byte-for-byte across
# partitionings without materializing it. Rows-only: box-filter NMS and
# Haar sampling aren't DuckDB-expressible; tests/test_surf.py carries
# the value weight (goldens + invariance properties).
# ---------------------------------------------------------------------------
def cells_surf_descriptors(spark: SparkSession, sf_dir: str = "",
                           n_images: int = 24) -> DataFrame:
    from ..functions import surf as S
    from ..functions.image_kernels import _to_uint8

    # 48px images: the 9..51 box filters need room (default 16px fixtures
    # leave no interior for the NMS middle layers); blob radii scale with
    # the image so every channel has a detectable feature
    per_ch = per_channel(
        load_cells(spark, n_images=n_images, width=48, height=48), "data")

    schema = T.StructType([
        T.StructField("image_id", T.LongType()),
        T.StructField("channel", T.IntegerType()),
        T.StructField("n_keypoints", T.IntegerType()),
        T.StructField("mean_scale", T.DoubleType()),
        T.StructField("desc_checksum_micros", T.LongType()),
    ])

    def describe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for img_id, ch, w, h, data in zip(
                    pdf["image_id"], pdf["channel"], pdf["width"],
                    pdf["height"], pdf["data_ch"]):
                img = _to_uint8(np.asarray(data, dtype=np.float64)
                                .reshape(int(w), int(h))).astype(np.float64)
                kps, desc = S.surf_detect_describe(img)
                checksum = int(np.rint(desc * 1e6).astype(np.int64).sum())
                mean_scale = float(np.round(kps[:, 2].mean(), 6)) \
                    if kps.shape[0] else 0.0
                out.append((int(img_id), int(ch), int(kps.shape[0]),
                            mean_scale, checksum))
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    return (per_ch.mapInPandas(describe, schema)
            .orderBy("image_id", "channel"))


QUERIES["cells_surf_descriptors"] = (cells_surf_descriptors, None)  # rows-only
