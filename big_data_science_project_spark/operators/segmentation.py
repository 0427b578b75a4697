"""Image segmentation operators — the reference's ``image_segmentation/
image_masking.py`` surface rebuilt Spark-first.

Three operators:

- per-image KMeans segmentation (reference M1: ``image_masking.py:31-33``
  + notebook cells 9-13): pixels featurized as ``[10·intensity, x, y]``
  (the ×10 scaling is the reference's fixed feature weight, K12) and
  clustered k=2 **per (image, channel)** with a deterministic Lloyd's
  iteration inside ``applyInPandas`` — each group is one image's pixels,
  so the clustering parallelizes across images instead of the
  reference's driver-looped per-image jobs.
- MLlib KMeans on the exploded pixel table (same featurization through
  ``posexplode`` + ``VectorAssembler``) — the built-in-estimator variant
  for when one clustering spans many images.
- threshold grid search (reference M3: ``image_masking.py:112-139``): the
  reference runs **one Spark job per parameter combination** (2,205 jobs
  in the notebook run). Here one ``aggregate`` pass over each
  image-channel's pixels counts tp/fp for every threshold at once (no
  join, no Python), the counts fan out to one row per threshold and are
  scored with K10, and the per-channel argmax is ``max_by`` — the whole
  search is ONE job that reads each pixel once regardless of grid size.

Segmentation quality is judged exactly like the reference: balanced
accuracy against the ground-truth mask shipped with the data
(``image_masking.py:45-69``, standard TP/FP orientation per SURVEY.md
§Pitfalls 5).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import image_kernels as K
from ..sources.cells import load_cells, per_channel

QUERIES: dict = {}

INTENSITY_WEIGHT = 10.0  # reference image_masking.py:33


# ---------------------------------------------------------------------------
# deterministic Lloyd's k=2 on [w·I, x, y] pixel features (numpy, one
# image-channel per group). Init = the min- and max-intensity pixels —
# deterministic, and for bimodal cell images close to the converged
# centroids, so 10 iterations suffice.
# ---------------------------------------------------------------------------
def _kmeans2_mask(img: np.ndarray) -> np.ndarray:
    w, h = img.shape
    xs, ys = np.meshgrid(np.arange(w), np.arange(h), indexing="ij")
    feats = np.stack([img.reshape(-1) * INTENSITY_WEIGHT,
                      xs.reshape(-1).astype(np.float64),
                      ys.reshape(-1).astype(np.float64)], axis=1)
    c0 = feats[np.argmin(feats[:, 0])]
    c1 = feats[np.argmax(feats[:, 0])]
    centroids = np.stack([c0, c1])
    assign = np.zeros(len(feats), dtype=np.int64)
    for _ in range(10):
        d = ((feats[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        new_assign = d.argmin(axis=1)
        if (new_assign == assign).all():
            break
        assign = new_assign
        for k in (0, 1):
            sel = feats[assign == k]
            if len(sel):
                centroids[k] = sel.mean(axis=0)
    # the foreground cluster is the brighter one
    fg = int(centroids[:, 0].argmax())
    return (assign == fg).reshape(w, h)


def kmeans_segment(cells: DataFrame) -> DataFrame:
    """(image_id, channel, predicted_mask) via grouped-map pandas —
    reference predict (image_masking.py:166-167, which dropped its return
    value; SURVEY.md §Pitfalls 7 — here it returns)."""
    per_ch = per_channel(cells, "data", "mask")
    schema = T.StructType([
        T.StructField("image_id", T.LongType()),
        T.StructField("channel", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mask_ch", T.ArrayType(T.BooleanType())),
        T.StructField("predicted_mask", T.ArrayType(T.BooleanType())),
    ])

    def seg(batches):
        for pdf in batches:
            preds = []
            for data, w, h in zip(pdf["data_ch"], pdf["width"], pdf["height"]):
                img = np.asarray(data, dtype=np.float64).reshape(int(w), int(h))
                preds.append(_kmeans2_mask(img).reshape(-1).tolist())
            yield pd.DataFrame({
                "image_id": pdf["image_id"], "channel": pdf["channel"],
                "width": pdf["width"], "height": pdf["height"],
                "mask_ch": pdf["mask_ch"], "predicted_mask": preds,
            })

    # mapInPandas, not applyInPandas: the clustering is per-row (each row
    # already holds one image-channel's pixels), so no shuffle is needed —
    # tasks stream Arrow batches and segment in place
    return per_ch.mapInPandas(seg, schema)


def cells_kmeans_accuracy(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    """Per-channel mean balanced accuracy of KMeans segmentation vs the
    ground-truth masks (reference train-time scoring, image_masking.py:126-132)."""
    seg = kmeans_segment(load_cells(spark))
    c = K.confusion(F.col("mask_ch"), F.col("predicted_mask"))
    scored = seg.select(
        "image_id", "channel",
        K.balanced_accuracy(c["tp"], c["fp"], c["tn"], c["fn"]).alias("bacc"))
    return (scored.groupBy("channel")
            .agg(F.round(F.avg("bacc"), 6).alias("mean_bacc"),
                 F.count(F.lit(1)).alias("n_images")))


QUERIES["cells_kmeans_segment"] = (cells_kmeans_accuracy, None)  # rows-only


# ---------------------------------------------------------------------------
# MLlib KMeans over the exploded pixel table (K12 + M1)
# ---------------------------------------------------------------------------
def cells_kmeans_mllib(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    cells = load_cells(spark, n_images=8)
    per_ch = per_channel(cells, "data", "mask").filter(F.col("channel") == 0)
    pixels = K.pixel_features(per_ch)
    assembled = VectorAssembler(
        inputCols=["fx", "x", "y"], outputCol="features").transform(pixels)
    model = KMeans(k=2, seed=1, maxIter=10).fit(assembled)
    pred = model.transform(assembled)
    return (pred.groupBy("image_id", F.col("prediction").alias("cluster"))
            .agg(F.count(F.lit(1)).alias("n_pixels"))
            .orderBy("image_id", "cluster"))


QUERIES["cells_kmeans_mllib"] = (cells_kmeans_mllib, None)  # rows-only


# ---------------------------------------------------------------------------
# DBSCAN segmentation (reference M2: sklearn DBSCAN(eps=2.5,
# min_samples=1) driver-local experiment, image_masking.ipynb cells
# 19-25) — a per-image numpy DBSCAN over foreground pixel positions,
# distributed via mapInPandas like the KMeans path. min_samples=1 +
# positional eps makes clusters = connected components of the
# thresholded mask, so the synthetic single-disk images must yield
# exactly one cluster (golden-tested).
# ---------------------------------------------------------------------------
def _dbscan(points: np.ndarray, eps: float, min_samples: int) -> np.ndarray:
    """Plain O(n²) DBSCAN; fine for per-image pixel counts (≤ a few
    thousand), and each image is one task — the scale axis is images."""
    n = len(points)
    labels = np.full(n, -1, dtype=np.int64)
    if n == 0:
        return labels
    d2 = ((points[:, None, :] - points[None, :, :]) ** 2).sum(axis=2)
    neigh = d2 <= eps * eps
    core = neigh.sum(axis=1) >= min_samples
    cluster = 0
    for i in range(n):
        if labels[i] != -1 or not core[i]:
            continue
        frontier = [i]
        labels[i] = cluster
        while frontier:
            j = frontier.pop()
            if not core[j]:
                continue
            for k in np.flatnonzero(neigh[j]):
                if labels[k] == -1:
                    labels[k] = cluster
                    if core[k]:
                        frontier.append(int(k))
        cluster += 1
    return labels


DBSCAN_EPS = 1.5
DBSCAN_MIN_SAMPLES = 1
DBSCAN_THRESHOLD = 200.0


def cells_dbscan_segment(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    cells = load_cells(spark, n_images=48)
    per_ch = per_channel(cells, "data", "mask")
    schema = T.StructType([
        T.StructField("image_id", T.LongType()),
        T.StructField("channel", T.IntegerType()),
        T.StructField("n_clusters", T.IntegerType()),
        T.StructField("largest_cluster", T.IntegerType()),
        T.StructField("n_noise", T.IntegerType()),
    ])

    def seg(batches):
        for pdf in batches:
            rows = {"image_id": [], "channel": [], "n_clusters": [],
                    "largest_cluster": [], "n_noise": []}
            for img_id, ch, data, w, h in zip(
                    pdf["image_id"], pdf["channel"], pdf["data_ch"],
                    pdf["width"], pdf["height"]):
                img = np.asarray(data, dtype=np.float64).reshape(int(w), int(h))
                pts = np.argwhere(img >= DBSCAN_THRESHOLD).astype(np.float64)
                labels = _dbscan(pts, DBSCAN_EPS, DBSCAN_MIN_SAMPLES)
                valid = labels[labels >= 0]
                rows["image_id"].append(int(img_id))
                rows["channel"].append(int(ch))
                rows["n_clusters"].append(int(valid.max()) + 1 if len(valid) else 0)
                rows["largest_cluster"].append(
                    int(np.bincount(valid).max()) if len(valid) else 0)
                rows["n_noise"].append(int((labels < 0).sum()))
            yield pd.DataFrame(rows)

    return per_ch.mapInPandas(seg, schema)


QUERIES["cells_dbscan_segment"] = (cells_dbscan_segment, None)  # rows-only


# ---------------------------------------------------------------------------
# blur → threshold-mask → score: the notebook's pre-smoothing pipeline
# (median blur before edge masking, canny_image_masking.ipynb cell 29 /
# image_masking.ipynb cell 29) as one declarative plan
# ---------------------------------------------------------------------------
def cells_blur_threshold(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    from ..functions.image_kernels import make_median_blur_udf

    per_ch = per_channel(load_cells(spark, n_images=64), "data", "mask")
    blurred = per_ch.withColumn(
        "data_ch", make_median_blur_udf(3)(
            F.col("data_ch"), F.col("width"), F.col("height")))
    pred = threshold_mask(F.col("data_ch"), F.lit(200.0))
    c = K.confusion(F.col("mask_ch"), pred)
    return (
        blurred.select(
            "channel",
            K.balanced_accuracy(c["tp"], c["fp"], c["tn"], c["fn"]).alias("bacc"))
        .groupBy("channel")
        .agg(_mean_bacc_exact().alias("mean_bacc"),
             F.count(F.lit(1)).alias("n_images"))
    )


# ---------------------------------------------------------------------------
# grid-search trainer (M3) — one job for the whole grid
# ---------------------------------------------------------------------------
THRESHOLD_GRID = [100.0, 200.0, 300.0, 400.0, 500.0]

# per-image balanced accuracies are doubles, and a float avg() is
# partition-order-dependent in its low bits; summing in DECIMAL(38,18)
# makes the mean (and therefore every argmax on it) deterministic at
# any parallelism and bit-equal in DuckDB — a double is a finite binary
# fraction, so rounding it to 18 decimal digits can never hit a
# .5-tie (that would need the double to be an exact odd multiple of
# 5·10⁻¹⁹, which no power-of-two denominator can produce), and both
# engines round identically.
_BACC_DEC = "decimal(38,18)"


def _sum_bacc_exact():
    return F.sum(F.col("bacc").cast(_BACC_DEC))


def _mean_bacc_exact():
    return F.round(_sum_bacc_exact().cast("double") / F.count(F.lit(1)), 6)


def threshold_mask(data_ch, thr):
    """Mask = intensity ≥ threshold, as a higher-order expression —
    the JVM-side stand-in for the reference's per-channel Canny kernel
    (image_masking.py:78-90); no Python worker in the search loop."""
    return F.transform(data_ch, lambda x: x >= thr)


def _grid_counts(mask_ch, data_ch, grid: list[float]) -> Column:
    """One pass over an image-channel's pixels: struct of ``pos``/``neg``
    (ground-truth classes over non-null pixels) and, for every threshold
    ``grid[k]``, ``tp{k}`` = #(g ∧ x ≥ t) and ``fp{k}`` = #(¬g ∧ x ≥ t).
    Null pixels count in none, as in K9."""
    zero = F.lit(0).cast("long")
    names = ["pos", "neg"] + [f"{n}{k}" for k in range(len(grid))
                              for n in ("tp", "fp")]

    def one(cond: Column) -> Column:
        return F.when(cond, 1).otherwise(0)

    def step(acc, e):
        g, x = e["g"], e["x"]
        inc = [one(g & x.isNotNull()), one(~g & x.isNotNull())]
        for t in grid:
            inc += [one(g & (x >= t)), one(~g & (x >= t))]
        return F.struct(*[(acc[n] + i).alias(n) for n, i in zip(names, inc)])

    return F.aggregate(
        F.zip_with(mask_ch, data_ch,
                   lambda g, x: F.struct(g.alias("g"), x.alias("x"))),
        F.struct(*[zero.alias(n) for n in names]), step)


def grid_search_threshold(cells: DataFrame,
                          grid: list[float] = THRESHOLD_GRID) -> DataFrame:
    """Best threshold per channel by mean balanced accuracy — the
    reference's |grid| driver-looped jobs (image_masking.py:116-137)
    collapsed into one job: a single aggregate pass per image-channel
    counts tp/fp for every threshold at once (no crossJoin, no grid
    table), ``inline`` fans the counts out to one row per threshold,
    then score → groupBy → max_by. Duplicate thresholds are dropped so
    none is summed twice."""
    grid = sorted({float(t) for t in grid})
    c = F.col("c")
    per_thr = F.array(*[
        F.struct(F.lit(t).alias("thr"), c[f"tp{k}"].alias("tp"),
                 c[f"fp{k}"].alias("fp"))
        for k, t in enumerate(grid)])
    scored = (
        per_channel(cells, "data", "mask")
        .select("image_id", "channel",
                _grid_counts(F.col("mask_ch"), F.col("data_ch"), grid)
                .alias("c"))
        .select("image_id", "channel", "c.pos", "c.neg", F.inline(per_thr))
        .select("image_id", "channel", "thr",
                K.balanced_accuracy(F.col("tp"), F.col("fp"),
                                    F.col("neg") - F.col("fp"),
                                    F.col("pos") - F.col("tp")).alias("bacc"))
    )
    # argmax on the exact decimal SUM: every combo scores the same image
    # count, so argmax-by-sum == argmax-by-mean, with no float-merge
    # nondeterminism in the comparison
    per_combo = (scored.groupBy("channel", "thr")
                 .agg(_sum_bacc_exact().alias("sum_bacc"),
                      F.count(F.lit(1)).alias("n")))
    return (per_combo.groupBy("channel")
            .agg(F.expr("max_by(thr, struct(sum_bacc, thr))")
                 .alias("best_thr"),
                 F.expr("max_by(round(cast(sum_bacc as double) / n, 6),"
                        " struct(sum_bacc, thr))").alias("best_bacc")))


def cells_grid_search_threshold(spark: SparkSession,
                                sf_dir: str = "") -> DataFrame:
    return grid_search_threshold(load_cells(spark))


# ---------------------------------------------------------------------------
# DuckDB mirrors over the materialized cells fixture (sources/cells.py).
# Confusion counts are list_filter lengths, balanced accuracy is the
# identical double tree, and the mean/argmax run on the exact
# DECIMAL(38,18) sum — so both the winner and its score hash-match.
# ---------------------------------------------------------------------------
def _confusion_sql(data: str, mask: str, pred: str) -> str:
    """tp/fp/tn/fn count columns; `pred` is a boolean SQL expression over
    data element `{x}` (e.g. '{x} >= thr')."""
    def cnt(cond: str) -> str:
        return (f"CAST(len(list_filter(generate_series(1,"
                f" CAST(width*height AS BIGINT)), i -> {cond})) AS BIGINT)")
    p = pred.format(x=f"{data}[i]")
    return ", ".join([
        cnt(f"{mask}[i] AND ({p})") + " AS tp",
        cnt(f"NOT {mask}[i] AND ({p})") + " AS fp",
        cnt(f"NOT {mask}[i] AND NOT ({p})") + " AS tn",
        cnt(f"{mask}[i] AND NOT ({p})") + " AS fn",
    ])


_BACC_SQL = """
  (CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 1.0 END
   + CASE WHEN tn + fp > 0 THEN tn / (tn + fp) ELSE 1.0 END) / 2.0
"""


def _grid_threshold_sql() -> str:
    from ..sources.cells import per_channel_sql_ctes

    # explicit DOUBLE cast: a bare 100.0 VALUES literal is DECIMAL in
    # DuckDB, which would type-mismatch Spark's double best_thr
    grid = ", ".join(f"(CAST({t!r} AS DOUBLE))" for t in THRESHOLD_GRID)
    return f"""
WITH {per_channel_sql_ctes()},
counted AS (
  SELECT p.channel, g.thr,
         {_confusion_sql('data_ch', 'mask_ch', '{x} >= g.thr')}
  FROM per_ch p, (VALUES {grid}) g(thr)),
scored AS (SELECT channel, thr, {_BACC_SQL} AS bacc FROM counted),
agg AS (SELECT channel, thr,
               SUM(CAST(bacc AS DECIMAL(38,18))) AS sum_bacc,
               COUNT(*) AS n
        FROM scored GROUP BY channel, thr)
SELECT channel, thr AS best_thr,
       ROUND(CAST(sum_bacc AS DOUBLE) / n, 6) AS best_bacc
FROM agg
QUALIFY ROW_NUMBER() OVER (PARTITION BY channel
                           ORDER BY sum_bacc DESC, thr DESC) = 1
"""


QUERIES["cells_grid_search_threshold"] = (
    cells_grid_search_threshold, _grid_threshold_sql())


def _blur_threshold_sql() -> str:
    from ..sources.cells import per_channel_sql_ctes

    # 3×3 edge-replicate median at 1-based flat index i
    # (x = (i-1)//h, y = (i-1)%h; neighbor (t//3-1, t%3-1) clamped)
    med = """list_aggregate(list_transform(generate_series(0, 8), t ->
        data_ch[LEAST(GREATEST((i-1)//height + t//3 - 1, 0), width-1)
                * height
                + LEAST(GREATEST((i-1)%height + t%3 - 1, 0), height-1)
                + 1]), 'median')"""
    return f"""
WITH {per_channel_sql_ctes(64)},
blurred AS (
  SELECT channel, width, height, mask_ch,
         list_transform(generate_series(1, CAST(width*height AS BIGINT)),
                        i -> {med}) AS data_ch
  FROM per_ch),
counted AS (
  SELECT channel,
         {_confusion_sql('data_ch', 'mask_ch', '{x} >= 200.0')}
  FROM blurred),
scored AS (SELECT channel, {_BACC_SQL} AS bacc FROM counted)
SELECT channel,
       ROUND(CAST(SUM(CAST(bacc AS DECIMAL(38,18))) AS DOUBLE)
             / COUNT(*), 6) AS mean_bacc,
       COUNT(*) AS n_images
FROM scored GROUP BY channel
"""


QUERIES["cells_blur_threshold"] = (cells_blur_threshold,
                                   _blur_threshold_sql())


# ---------------------------------------------------------------------------
# Canny grid-search trainer — the reference's FULL M3 search space:
# threshold1 × threshold2 × opening_shape over Canny masks
# (CannyEdgeMaskingModel.train, image_masking.py:112-139, which runs one
# RDD job per combination — 2,205 jobs in the notebook run — and keeps,
# per channel, the first combo whose mean balanced accuracy strictly
# beats the best so far). Here the whole grid is ONE job: broadcast the
# combo table, crossJoin, compute each (cell, channel, combo) mask in an
# Arrow-batched pandas UDF (the Canny kernel is per-pixel Python by
# nature — exactly the work the reference does per combo, distributed
# across partitions instead of serialized through the driver), score
# with the K9/K10 confusion expressions JVM-side, and take the
# per-channel argmax with max_by. Tie-break mirrors the reference's
# strict `>` update: ties go to the EARLIEST combo in its loop order
# (t1 asc, t2 asc, shape asc), encoded as max_by over
# struct(mean_bacc, -t1, -t2, -sw, -sh).
# Scale: |cells|×|grid| mask evaluations is the irreducible cost of grid
# search; this plan shuffles only the (channel × combo) score table
# (tiny), never pixels.
# ---------------------------------------------------------------------------
CANNY_T1_GRID = [50.0, 100.0]
CANNY_T2_GRID = [100.0, 200.0]
CANNY_SHAPE_GRID = [(4, 4), (8, 8)]


def make_canny_mask_udf():
    """(data_ch, width, height, t1, t2, sw, sh) → predicted mask, through
    the K7 dispatcher (cv2 when installed, numpy twin otherwise).

    The closure binds the dispatcher FUNCTION, not the ``K`` module: the
    package is registered pickle-by-value, and referencing the module
    would serialize its whole dict — including ``perimeter_udf``, whose
    lazily-initialized JVM handle (an RLock) is unpicklable once any
    query has executed it."""
    canny = K.canny_mask_np

    @F.pandas_udf(T.ArrayType(T.BooleanType()))
    def predict(data_ch: pd.Series, width: pd.Series, height: pd.Series,
                t1: pd.Series, t2: pd.Series,
                sw: pd.Series, sh: pd.Series) -> pd.Series:
        out = []
        for d, w, h, a, b, x, y in zip(data_ch, width, height, t1, t2,
                                       sw, sh):
            img = np.asarray(d, dtype=np.float64).reshape(int(w), int(h))
            out.append(canny(img, float(a), float(b), (int(x), int(y)))
                       .reshape(-1).tolist())
        return pd.Series(out)

    return predict


def grid_search_canny(cells: DataFrame,
                      t1_grid=CANNY_T1_GRID,
                      t2_grid=CANNY_T2_GRID,
                      shape_grid=CANNY_SHAPE_GRID) -> DataFrame:
    spark = cells.sparkSession
    combos = [(float(a), float(b), int(s[0]), int(s[1]))
              for a in t1_grid for b in t2_grid for s in shape_grid]
    grid_df = spark.createDataFrame(
        combos, "t1 double, t2 double, sw int, sh int")
    per_ch = per_channel(cells, "data", "mask")
    pred = make_canny_mask_udf()(
        F.col("data_ch"), F.col("width"), F.col("height"),
        F.col("t1"), F.col("t2"), F.col("sw"), F.col("sh"))
    scored = (
        per_ch.crossJoin(F.broadcast(grid_df))
        .withColumn("predicted", pred))
    c = K.confusion(F.col("mask_ch"), F.col("predicted"))
    scored = scored.select(
        "channel", "t1", "t2", "sw", "sh",
        K.balanced_accuracy(c["tp"], c["fp"], c["tn"], c["fn"])
        .alias("bacc"))
    # exact decimal sum for the argmax (constant image count per combo)
    per_combo = (scored.groupBy("channel", "t1", "t2", "sw", "sh")
                 .agg(_sum_bacc_exact().alias("sum_bacc"),
                      F.count(F.lit(1)).alias("n")))
    best = per_combo.groupBy("channel").agg(
        F.expr("max_by(struct(t1, t2, sw, sh),"
               " struct(sum_bacc, -t1, -t2, -sw, -sh))").alias("p"),
        F.expr("max_by(round(cast(sum_bacc as double) / n, 6),"
               " struct(sum_bacc, -t1, -t2, -sw, -sh))").alias("best_bacc"))
    return best.select(
        "channel", F.col("p.t1").alias("best_t1"),
        F.col("p.t2").alias("best_t2"),
        F.col("p.sw").alias("best_shape_w"),
        F.col("p.sh").alias("best_shape_h"), "best_bacc")


def cells_grid_search(spark: SparkSession, sf_dir: str = "") -> DataFrame:
    # 64 images keep the benched fixture at reference-notebook scale
    # (images × combos ≈ 64·3·8 mask evaluations per run)
    return grid_search_canny(load_cells(spark, n_images=64))


QUERIES["cells_grid_search"] = (cells_grid_search, None)  # rows-only
