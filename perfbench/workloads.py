"""The benchmark's workloads: inputs, one job, and its check.

Every job builds its plan from the layers' public functions on each run
(no registry entry, so no ``plan_cached`` DataFrame and no persisted
table survives from one job to the next), runs it to a result on the
driver, and checks that result against an expected value computed
without Spark (see ``reference.py``).

- ``ifc_segment_archive``: the imaging-flow-cytometry pipeline. Scan
  cells, grid-search a mask threshold per channel, predict masks, write
  them through the ``cells`` sink, read the snapshot back, then score it:
  balanced accuracy against ground truth and the morphology kernels (area,
  perimeter, masked mean, circularity) on the predicted masks. Python-side
  synthesis, decoding and the perimeter kernel run next to the JVM-side
  segmentation expressions; the only workload that writes and decodes.
- ``star_relational``: five star-schema queries and the outlier model
  over the tidy lineitem rows. JVM only; the Python workers stay idle.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from big_data_science_project_spark.functions import image_kernels as K
from big_data_science_project_spark.operators import outlier as O
from big_data_science_project_spark.operators import relational as R
from big_data_science_project_spark.operators import segmentation as S
from big_data_science_project_spark.sources import cells_datasource as CD
from big_data_science_project_spark.sources import tables as T

import reference as ref
import starschema

# Inputs per job. "full" is what the benchmark measures; "tiny" keeps the
# benchmark's own tests short.
SIZES = {
    "full": {
        "ifc_segment_archive": {"n_images": 64, "channels": 9, "width": 32,
                                "height": 32, "warmup_jobs": 1},
        "star_relational": {"sf": 0.01, "warmup_jobs": 5},
    },
    "tiny": {
        "ifc_segment_archive": {"n_images": 12, "channels": 3, "width": 16,
                                "height": 16, "warmup_jobs": 1},
        "star_relational": {"sf": 0.0005, "warmup_jobs": 1},
    },
}

QUERIES = {
    "q01": (R.q01_pricing_summary, "q01_pricing_summary"),
    "q03": (R.q03_revenue_topn, "q03_revenue_topn"),
    "q05": (R.q05_region_revenue, "q05_region_revenue"),
    "q08": (R.q08_running_total, "q08_running_total"),
    "q24": (R.q24_percentiles, "q24_percentiles"),
}


def _scan(spark: SparkSession, p: dict, lo: int, hi: int) -> DataFrame:
    """The cells source, cut to the id window ``[lo, hi)`` by the
    source's ``image_id`` pushdown."""
    return (spark.read.format("cells")
            .option("n_images", hi).option("n_channels", p["channels"])
            .option("width", p["width"]).option("height", p["height"])
            .option("numpartitions", p["partitions"]).load()
            .filter((F.col("image_id") >= lo) & (F.col("image_id") < hi)))


def _per_channel(cells: DataFrame, *cols: str) -> DataFrame:
    """One row per (image, channel) with that channel's slice of each of
    ``cols``."""
    wh = F.col("width") * F.col("height")
    return cells.select(
        "image_id", "width", "height", *cols,
        F.explode(F.sequence(F.lit(0), F.col("n_channels") - 1))
        .alias("channel"),
    ).select("image_id", "channel", "width", "height",
             *[K.channel_slice(F.col(c), F.col("channel"), wh).alias(c)
               for c in cols])


class Workload:
    """``prepare`` runs once, outside any timing, in the process that
    does not measure; ``run`` is one job; ``check`` compares its result."""

    name = ""

    def __init__(self, size: str, seed: int, cores: int, scratch: str):
        self.p = dict(SIZES[size][self.name])
        self.p["partitions"] = cores
        self.seed = seed
        self.scratch = scratch
        self.expected = None

    def describe(self) -> dict:
        return dict(self.p)

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def corrupt(self, result):
        """A deliberately wrong copy of ``result`` (``--fault``)."""
        raise NotImplementedError

    def cleanup(self) -> None:
        pass


class IfcSegmentArchive(Workload):
    name = "ifc_segment_archive"

    def window(self) -> tuple[int, int]:
        n = self.p["n_images"]
        return self.seed * n, (self.seed + 1) * n

    def describe(self) -> dict:
        return {**self.p, "id_window": list(self.window())}

    def prepare(self) -> None:
        p = self.p
        self.expected = ref.segment_expected(*self.window(), p["channels"],
                                             p["width"], p["height"])
        self.jobs = 0

    def run(self, spark: SparkSession, tr) -> dict:
        p = self.p
        c = p["channels"]
        self.jobs += 1
        out = os.path.join(self.scratch, f"archive-{self.jobs}")
        with tr.span("sources.cells_read") as sp:
            with sp.planning():
                # read by the grid search, the predictor and the scorer
                cells = _scan(spark, p, *self.window()).persist()
                tr.persisted.append(cells)
            cells = sp.materialize(cells)
        with tr.span("operators.segmentation") as sp:
            with sp.phase("grid_s"):
                best = {r["channel"]: (r["best_thr"], r["best_bacc"]) for r in
                        S.grid_search_threshold(cells, list(ref.THRESHOLDS))
                        .collect()}
            with sp.planning():
                wh = F.col("width") * F.col("height")
                pred = F.concat(*[
                    S.threshold_mask(K.channel_slice(F.col("data"), ch, wh),
                                     F.lit(best[ch][0]))
                    for ch in range(c)])
                predicted = cells.select("image_id", "n_channels", "width",
                                         "height", "data",
                                         pred.alias("mask"))
            predicted = sp.materialize(predicted)
            sp.count(grid_evals=p["n_images"] * c * len(ref.THRESHOLDS),
                     best_bacc=sum(b for _, b in best.values()) / c)
        with tr.span("sources.cells_write") as sp:
            predicted.write.format("cells").option("path", out) \
                .mode("append").save()
            with open(os.path.join(out, "_MANIFEST.json")) as fh:
                manifest = json.load(fh)
            written = sum(os.path.getsize(f) for f in manifest["containers"])
            pixel_bytes = p["n_images"] * c * p["width"] * p["height"] * 9
            sp.count(containers=len(manifest["containers"]),
                     bytes=written, bytes_per_pixel_byte=written / pixel_bytes)
        with tr.span("sources.snapshot_read") as sp:
            with sp.planning():
                back = CD.read_snapshot(spark, out)
            back = sp.materialize(back)
        with tr.span("functions.image_kernels") as sp:
            with sp.planning():
                truth = _per_channel(cells, "mask").select(
                    "image_id", "channel", F.col("mask").alias("truth"))
                got = _per_channel(back, "data", "mask").join(
                    truth, ["image_id", "channel"])
                cm = K.confusion(F.col("truth"), F.col("mask"))
                scored = got.select(
                    "image_id", "channel",
                    K.area(F.col("mask")).alias("area"),
                    K.perimeter_udf(F.col("mask"), F.col("width"),
                                    F.col("height")).alias("perimeter"),
                    K.masked_mean(F.col("data"), F.col("mask"))
                    .alias("mean_intensity"),
                    F.aggregate("data", F.lit(0.0), lambda a, v: a + v)
                    .alias("data_sum"),
                    K.balanced_accuracy(cm["tp"], cm["fp"], cm["tn"],
                                        cm["fn"]).alias("bacc"))
                scored = scored.withColumn("circularity", K.circularity(
                    F.col("area"), F.col("perimeter")))
            rows = scored.collect()
            sp.count(rows=len(rows))
        bacc: dict[int, list[float]] = {}
        for r in rows:
            bacc.setdefault(r["channel"], []).append(r["bacc"])
        return {
            "manifest_rows": manifest["n_rows"],
            "best": best,
            "features": {(r["image_id"], r["channel"]): tuple(
                r[f] for f in ref.FEATURES) for r in rows},
            "data_sum": {(r["image_id"], r["channel"]): r["data_sum"]
                         for r in rows},
            "bacc": {ch: sum(v) / len(v) for ch, v in bacc.items()},
        }

    def check(self, result) -> list[str]:
        return ref.check_segment(result, self.expected)

    def corrupt(self, result):
        return {**result, "manifest_rows": result["manifest_rows"] + 1}

    def cleanup(self) -> None:
        for d in glob.glob(os.path.join(self.scratch, "archive-*")):
            shutil.rmtree(d, ignore_errors=True)


class StarRelational(Workload):
    name = "star_relational"

    def describe(self) -> dict:
        return {**self.p, "rows": self.rows}

    def prepare(self) -> None:
        self.data_dir = os.path.join(self.scratch, "star")
        self.rows = starschema.generate(self.data_dir, self.seed,
                                        self.p["sf"])
        oracles = {k: R.QUERIES[name][1] for k, (_, name) in QUERIES.items()}
        oracles["outlier"] = O.QUERIES["outlier_transform"][1]
        self.expected = ref.star_expected(self.data_dir, starschema.TABLES,
                                          oracles)

    def run(self, spark: SparkSession, tr) -> dict:
        d = self.data_dir
        with tr.span("sources.tables") as sp:
            with sp.planning():
                tables = T.load_tables(spark, d, *starschema.TABLES)
            with sp.phase("scan_s"):
                for df in tables.values():
                    sp.materialize(df)
        out = {}
        with tr.span("operators.relational") as sp:
            for key, (query, _) in QUERIES.items():
                with sp.phase(f"{key}_s"):
                    with sp.planning():
                        df = query(spark, d)
                    out[key] = ref.rows_of(df.toPandas())
        with tr.span("operators.outlier") as sp:
            with sp.planning():
                tidy = O._tidy_lineitem(spark, d)
            tidy = sp.materialize(tidy)
            with sp.planning():
                model = O.OutlierModel().fit(tidy)
            with sp.phase("fit_s"):
                model.stats = sp.materialize(model.stats)
            with sp.phase("votes_s"):
                votes = model.votes(tidy).filter(F.col("votes") < 0)
                out["outlier"] = ref.rows_of(votes.toPandas())
            sp.count(tidy_rows=3 * self.rows["lineitem"],
                     kept_ratio=len(out["outlier"]) / self.expected["_ids"])
        return out

    def check(self, result) -> list[str]:
        return ref.check_star(result, self.expected)

    def corrupt(self, result):
        return {**result, "q01": result["q01"][:-1]}


WORKLOADS = {w.name: w for w in (IfcSegmentArchive, StarRelational)}
