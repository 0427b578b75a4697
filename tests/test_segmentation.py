"""Golden-quality tests for segmentation (SURVEY.md §5: metric-based
validation against ground-truth masks, like the reference's balanced-
accuracy scoring at image_masking.py:45-69 — but asserted, not
eyeballed)."""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_science_project_spark.operators.segmentation import (
    CANNY_SHAPE_GRID, CANNY_T1_GRID, CANNY_T2_GRID, THRESHOLD_GRID,
    cells_grid_search, cells_grid_search_threshold, cells_kmeans_accuracy)
from big_data_science_project_spark.sources.cells import load_cells


def test_kmeans_segmentation_quality(spark):
    """Synthetic disks (blob 400-900 on background 20-60) are well
    separated — per-channel mean balanced accuracy must be near-perfect."""
    rows = cells_kmeans_accuracy(spark).collect()
    assert len(rows) == 3  # channels
    for r in rows:
        assert r["mean_bacc"] > 0.95, (r["channel"], r["mean_bacc"])
        assert r["n_images"] > 0


def test_grid_search_picks_separating_threshold(spark):
    rows = cells_grid_search_threshold(spark).collect()
    assert len(rows) == 3
    for r in rows:
        # any threshold between background (≤60+noise) and blob (≥400)
        # separates perfectly; best must be in that band with high accuracy
        assert r["best_thr"] in THRESHOLD_GRID
        assert 100.0 <= r["best_thr"] <= 400.0, r
        assert r["best_bacc"] > 0.99, r


def test_canny_grid_search_3d(spark):
    """The reference's full M3 search space (t1 × t2 × opening_shape,
    image_masking.py:116-118) with per-channel argmax: ≥ 2×2×2 combos,
    params drawn from the grids, Canny+close masks beating chance on the
    disk fixtures."""
    assert (len(CANNY_T1_GRID) >= 2 and len(CANNY_T2_GRID) >= 2
            and len(CANNY_SHAPE_GRID) >= 2)
    rows = cells_grid_search(spark).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["best_t1"] in CANNY_T1_GRID, r
        assert r["best_t2"] in CANNY_T2_GRID, r
        assert (r["best_shape_w"], r["best_shape_h"]) in CANNY_SHAPE_GRID, r
        assert r["best_bacc"] > 0.75, r


def test_canny_grid_search_matches_driver_loop(spark):
    """Value oracle: the one-job crossJoin search returns exactly what
    the reference's per-combo driver loop (image_masking.py:119-137 —
    strict-> update, first-wins tie-break) computes over the same numpy
    kernel on the same images."""
    import numpy as np

    from big_data_science_project_spark.functions import image_kernels as K
    from big_data_science_project_spark.operators.segmentation import (
        grid_search_canny)
    from big_data_science_project_spark.sources.cells import _gen_image

    n, c, w, h = 6, 3, 16, 16
    combos = [(a, b, s) for a in CANNY_T1_GRID for b in CANNY_T2_GRID
              for s in CANNY_SHAPE_GRID]
    best_acc = [0.0] * c
    best_params = [None] * c
    for a, b, s in combos:
        sums = np.zeros(c)
        for img_id in range(n):
            data, mask = _gen_image(img_id, c, w, h)
            for ch in range(c):
                img = data.reshape(c, w, h)[ch]
                truth = mask.reshape(c, w, h)[ch]
                pred = K.canny_mask_np(img, a, b, s)
                tp = np.sum(truth & pred); fn = np.sum(truth & ~pred)
                tn = np.sum(~truth & ~pred); fp = np.sum(~truth & pred)
                tpr = tp / (tp + fn) if tp + fn else 1.0
                tnr = tn / (tn + fp) if tn + fp else 1.0
                sums[ch] += (tpr + tnr) / 2
        for ch in range(c):
            if sums[ch] / n > best_acc[ch]:
                best_acc[ch] = sums[ch] / n
                best_params[ch] = (a, b, s)

    rows = {r["channel"]: r
            for r in grid_search_canny(load_cells(spark, n_images=n))
            .collect()}
    for ch in range(c):
        a, b, s = best_params[ch]
        r = rows[ch]
        assert (r["best_t1"], r["best_t2"]) == (a, b), (ch, r)
        assert (r["best_shape_w"], r["best_shape_h"]) == s, (ch, r)
        assert abs(r["best_bacc"] - round(best_acc[ch], 6)) < 1e-9, (ch, r)


def test_canny_grid_search_is_one_job_shape(spark):
    from big_data_science_project_spark.operators.segmentation import (
        grid_search_canny)
    df = grid_search_canny(load_cells(spark, n_images=4))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_grid_search_is_one_job_shape(spark):
    """The search must be one plan, not a per-threshold loop: the cells
    are scanned once, with no join against a grid table (no cartesian
    product either) and no Python evaluation of the mask."""
    from big_data_science_project_spark.operators.segmentation import (
        grid_search_threshold)
    df = grid_search_threshold(load_cells(spark, n_images=4))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BatchScan cells") == 1, plan  # the one cells scan
    for node in ("Join", "CartesianProduct", "EvalPython"):
        assert node not in plan, (node, plan)


def test_grid_search_ignores_duplicate_thresholds(spark):
    """A threshold listed twice must not have its balanced accuracy
    summed twice: repeating 20 cannot change the winner."""
    from big_data_science_project_spark.operators.segmentation import (
        grid_search_threshold)
    cells = load_cells(spark)
    once = sorted(map(tuple, grid_search_threshold(cells, [20.0, 800.0])
                      .collect()))
    repeated = sorted(map(tuple, grid_search_threshold(
        cells, [20.0, 20.0, 20.0, 800.0]).collect()))
    assert repeated == once
    assert all(thr == 800.0 for _, thr, _ in once), once


def test_dbscan_disks_form_one_cluster(spark):
    """Synthetic images contain exactly one bright disk per channel →
    DBSCAN over thresholded pixel positions must find exactly 1 cluster,
    no noise (min_samples=1), covering the disk area."""
    from big_data_science_project_spark.operators.segmentation import (
        cells_dbscan_segment)
    rows = cells_dbscan_segment(spark).collect()
    assert len(rows) == 48 * 3
    for r in rows:
        assert r["n_clusters"] == 1, r
        assert r["n_noise"] == 0, r
        assert r["largest_cluster"] >= 9  # smallest disk: r=2 ⇒ 13 px ≥ 9


def test_median_blur_removes_spike():
    import numpy as np

    from big_data_science_project_spark.functions.image_kernels import (
        _median_blur_np)
    img = np.zeros((5, 5))
    img[2, 2] = 100.0  # salt noise
    out = _median_blur_np(img, 3)
    assert out[2, 2] == 0.0  # median of the 3×3 neighborhood kills the spike
    assert (out == 0.0).all()


def test_kmeans_mask_golden():
    """Two-level image: bright 2×2 block in a dark field — exact mask."""
    import numpy as np

    from big_data_science_project_spark.operators.segmentation import (
        _kmeans2_mask)
    img = np.full((6, 6), 30.0)
    img[2:4, 2:4] = 500.0
    got = _kmeans2_mask(img)
    expect = np.zeros((6, 6), dtype=bool)
    expect[2:4, 2:4] = True
    assert (got == expect).all()
