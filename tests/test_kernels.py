"""Golden + property tests for the array/image kernel library — the
correctness weight for the non-SQL (rows-only) queries, per SURVEY.md §5:
hand-computed small fixtures for area/perimeter/circularity/masked-mean
(reference semantics: feature extraction.py:38-83) and confusion/balanced
accuracy (image_masking.py:45-69, standard orientation), plus the pooled
variance == var_samp property that validates replacing the reference's
hand-rolled Welford/Chan combineByKey (outlier_detection.py:64-101) with
built-in aggregates.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from big_data_science_project_spark.functions import image_kernels as K

# ---------------------------------------------------------------------------
# hand-computed 3×3 fixture:
#   mask:  T T F        area = 4
#          T T F        perimeter: boundary pairs (4-conn, in-bounds only)
#          F F F        circularity = 4πA/P²
# ---------------------------------------------------------------------------
MASK_3x3 = [True, True, False,
            True, True, False,
            False, False, False]
DATA_3x3 = [10.0, 20.0, 30.0,
            40.0, 50.0, 60.0,
            70.0, 80.0, 90.0]

# perimeter by hand: each of the 4 True pixels vs its in-bounds neighbors:
# (0,0): right T, down T → 0 bg pairs... counting (fg, bg in-bounds) pairs:
# (0,0)->none bg in-bounds except? neighbors (0,1)T,(1,0)T → 0
# (0,1): (0,2)F → 1, (1,1)T, (0,0)T → 1
# (1,0): (2,0)F → 1, (0,0)T, (1,1)T → 1
# (1,1): (1,2)F → 1, (2,1)F → 1, others T → 2
PERIM_3x3 = 4


def _one_row_df(spark, data, mask, w, h):
    return spark.createDataFrame(
        [(0, data, mask, w, h)],
        "image_id long, data_ch array<double>, mask_ch array<boolean>, "
        "width int, height int")


def test_area_golden(spark):
    df = _one_row_df(spark, DATA_3x3, MASK_3x3, 3, 3)
    assert df.select(K.area(F.col("mask_ch")).alias("a")).first()["a"] == 4


def test_perimeter_golden(spark):
    df = _one_row_df(spark, DATA_3x3, MASK_3x3, 3, 3)
    got = df.select(K.perimeter_udf(
        F.col("mask_ch"), F.col("width"), F.col("height")).alias("p")).first()["p"]
    assert got == PERIM_3x3


def test_perimeter_matches_reference_loop(spark):
    """Property: the vectorized kernel equals the reference's per-pixel
    definition (feature extraction.py:54-77) on random masks."""
    rng = np.random.default_rng(7)
    for _ in range(20):
        w, h = int(rng.integers(2, 9)), int(rng.integers(2, 9))
        m = rng.random((w, h)) < 0.4

        def ref_perimeter(mask):
            p = 0
            for x in range(mask.shape[0]):
                for y in range(mask.shape[1]):
                    if not mask[x, y]:
                        continue
                    for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                        nx, ny = x + dx, y + dy
                        if 0 <= nx < mask.shape[0] and 0 <= ny < mask.shape[1] \
                                and not mask[nx, ny]:
                            p += 1
            return p

        assert K._perimeter_np(m) == ref_perimeter(m), (w, h, m)


def test_circularity_golden(spark):
    df = _one_row_df(spark, DATA_3x3, MASK_3x3, 3, 3)
    got = df.select(
        K.circularity(F.lit(4).cast("long"), F.lit(PERIM_3x3).cast("long"))
        .alias("c")).first()["c"]
    assert got == pytest.approx(4 * math.pi * 4 / PERIM_3x3 ** 2)
    # zero-perimeter guard (reference feature extraction.py:44-51)
    got0 = df.select(
        K.circularity(F.lit(0).cast("long"), F.lit(0).cast("long"))
        .alias("c")).first()["c"]
    assert got0 == 0.0


def test_masked_mean_numpy_convention(spark):
    """mask=True means EXCLUDED (numpy MaskedArray; reference feature
    extraction.py:38-41 + 87-88) — the easy silent sign flip."""
    df = _one_row_df(spark, DATA_3x3, MASK_3x3, 3, 3)
    got = df.select(K.masked_mean(
        F.col("data_ch"), F.col("mask_ch")).alias("m")).first()["m"]
    expect = np.ma.array(np.array(DATA_3x3),
                         mask=np.array(MASK_3x3)).mean()
    assert got == pytest.approx(float(expect))
    # all-masked → NULL
    all_true = [True] * 9
    dfa = _one_row_df(spark, DATA_3x3, all_true, 3, 3)
    assert dfa.select(K.masked_mean(
        F.col("data_ch"), F.col("mask_ch")).alias("m")).first()["m"] is None


def test_confusion_and_balanced_accuracy(spark):
    gt = [True, True, False, False]
    pred = [True, False, True, False]
    df = spark.createDataFrame(
        [(gt, pred)], "gt array<boolean>, pred array<boolean>")
    c = K.confusion(F.col("gt"), F.col("pred"))
    row = df.select(c["tp"].alias("tp"), c["fp"].alias("fp"),
                    c["tn"].alias("tn"), c["fn"].alias("fn")).first()
    # STANDARD orientation (the reference swaps FP/FN — SURVEY.md Pitfall 5)
    assert (row["tp"], row["fp"], row["tn"], row["fn"]) == (1, 1, 1, 1)
    ba = df.select(K.balanced_accuracy(
        c["tp"], c["fp"], c["tn"], c["fn"]).alias("ba")).first()["ba"]
    assert ba == pytest.approx(0.5)
    acc = df.select(K.accuracy(
        c["tp"], c["fp"], c["tn"], c["fn"]).alias("a")).first()["a"]
    assert acc == pytest.approx(0.5)


def test_balanced_accuracy_empty_class_guard(spark):
    # no positive pixels in gt → TPR defaults to 1 (image_masking.py:62-69)
    gt = [False, False]
    pred = [False, False]
    df = spark.createDataFrame([(gt, pred)], "gt array<boolean>, pred array<boolean>")
    c = K.confusion(F.col("gt"), F.col("pred"))
    ba = df.select(K.balanced_accuracy(
        c["tp"], c["fp"], c["tn"], c["fn"]).alias("ba")).first()["ba"]
    assert ba == pytest.approx(1.0)


def test_channel_slice_roundtrip(spark):
    """reshape/slice round-trip: channel-major layout (reference
    feature extraction.py:87-88)."""
    c, w, h = 3, 2, 2
    flat = [float(i) for i in range(c * w * h)]
    df = spark.createDataFrame([(flat, w, h)],
                               "data array<double>, width int, height int")
    wh = F.col("width") * F.col("height")
    rows = df.select(*[
        K.channel_slice(F.col("data"), ch, wh).alias(f"c{ch}")
        for ch in range(c)
    ]).first()
    arr = np.array(flat).reshape(c, w, h)
    for ch in range(c):
        assert rows[f"c{ch}"] == arr[ch].reshape(-1).tolist()


# ---------------------------------------------------------------------------
# pooled variance property — validates collapsing the reference's
# Welford/Chan combineByKey (outlier_detection.py:64-101) into var_samp:
# the partial/final merge must equal the single-pass sample variance.
# ---------------------------------------------------------------------------
def test_var_samp_partition_invariance(spark):
    rng = np.random.default_rng(42)
    vals = rng.normal(100.0, 15.0, size=400).round(6).tolist()
    expect = float(np.var(np.array(vals), ddof=1))
    for nparts in (1, 3, 8, 32):
        df = spark.createDataFrame(
            [(v,) for v in vals], "v double").repartition(nparts)
        got = df.agg(F.var_samp("v").alias("s")).first()["s"]
        assert got == pytest.approx(expect, rel=1e-9), nparts


# ---------------------------------------------------------------------------
# shingle guard: docs shorter than the shingle width produce NO shingles
# (sequence() would run descending and fabricate out-of-range reads)
# ---------------------------------------------------------------------------
def test_short_doc_shingle_guard(spark):
    from big_data_science_project_spark.operators.dedup import _shingles
    df = spark.createDataFrame(
        [("a b",), ("one two three four",)], "text string")
    rows = (df.select(F.split("text", " ").alias("toks"))
            .select(F.size(_shingles()).alias("n")).collect())
    assert [r["n"] for r in rows] == [0, 2]


# ---------------------------------------------------------------------------
# K7 Canny dispatcher: same contract under the pure-numpy kernel and
# (when installed) real cv2 — reference canny_masking + apply_opening
# (image_masking.py:78-81, :38-41; the "opening" that actually closes).
# ---------------------------------------------------------------------------
_KERNELS = [("numpy", K._numpy_canny_np)]
if K.HAVE_CV2:
    _KERNELS.append(("cv2", K._cv2_canny_np))


@pytest.mark.parametrize("kname,kern", _KERNELS, ids=[k for k, _ in _KERNELS])
def test_canny_kernel_contract(kname, kern):
    """Both kernels: boolean mask, image shape, bright disk detected with
    balanced accuracy well above chance on a synthetic cell."""
    from big_data_science_project_spark.sources.cells import _gen_image

    data, mask = _gen_image(7, 1, 16, 16)
    img = data.reshape(16, 16)
    truth = mask.reshape(16, 16)
    pred = kern(img, 100.0, 300.0)
    assert pred.shape == img.shape and pred.dtype == bool
    tp = np.sum(pred & truth); fn = np.sum(~pred & truth)
    tn = np.sum(~pred & ~truth); fp = np.sum(pred & ~truth)
    bal = 0.5 * (tp / max(tp + fn, 1) + tn / max(tn + fp, 1))
    assert bal > 0.75, f"{kname}: balanced accuracy {bal}"


def test_canny_dispatcher_selects_available_kernel():
    from big_data_science_project_spark.sources.cells import _gen_image

    data, _ = _gen_image(7, 1, 16, 16)
    img = data.reshape(16, 16)
    want = (K._cv2_canny_np if K.HAVE_CV2 else K._numpy_canny_np)(
        img, 100.0, 300.0)
    assert np.array_equal(K.canny_mask_np(img, 100.0, 300.0), want)


# ---------------------------------------------------------------------------
# Independent per-pixel transliteration of the published OpenCV Canny
# algorithm (aperture 3, L1) — the property oracle for the vectorized
# kernel, playing the role a live cv2 run would (cv2 not installable in
# this container; the loop below shares NO code with the vectorized
# implementation).
# ---------------------------------------------------------------------------
def _canny_loop_ref(img_u8, t1, t2):
    h, w = img_u8.shape
    low, high = sorted((int(np.floor(t1)), int(np.floor(t2))))
    src = img_u8.astype(np.int64)

    def px(i, j):  # BORDER_REPLICATE
        return src[min(max(i, 0), h - 1), min(max(j, 0), w - 1)]

    dx = np.zeros((h, w), np.int64)
    dy = np.zeros((h, w), np.int64)
    for i in range(h):
        for j in range(w):
            dx[i, j] = (px(i - 1, j + 1) + 2 * px(i, j + 1) + px(i + 1, j + 1)
                        - px(i - 1, j - 1) - 2 * px(i, j - 1) - px(i + 1, j - 1))
            dy[i, j] = (px(i + 1, j - 1) + 2 * px(i + 1, j) + px(i + 1, j + 1)
                        - px(i - 1, j - 1) - 2 * px(i - 1, j) - px(i - 1, j + 1))
    mag = np.abs(dx) + np.abs(dy)

    def m(i, j):  # magnitude, 0 outside the image
        if 0 <= i < h and 0 <= j < w:
            return mag[i, j]
        return 0

    TG22 = 13573
    cand = np.zeros((h, w), bool)
    strong = np.zeros((h, w), bool)
    for i in range(h):
        for j in range(w):
            v = mag[i, j]
            if v <= low:
                continue
            x, y = abs(int(dx[i, j])), abs(int(dy[i, j])) << 15
            tg22x = x * TG22
            if y < tg22x:
                ok = v > m(i, j - 1) and v >= m(i, j + 1)
            else:
                tg67x = tg22x + (x << 16)
                if y > tg67x:
                    ok = v > m(i - 1, j) and v >= m(i + 1, j)
                else:
                    s = -1 if (int(dx[i, j]) ^ int(dy[i, j])) < 0 else 1
                    # canny.cpp diagonal branch: strict > on BOTH
                    # neighbors (the >/>= asymmetry is axial-only)
                    ok = v > m(i - 1, j - s) and v > m(i + 1, j + s)
            if ok:
                cand[i, j] = True
                if v > high:
                    strong[i, j] = True
    # hysteresis BFS
    edges = strong.copy()
    stack = list(zip(*np.nonzero(strong)))
    while stack:
        i, j = stack.pop()
        for di in (-1, 0, 1):
            for dj in (-1, 0, 1):
                ni, nj = i + di, j + dj
                if (0 <= ni < h and 0 <= nj < w and cand[ni, nj]
                        and not edges[ni, nj]):
                    edges[ni, nj] = True
                    stack.append((ni, nj))
    return edges


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_numpy_canny_equals_perpixel_reference(seed):
    """Vectorized Canny == the independent per-pixel loop on random and
    structured images, across threshold settings (incl. swapped t1>t2)."""
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(20, 17)).astype(np.float64)
    if seed % 2:  # add structure: a bright block with sharp borders
        img[4:12, 3:10] = 240.0
    for t1, t2 in [(50, 100), (100, 50), (10, 200), (80, 80)]:
        got = K._canny_edges_np(K._to_uint8(img), t1, t2)
        want = _canny_loop_ref(K._to_uint8(img), t1, t2)
        assert np.array_equal(got, want), (seed, t1, t2)


def test_numpy_canny_goldens():
    """Pinned behavior: no edges on uniform, a single 1-px NMS ridge on a
    vertical step (column 7 of a 0|255 split at column 8), ring around a
    disk that the ellipse close fills to cover the full disk."""
    assert not K._canny_edges_np(
        K._to_uint8(np.full((16, 16), 37.0)), 50, 100).any()

    step = np.zeros((16, 16)); step[:, 8:] = 255.0
    e = K._canny_edges_np(K._to_uint8(step), 50, 100)
    assert sorted(set(np.nonzero(e)[1].tolist())) == [7]
    assert int(e.sum()) == 16

    yy, xx = np.meshgrid(np.arange(16), np.arange(16), indexing="ij")
    disk = ((xx - 8) ** 2 + (yy - 8) ** 2) <= 16
    img = 40.0 + disk * 500.0
    ring = K._canny_edges_np(K._to_uint8(img), 50, 100)
    assert int(ring.sum()) == 24  # regression pin
    closed = K._numpy_canny_np(img, 50, 100, (8, 8))
    assert (closed & disk).sum() == disk.sum()  # close fills the disk


def test_ellipse_element_matches_cv2_rasterization():
    """cv2.getStructuringElement(MORPH_ELLIPSE, (8,8)) computed by hand
    from the row-wise integer rasterization (dx = rint(c·sqrt((r²−dy²)/r²)))
    — and live cv2 when available."""
    el = K._ellipse_element_np((8, 8))
    want = np.zeros((8, 8), bool)
    want[0, 4] = True
    want[1, 1:8] = True; want[2, 1:8] = True
    want[3, :] = True; want[4, :] = True; want[5, :] = True
    want[6, 1:8] = True; want[7, 1:8] = True
    assert np.array_equal(el, want)
    if K.HAVE_CV2:
        import cv2
        assert np.array_equal(
            el, cv2.getStructuringElement(cv2.MORPH_ELLIPSE, (8, 8)) != 0)
    el5 = K._ellipse_element_np((5, 5))
    assert el5[2, :].all() and el5[0, 2] and not el5[0, 0]


def test_morph_close_fills_gap_and_is_idempotent_on_solid():
    """Close bridges a 2-px gap between bars with an (8,8) ellipse; a
    solid block far from borders is unchanged."""
    img = np.zeros((20, 20), np.float32)
    img[5:15, 4] = 255; img[5:15, 7] = 255  # two bars, gap of 2
    closed = K._morph_close_np(img, (8, 8))
    assert (closed[9, 5] > 0) and (closed[9, 6] > 0)
    solid = np.zeros((20, 20), np.float32)
    solid[6:14, 6:14] = 255
    again = K._morph_close_np(solid, (3, 3))
    assert np.array_equal(again >= 255, solid >= 255)
