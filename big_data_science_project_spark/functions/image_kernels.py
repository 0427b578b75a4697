"""Array/image kernel library — the reference's per-row numpy feature code
re-expressed as Catalyst column expressions (higher-order array functions)
plus one Arrow-vectorized pandas UDF where per-pixel neighborhood logic is
genuinely needed.

Layout contract (reference §1.1): ``data``/``mask`` are channel-major flat
arrays of length C×W×H; ``reshape(data, (C, W, H))`` recovers the tensor
(reference ``feature extraction.py:87-88``).

Reference semantics preserved exactly:
- area = count of True pixels per channel (``feature extraction.py:80-83``)
- masked mean intensity = mean of pixels where mask is **False** — numpy
  MaskedArray convention, True = excluded (``feature extraction.py:38-41``)
- perimeter = Σ over foreground pixels of 4-neighbors that are background;
  out-of-bounds neighbors not counted (``feature extraction.py:54-77``)
- circularity = 4πA/P², 0 when P == 0 (``feature extraction.py:44-51``)
- confusion/balanced accuracy use the STANDARD TP/FP/TN/FN definitions;
  the reference swaps FP and FN (``image_masking.py:54-59`` — SURVEY.md
  §Pitfalls 5; we implement the intended metric)
- balanced accuracy empty-class guard: a class with no pixels contributes
  rate 1 (``image_masking.py:62-69``)

Everything except perimeter is a pure column expression → whole-stage
codegen, no Python. Perimeter ships Arrow batches to a numpy kernel that
does 4 shifted comparisons per image — O(WH) vectorized, not the
reference's per-pixel interpreted loop.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# channel slicing (K1): flat channel-major array → one channel's W×H slice
# ---------------------------------------------------------------------------
def channel_slice(arr: Column, channel: Column | int, wh: Column) -> Column:
    """slice() is 1-indexed; channel is 0-based."""
    ch = F.lit(channel) if isinstance(channel, int) else channel
    return F.slice(arr, ch * wh + 1, wh)


# ---------------------------------------------------------------------------
# area (K2): count of True pixels
# ---------------------------------------------------------------------------
def area(mask_ch: Column) -> Column:
    return F.size(F.filter(mask_ch, lambda x: x)).cast("long")


# ---------------------------------------------------------------------------
# masked mean intensity (K5): mean over pixels where mask is False
# ---------------------------------------------------------------------------
def masked_mean(data_ch: Column, mask_ch: Column) -> Column:
    total = F.aggregate(
        F.zip_with(data_ch, mask_ch,
                   lambda v, m: F.when(m, F.lit(0.0)).otherwise(v)),
        F.lit(0.0), lambda acc, v: acc + v)
    n = F.size(F.filter(mask_ch, lambda x: ~x))
    return F.when(n > 0, total / n).otherwise(F.lit(None).cast("double"))


# ---------------------------------------------------------------------------
# circularity (K4)
# ---------------------------------------------------------------------------
def circularity(area_col: Column, perimeter_col: Column) -> Column:
    return F.when(
        perimeter_col > 0,
        4.0 * math.pi * area_col / (perimeter_col * perimeter_col),
    ).otherwise(F.lit(0.0))


# ---------------------------------------------------------------------------
# perimeter (K3): pandas UDF — 4-connectivity boundary-pair count
# ---------------------------------------------------------------------------
def _perimeter_np(mask: np.ndarray) -> int:
    """mask: 2-D bool. Count (foreground, in-bounds background) adjacent
    pairs over the 4-neighborhood — vectorized version of the reference's
    per-pixel loop at feature extraction.py:54-77."""
    fg = mask.astype(bool)
    p = 0
    p += int((fg[1:, :] & ~fg[:-1, :]).sum()) + int((fg[:-1, :] & ~fg[1:, :]).sum())
    p += int((fg[:, 1:] & ~fg[:, :-1]).sum()) + int((fg[:, :-1] & ~fg[:, 1:]).sum())
    return p


@F.pandas_udf(T.LongType())
def perimeter_udf(mask_ch: pd.Series, width: pd.Series, height: pd.Series) -> pd.Series:
    out = np.empty(len(mask_ch), dtype=np.int64)
    for i, (m, w, h) in enumerate(zip(mask_ch, width, height)):
        out[i] = _perimeter_np(np.asarray(m, dtype=bool).reshape(int(w), int(h)))
    return pd.Series(out)


# ---------------------------------------------------------------------------
# confusion counts (K9) — standard orientation (reference swaps FP/FN).
# A null in either array counts in none of the four. Four passes on
# purpose: callers reference each count several times (K10 reads tp
# three times) and Spark never shares a lambda expression as a common
# subexpression, so a single pass that all four counts read would be
# re-run per reference — measured slower than these four.
# ---------------------------------------------------------------------------
def confusion(gt: Column, pred: Column) -> dict[str, Column]:
    def count(f) -> Column:
        return F.size(F.filter(F.zip_with(gt, pred, f), lambda x: x)).cast("long")
    return {
        "tp": count(lambda g, p: g & p),
        "fp": count(lambda g, p: ~g & p),
        "tn": count(lambda g, p: ~g & ~p),
        "fn": count(lambda g, p: g & ~p),
    }


# ---------------------------------------------------------------------------
# balanced accuracy (K10) / plain accuracy (K11)
# ---------------------------------------------------------------------------
def balanced_accuracy(tp: Column, fp: Column, tn: Column, fn: Column) -> Column:
    tpr = F.when(tp + fn > 0, tp / (tp + fn)).otherwise(F.lit(1.0))
    tnr = F.when(tn + fp > 0, tn / (tn + fp)).otherwise(F.lit(1.0))
    return (tpr + tnr) / 2.0


def accuracy(tp: Column, fp: Column, tn: Column, fn: Column) -> Column:
    total = tp + fp + tn + fn
    return F.when(total > 0, (tp + tn) / total).otherwise(F.lit(None).cast("double"))


# ---------------------------------------------------------------------------
# Canny mask kernel (K7): the reference's exact recipe — cv.Canny then
# MORPH_CLOSE with a MORPH_ELLIPSE kernel (image_masking.py:78-81
# canny_masking + :38-41 apply_opening, whose name says "opening" but
# whose body closes — reference Pitfall; we reproduce the close).
#
# Two interchangeable kernels behind one dispatcher:
# - cv2 present → literally the reference's calls.
# - cv2 absent (this container) → a pure-numpy implementation of the
#   SAME published algorithm OpenCV documents for Canny with the
#   defaults cv.Canny uses here (apertureSize=3, L2gradient=False):
#   3×3 Sobel with replicated borders → L1 gradient magnitude →
#   non-maximum suppression in OpenCV's four integer-arithmetic sectors
#   (tan 22.5° fixed-point split, the > / >= tie-break asymmetry per
#   side) → double-threshold hysteresis grown 8-connected from strong
#   seeds through weak candidates. The morphological close mirrors
#   cv2.getStructuringElement(MORPH_ELLIPSE)'s row-wise integer ellipse
#   rasterization and cv2's border conventions (-inf pad for dilate,
#   +inf for erode, kernel+anchor reflected for dilate).
#   Fidelity caveat, disclosed: cv2 is not installable in this
#   container, so the numpy kernel is pinned against (a) an independent
#   per-pixel transliteration of the published algorithm
#   (tests/test_kernels.py) and (b) committed golden edge maps — not
#   against a live cv2 run. The dispatcher prefers cv2 wherever it IS
#   installed, so any residual sub-pixel divergence never shadows the
#   real library.
#
# uint8 conversion: the reference's row_to_image does a raw
# .astype('uint8') (image_masking.py:28-29), which WRAPS out-of-range
# floats modulo 256 — latent Pitfall, never triggered because its .cif
# source is already 8-bit. Our fixtures carry float intensities up to
# ~900, so this kernel saturates (clip 0..255) like OpenCV's own
# saturate_cast would, and documents the divergence here.
# ---------------------------------------------------------------------------
try:  # cv2 absent in this container; auto-enables where installed
    import cv2 as _cv2
except ImportError:  # pragma: no cover - exercised via canny_mask_np fallback
    _cv2 = None

HAVE_CV2 = _cv2 is not None


def _to_uint8(img: np.ndarray) -> np.ndarray:
    return np.clip(img, 0, 255).astype(np.uint8)


def _cv2_canny_np(img: np.ndarray, t1: float, t2: float,
                  shape: tuple[int, int] = (8, 8)) -> np.ndarray:
    """Reference canny_masking: Canny on uint8, float32 MORPH_CLOSE."""
    edges = _cv2.Canny(_to_uint8(img), threshold1=t1, threshold2=t2)
    kernel = _cv2.getStructuringElement(_cv2.MORPH_ELLIPSE, shape)
    closed = _cv2.morphologyEx(edges.astype(np.float32), _cv2.MORPH_CLOSE,
                               kernel)
    return closed.astype(bool)


# fixed-point tan(22.5°) << 15 — OpenCV's sector split constant
_TG22 = 13573


def _canny_edges_np(img_u8: np.ndarray, t1: float, t2: float) -> np.ndarray:
    """uint8 image → bool edge map, OpenCV-Canny semantics (aperture 3,
    L1 norm). Fully vectorized; the per-pixel mirror lives in the tests."""
    low, high = sorted((int(np.floor(t1)), int(np.floor(t2))))
    src = img_u8.astype(np.int64)
    p = np.pad(src, 1, mode="edge")
    # 3×3 Sobel, y axis = rows (downward positive), x axis = columns
    dx = ((p[:-2, 2:] + 2 * p[1:-1, 2:] + p[2:, 2:])
          - (p[:-2, :-2] + 2 * p[1:-1, :-2] + p[2:, :-2]))
    dy = ((p[2:, :-2] + 2 * p[2:, 1:-1] + p[2:, 2:])
          - (p[:-2, :-2] + 2 * p[:-2, 1:-1] + p[:-2, 2:]))
    mag = np.abs(dx) + np.abs(dy)  # L1 (L2gradient=False)

    # non-maximum suppression: magnitude map padded with 0 outside the
    # image (OpenCV's border rows), neighbors picked by gradient sector
    m = np.pad(mag, 1, constant_values=0)
    c = m[1:-1, 1:-1]
    ax, ay = np.abs(dx), np.abs(dy) << 15
    tg22x = ax * _TG22
    tg67x = tg22x + (ax << 16)
    horiz = ay < tg22x
    vert = ay > tg67x
    sign_differs = (dx ^ dy) < 0
    pass_h = (c > m[1:-1, :-2]) & (c >= m[1:-1, 2:])
    pass_v = (c > m[:-2, 1:-1]) & (c >= m[2:, 1:-1])
    # diagonal sectors compare STRICTLY on both neighbors in canny.cpp
    # (`m > _mag[...-s] && m > _mag[...+s]`) — only the axial sectors
    # carry the > / >= asymmetry
    pass_d_same = (c > m[:-2, :-2]) & (c > m[2:, 2:])    # s = +1: ↖ / ↘
    pass_d_diff = (c > m[:-2, 2:]) & (c > m[2:, :-2])    # s = −1: ↗ / ↙
    nms = np.where(horiz, pass_h,
                   np.where(vert, pass_v,
                            np.where(sign_differs, pass_d_diff,
                                     pass_d_same)))
    cand = (mag > low) & nms
    strong = cand & (mag > high)

    # hysteresis: grow strong seeds through weak candidates, 8-connected;
    # each pass is one vectorized 3×3 dilation, iterations bounded by the
    # longest weak chain (≤ W·H)
    edges = strong.copy()
    while True:
        e = np.pad(edges, 1, constant_values=False)
        grown = np.zeros_like(edges)
        for di in range(3):
            for dj in range(3):
                grown |= e[di:di + edges.shape[0], dj:dj + edges.shape[1]]
        grown = grown & cand & ~edges
        if not grown.any():
            return edges
        edges |= grown


def _ellipse_element_np(shape: tuple[int, int]) -> np.ndarray:
    """cv2.getStructuringElement(MORPH_ELLIPSE, (w, h)) — the row-wise
    integer ellipse rasterization (anchor = (w//2, h//2), round-half-even
    like saturate_cast<int>)."""
    w, h = int(shape[0]), int(shape[1])
    r, cc = h // 2, w // 2
    inv_r2 = 1.0 / (r * r) if r else 0.0
    el = np.zeros((h, w), dtype=bool)
    for i in range(h):
        dy = i - r
        if abs(dy) <= r:
            dxs = int(np.rint(cc * math.sqrt(max(r * r - dy * dy, 0)
                                             * inv_r2)))
            el[i, max(cc - dxs, 0):min(cc + dxs + 1, w)] = True
    return el


def _morph_np(img: np.ndarray, element: np.ndarray, op: str) -> np.ndarray:
    """cv2 erode/dilate on float input, default border semantics: pad
    +inf for erode / −inf for dilate; dilate reflects element+anchor."""
    el = element
    kh, kw = el.shape
    ay, axc = kh // 2, kw // 2  # default anchor = element center
    if op == "dilate":
        el = el[::-1, ::-1]
        ay, axc = kh - 1 - ay, kw - 1 - axc
        pad_val, agg = -np.inf, np.maximum
    else:
        pad_val, agg = np.inf, np.minimum
    hh, ww = img.shape
    padded = np.pad(img.astype(np.float32),
                    ((ay, kh - 1 - ay), (axc, kw - 1 - axc)),
                    constant_values=pad_val)
    out = np.full((hh, ww), pad_val, dtype=np.float32)
    for i, j in zip(*np.nonzero(el)):
        out = agg(out, padded[i:i + hh, j:j + ww])
    return out


def _morph_close_np(img: np.ndarray,
                    shape: tuple[int, int] = (8, 8)) -> np.ndarray:
    el = _ellipse_element_np(shape)
    return _morph_np(_morph_np(img, el, "dilate"), el, "erode")


def _numpy_canny_np(img: np.ndarray, t1: float, t2: float,
                    shape: tuple[int, int] = (8, 8)) -> np.ndarray:
    """Pure-numpy twin of _cv2_canny_np (same recipe, same conventions:
    edges as 0/255 float32 into the close, nonzero → True)."""
    edges = _canny_edges_np(_to_uint8(img), t1, t2)
    closed = _morph_close_np(np.where(edges, np.float32(255),
                                      np.float32(0)), shape)
    return closed.astype(bool)


def canny_mask_np(img: np.ndarray, t1: float, t2: float,
                  shape: tuple[int, int] = (8, 8)) -> np.ndarray:
    """K7 dispatcher: real cv2 when importable, else the numpy twin."""
    if HAVE_CV2:
        return _cv2_canny_np(img, t1, t2, shape)
    return _numpy_canny_np(img, t1, t2, shape)


# ---------------------------------------------------------------------------
# median blur (K14): k×k median filter with edge-replicate padding —
# the reference's cv.medianBlur(cell, 5) pre-Canny smoothing
# (image_masking.ipynb cell 29) in pure numpy (no OpenCV dependency)
# ---------------------------------------------------------------------------
def _median_blur_np(img: np.ndarray, k: int = 5) -> np.ndarray:
    r = k // 2
    padded = np.pad(img, r, mode="edge")
    stack = np.stack([
        padded[dx:dx + img.shape[0], dy:dy + img.shape[1]]
        for dx in range(k) for dy in range(k)
    ])
    return np.median(stack, axis=0)


def make_median_blur_udf(k: int = 5):
    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def median_blur(data_ch: pd.Series, width: pd.Series, height: pd.Series) -> pd.Series:
        out = []
        for d, w, h in zip(data_ch, width, height):
            img = np.asarray(d, dtype=np.float64).reshape(int(w), int(h))
            out.append(_median_blur_np(img, k).reshape(-1).tolist())
        return pd.Series(out)

    return median_blur


# ---------------------------------------------------------------------------
# KMeans pixel featurization (K12): posexplode → (10·intensity, x, y)
# ---------------------------------------------------------------------------
def pixel_features(df, data_col: str = "data_ch", height_col: str = "height"):
    """Explode one channel's pixels into (image_id, x, y, fx) rows for
    MLlib clustering — reference image_masking.py:31-33 including the ×10
    intensity weighting. ``height_col`` is the row-major minor axis
    (pos = x·H + y)."""
    h = F.col(height_col)
    return (
        df.select("image_id", F.posexplode(data_col).alias("pos", "intensity"), h.alias("_h"))
        .select(
            "image_id",
            (F.col("pos") / F.col("_h")).cast("int").alias("x"),
            (F.col("pos") % F.col("_h")).alias("y"),
            (F.col("intensity") * 10.0).alias("fx"),
        )
    )
