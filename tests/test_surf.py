"""K6 — upright SURF (functions/surf.py + cells_surf_descriptors).

The reference's SURF call is dead code (``feature extraction.py:122``
commented), so there is no reference output to transliterate; these
tests carry the correctness weight the way test_kernels.py does for the
other K rows: structural goldens (a planted blob must be detected at its
center, at a scale that tracks its radius) plus the algebraic properties
the published algorithm guarantees (unit-norm descriptors, contrast
invariance after normalization, shift equivariance, determinism)."""

from __future__ import annotations

import numpy as np
import pytest

from big_data_science_project_spark.functions import surf as S


def _blob(size=64, cx=30, cy=34, r=8, bg=30.0, fg=600.0, seed=7):
    rng = np.random.default_rng(seed)
    img = rng.normal(bg, 5, (size, size))
    rr, cc = np.meshgrid(np.arange(size), np.arange(size), indexing="ij")
    img = img + (((rr - cx) ** 2 + (cc - cy) ** 2) <= r * r) * fg
    return np.clip(img, 0, 255)


def test_integral_image_golden():
    img = np.arange(6, dtype=np.float64).reshape(2, 3)
    ii = S.integral_image(img)
    assert ii.shape == (3, 4)
    assert ii[0].sum() == 0 and ii[:, 0].sum() == 0
    assert ii[2, 3] == img.sum()
    # box [0:1, 1:3) = 1 + 2
    assert ii[1, 3] - ii[0, 3] - ii[1, 1] + ii[0, 1] == 3.0


def test_flat_image_has_no_response_and_no_keypoints():
    img = np.full((48, 48), 120.0)
    assert np.abs(S.hessian_response(S.integral_image(img), 9)).max() == 0.0
    assert S.detect_keypoints(img).shape == (0, 3)


def test_blob_detected_at_center():
    kps = S.detect_keypoints(_blob())
    assert kps.shape[0] >= 1
    # strongest structure: some keypoint within 2px of the planted center
    d = np.hypot(kps[:, 0] - 30, kps[:, 1] - 34)
    assert d.min() <= 2.0


def test_scale_tracks_blob_radius():
    def center_scale(r):
        kps = S.detect_keypoints(_blob(r=r, seed=3))
        d = np.hypot(kps[:, 0] - 30, kps[:, 1] - 34)
        near = kps[d <= 3.0]
        assert near.shape[0] >= 1, f"no keypoint at blob center for r={r}"
        return near[:, 2].max()

    assert center_scale(4) < center_scale(10)


def test_descriptors_unit_norm_and_shape():
    img = _blob()
    kps, desc = S.surf_detect_describe(img)
    assert desc.shape == (kps.shape[0], 64)
    norms = np.linalg.norm(desc, axis=1)
    assert np.allclose(norms, 1.0)


def test_descriptor_contrast_invariance():
    """L2 normalization cancels any positive linear intensity scaling
    (same keypoints described on both images, so only the descriptor
    path is under test)."""
    img = _blob(fg=400.0, bg=20.0)
    kps = S.detect_keypoints(img)
    assert kps.shape[0] >= 1
    d1 = S.describe_keypoints(img, kps)
    d2 = S.describe_keypoints(img * 0.5, kps)
    assert np.allclose(d1, d2, atol=1e-12)


def test_shift_equivariance():
    """Translating the image translates keypoints by the same offset
    (interior blob, noise-free so the shifted pixels are identical)."""
    base = np.zeros((64, 64))
    rr, cc = np.meshgrid(np.arange(64), np.arange(64), indexing="ij")
    img1 = base + (((rr - 28) ** 2 + (cc - 30) ** 2) <= 36) * 200.0
    img2 = base + (((rr - 33) ** 2 + (cc - 37) ** 2) <= 36) * 200.0
    k1 = S.detect_keypoints(img1)
    k2 = S.detect_keypoints(img2)
    assert k1.shape == k2.shape and k1.shape[0] >= 1
    shifted = k1 + np.array([5.0, 7.0, 0.0])
    assert np.allclose(np.sort(shifted, axis=0), np.sort(k2, axis=0))


def test_detect_describe_deterministic():
    img = _blob(seed=11)
    k1, d1 = S.surf_detect_describe(img)
    k2, d2 = S.surf_detect_describe(img)
    assert np.array_equal(k1, k2) and np.array_equal(d1, d2)


def test_threshold_monotone():
    img = _blob()
    n_low = S.detect_keypoints(img, hessian_threshold=100.0).shape[0]
    n_high = S.detect_keypoints(img, hessian_threshold=2000.0).shape[0]
    assert n_low >= n_high


def test_describe_empty_keypoints():
    desc = S.describe_keypoints(_blob(), np.zeros((0, 3)))
    assert desc.shape == (0, 64)


@pytest.mark.usefixtures("spark")
def test_cells_surf_query_matches_local(spark):
    """The Spark query's per-(image, channel) summary equals a driver-
    local recomputation from the same deterministic fixture — pins the
    mapInPandas plumbing (slicing, uint8 cast, checksum quantization)."""
    from big_data_science_project_spark.functions.image_kernels import \
        _to_uint8
    from big_data_science_project_spark.sources.cells import (
        _gen_image, cells_surf_descriptors)

    rows = {(r.image_id, r.channel): r
            for r in cells_surf_descriptors(spark, n_images=6).collect()}
    assert len(rows) == 18  # 6 images x 3 channels
    for image_id in range(6):
        data, _ = _gen_image(image_id, 3, 48, 48)
        arr = np.asarray(data).reshape(3, 48, 48)
        for ch in range(3):
            img = _to_uint8(arr[ch]).astype(np.float64)
            kps, desc = S.surf_detect_describe(img)
            got = rows[(image_id, ch)]
            assert got.n_keypoints == kps.shape[0]
            assert got.desc_checksum_micros == \
                int(np.rint(desc * 1e6).astype(np.int64).sum())
            want_scale = float(np.round(kps[:, 2].mean(), 6)) \
                if kps.shape[0] else 0.0
            assert got.mean_scale == pytest.approx(want_scale)


@pytest.mark.usefixtures("spark")
def test_surf_neardup_finds_planted_clones_only(spark, monkeypatch):
    """The structural image-dedup tier: exactly the four planted
    contrast-scaled clones pair with their originals, each on the
    identity translation with >= MIN_ALIGNED aligned keypoints, and no
    cross-image conspiracy clears the vote (the fixture's best is 2).
    Every image, negative controls included, reaches the keypoint
    stage: the clone pairs alone would come out the same without them."""
    from big_data_science_project_spark.operators import multimodal as M
    from big_data_science_project_spark.operators.multimodal import (
        SURF_CLONE_OFFSET, SURF_DEDUP_CLONES, SURF_DEDUP_IMAGES,
        SURF_MIN_ALIGNED, multimodal_surf_neardup)

    seen = []
    real = M._surf_keypoints

    def spy(df):
        seen.extend(r.image_id for r in df.select("image_id").collect())
        return real(df)

    monkeypatch.setattr(M, "_surf_keypoints", spy)
    rows = multimodal_surf_neardup(spark).collect()
    assert sorted(seen) == list(range(SURF_DEDUP_IMAGES)) + [
        SURF_CLONE_OFFSET + i for i in range(SURF_DEDUP_CLONES)]
    assert len(rows) == SURF_DEDUP_CLONES
    for r in rows:
        assert r.image_b == r.image_a + SURF_CLONE_OFFSET
        assert (r.dr, r.dc) == (0, 0)
        assert r.n_aligned >= SURF_MIN_ALIGNED
    assert sorted(r.image_a for r in rows) == list(range(SURF_DEDUP_CLONES))
