"""OutlierModel persistence + semantics (reference outlier_detection.py:
27-39 save/load, :41-53 vote rule with the intended math per SURVEY.md
§Pitfalls 1-4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from big_data_science_project_spark.operators.outlier import (
    OutlierModel, _tidy_lineitem)

SF = "/root/testdata/sf0.001"


def test_write_read_roundtrip_preserves_votes(spark, tmp_path):
    tidy = _tidy_lineitem(spark, SF)
    m = OutlierModel().fit(tidy)
    votes_before = sorted(map(tuple, m.votes(tidy).collect()))

    path = str(tmp_path / "model.json")
    m.write(path)
    m2 = OutlierModel.read(spark, path)
    assert m2.z == m.z
    votes_after = sorted(map(tuple, m2.votes(tidy).collect()))
    assert votes_before == votes_after

    # persisted schema is the unified one (feature → [{channel,n,mean,variance}])
    import json
    blob = json.load(open(path))
    assert set(blob) == {"z", "stats"}
    any_feature = next(iter(blob["stats"].values()))
    assert set(any_feature[0]) == {"channel", "n", "mean", "variance"}


def test_vote_rule_keeps_majority_inliers(spark):
    """Hand fixture: 3 values per id across one (feature, channel);
    z=0.5σ band. id votes −1 per inlier value; kept iff votes < 0."""
    rows = [
        # id 1: all 3 values at the mean → 3 inlier votes → kept
        (1, "f", 0, 100.0), (1, "f", 0, 100.0), (1, "f", 0, 100.0),
        # id 2: all far out → 3 outlier votes → dropped
        (2, "f", 0, 500.0), (2, "f", 0, -300.0), (2, "f", 0, 500.0),
        # id 3: 2 in / 1 out → net −1 → kept
        (3, "f", 0, 100.0), (3, "f", 0, 100.0), (3, "f", 0, 500.0),
    ]
    tidy = spark.createDataFrame(
        rows, "image_id long, feature string, channel int, value double")
    m = OutlierModel().fit(tidy)
    kept = sorted(r["image_id"] for r in m.filter_inliers(tidy).collect())
    assert kept == [1, 3]


def test_z_parameter_widens_band(spark):
    rows = [(1, "f", 0, float(v)) for v in (90, 100, 110, 95, 105)]
    tidy = spark.createDataFrame(
        rows, "image_id long, feature string, channel int, value double")
    strict = OutlierModel(z=0.1).fit(tidy)
    loose = OutlierModel(z=3.0).fit(tidy)
    v_strict = strict.votes(tidy).first()["votes"]
    v_loose = loose.votes(tidy).first()["votes"]
    assert v_loose < v_strict  # wider band → more −1 (inlier) votes
