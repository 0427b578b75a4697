from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_science_project_spark.session import default_cpus, get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    n = default_cpus()
    s = get_spark("tests", cpus=n, shuffle_partitions=n)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def lm_planted_dir() -> str:
    """Planted LM corpus shared by the batch and streaming quality-gate
    tests (kept in ONE place so the twins can never drift): index docs
    1-3 (md5-bucket < 80) repeat a small 'en' phrase distribution;
    batch side (bucket >= 80) has doc 5 in-distribution, doc 8 garbled,
    doc 14 single-token (0 bigrams), and doc 18 in a language the index
    has never seen ('xx' — must score as maximally surprising via the
    global-vocab fallback, NOT as perfect)."""
    import tempfile

    import pandas as pd

    phrase = ("the model scores each document by how well it matches "
              "the corpus distribution")
    docs = pd.DataFrame({
        "doc_id": pd.array([1, 2, 3, 5, 8, 14, 18], dtype="int64"),
        "text": [phrase, phrase + " again", "it matches the corpus well",
                 "the model scores the corpus well",      # 5: in-dist
                 "zq xv qqk wf jjx zzv bnm ppw ooe rrt",  # 8: garbled
                 "single",                                # 14: 1 token
                 "the model scores the corpus well"],     # 18: lang 'xx'
        "lang": ["en"] * 6 + ["xx"],
        "source": ["s"] * 7,
        "n_chars": pd.array([1] * 7, dtype="int64"),
    })
    d = tempfile.mkdtemp(prefix="lmppl_")
    docs.to_parquet(os.path.join(d, "documents.parquet"))
    return d
