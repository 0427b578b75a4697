from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from big_data_science_project_spark.session import (default_cpus, get_spark,
                                                     release)

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    n = default_cpus()
    s = get_spark("tests", cpus=n, shuffle_partitions=n)
    yield s


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("VmRSS:"))
    except (OSError, StopIteration):  # exited, or a kernel thread
        return 0.0
    return round(kb / 1024, 1)


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


@pytest.fixture(scope="module", autouse=True)
def _release_session_state(request, spark, tmp_path_factory):
    """Free what the module left in the session, then log the memory
    the session still holds to ``<basetemp>/module_rss.jsonl``: the
    driver JVM's RSS, its Python workers' summed RSS and the count of
    cached RDDs."""
    yield
    release(spark)
    jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
    record = {
        "module": request.module.__name__,
        "jvm_rss_mb": _rss_mb(jvm),
        "py_workers_rss_mb": round(
            sum(_rss_mb(p) for p in _descendants(jvm)), 1),
        "cached_rdds": len(spark.sparkContext._jsc.sc().getRDDStorageInfo()),
    }
    with open(tmp_path_factory.getbasetemp() / "module_rss.jsonl", "a") as fh:
        fh.write(json.dumps(record) + "\n")


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def lm_planted_dir(tmp_path_factory) -> str:
    """Planted LM corpus shared by the batch and streaming quality-gate
    tests (kept in ONE place so the twins can never drift): index docs
    1-3 (md5-bucket < 80) repeat a small 'en' phrase distribution;
    batch side (bucket >= 80) has doc 5 in-distribution, doc 8 garbled,
    doc 14 single-token (0 bigrams), and doc 18 in a language the index
    has never seen ('xx' — must score as maximally surprising via the
    global-vocab fallback, NOT as perfect)."""
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
    d = tmp_path_factory.mktemp("lmppl")
    docs.to_parquet(d / "documents.parquet")
    return str(d)
