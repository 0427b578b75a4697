"""The benchmark's own tests, on tiny inputs.

Run from the root of the repository:
``python3 -m pytest perfbench -q -p no:cacheprovider``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
# per-layer metrics that count work: equal on every run of one seed
COUNT_UNITS = {"count", "bytes", "ratio"}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seconds", "1",
         "--size", "tiny", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_metric_names_and_units():
    spec = _spec()
    names = [m["name"] for kind in ("end_to_end", "per_layer")
             for m in spec[kind]] + [w["name"] for w in spec["workloads"]]
    assert all(NAME.fullmatch(n) for n in names), names
    assert len(names) == len(set(names))
    units = {m["unit"] for kind in ("end_to_end", "per_layer")
             for m in spec[kind]}
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", u) for u in units)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


@pytest.mark.parametrize("workload", ["ifc_segment_archive",
                                      "star_relational"])
def test_traced_runs_are_correct_and_counts_repeat(workload):
    spec = _spec()
    counts = [m["name"] for m in spec["per_layer"]
              if m["unit"] in COUNT_UNITS and not m["name"].endswith(
                  "cpu_util")]
    runs = [_result(_run("--workload", workload, "--seed", "5",
                         "--trace", "1")) for _ in range(2)]
    for r in runs:
        assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 3
        assert set(r["metrics"]) == {m["name"] for m in spec["per_layer"]}
        assert r["metrics"]["trace.unattributed_s"]["value"] \
            < r["metrics"]["trace.job_s"]["value"] / 5
    first, second = ({n: r["metrics"][n]["value"] for n in counts}
                     for r in runs)
    assert first == second
    assert any(v > 0 for v in first.values())


@pytest.mark.parametrize("workload", ["ifc_segment_archive",
                                      "star_relational"])
def test_wrong_results_count_as_failures(workload):
    r = _result(_run("--workload", workload, "--seed", "2", "--fault"))
    assert not r["correct"] and r["failed"] == r["attempted"] > 0
    assert set(r["metrics"]) == {m["name"] for m in _spec()["end_to_end"]}


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", "star_relational", "--seed", "1",
                cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_star_schema_follows_the_seed(tmp_path):
    import pyarrow.parquet as pq

    import starschema

    a = starschema.generate(str(tmp_path / "a"), 7, 0.0005)
    starschema.generate(str(tmp_path / "b"), 7, 0.0005)
    starschema.generate(str(tmp_path / "c"), 8, 0.0005)
    read = {d: pq.read_table(str(tmp_path / d / "lineitem.parquet"))
            for d in "abc"}
    assert a["lineitem"] == 3000
    assert read["a"].equals(read["b"])
    assert not read["a"].equals(read["c"])


def test_reference_perimeter_matches_a_pixel_loop():
    import reference

    rng = np.random.default_rng(0)
    for _ in range(20):
        m = rng.random((7, 5)) < 0.5
        want = 0
        for x in range(7):
            for y in range(5):
                if m[x, y]:
                    for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                        nx, ny = x + dx, y + dy
                        if 0 <= nx < 7 and 0 <= ny < 5 and not m[nx, ny]:
                            want += 1
        assert reference._perimeter(m) == want
