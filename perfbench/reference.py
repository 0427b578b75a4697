"""Expected results, computed without Spark, and the checks that compare
a job's output with them.

The cell workload recomputes every result with numpy from the same
``_gen_image`` synthesis the ``cells`` source uses, by independent
formulas (padded-neighbour perimeter, exact rational sums for the
threshold argmax). The star workload runs each query's DuckDB oracle SQL
over the same parquet files. A check returns a list of problems; an empty
list means the job's result is correct.
"""

from __future__ import annotations

import math
from decimal import Decimal
from fractions import Fraction

import numpy as np

from big_data_science_project_spark.sources.cells import _gen_image

FEATURES = ("area", "perimeter", "mean_intensity", "circularity")
THRESHOLDS = (100.0, 200.0, 300.0, 400.0, 500.0)


def _close(a, b, rel: float = 1e-9, abs_: float = 1e-9) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)


def images(lo: int, hi: int, c: int, w: int, h: int):
    """(ids, data[n, c, w*h], ground-truth mask[n, c, w*h])."""
    ids = np.arange(lo, hi, dtype=np.int64)
    data = np.empty((len(ids), c, w * h))
    mask = np.empty((len(ids), c, w * h), dtype=bool)
    for i, image_id in enumerate(ids):
        d, m = _gen_image(int(image_id), c, w, h)
        data[i], mask[i] = d.reshape(c, -1), m.reshape(c, -1)
    return ids, data, mask


def _perimeter(m: np.ndarray) -> int:
    """Foreground pixels' 4-neighbours that are inside the image and
    background. Padding with foreground makes out-of-image neighbours
    never count."""
    p = np.pad(m, 1, constant_values=True)
    inner = p[1:-1, 1:-1]
    return int(sum((inner & ~nb).sum() for nb in
                   (p[:-2, 1:-1], p[2:, 1:-1], p[1:-1, :-2], p[1:-1, 2:])))


# -------------------------------------------------------- ifc_segment_archive
def _bacc(gt: np.ndarray, pred: np.ndarray) -> np.ndarray:
    """Balanced accuracy per row; an empty class scores rate 1."""
    tp = (gt & pred).sum(-1)
    fn = (gt & ~pred).sum(-1)
    tn = (~gt & ~pred).sum(-1)
    fp = (~gt & pred).sum(-1)
    tpr = np.where(tp + fn > 0, tp / np.maximum(tp + fn, 1), 1.0)
    tnr = np.where(tn + fp > 0, tn / np.maximum(tn + fp, 1), 1.0)
    return (tpr + tnr) / 2.0


def _features(m: np.ndarray, d: np.ndarray, w: int, h: int) -> tuple:
    """(area, perimeter, mean intensity outside the mask, circularity)."""
    area = int(m.sum())
    per = _perimeter(m.reshape(w, h))
    bg = int((~m).sum())
    # sequential left fold, the order the engine's aggregate uses
    total = float(np.cumsum(np.where(m, 0.0, d))[-1])
    return (area, per, total / bg if bg else None,
            4.0 * math.pi * area / (per * per) if per else 0.0)


def segment_expected(lo: int, hi: int, c: int, w: int, h: int) -> dict:
    ids, data, mask = images(lo, hi, c, w, h)
    best = {}
    for ch in range(c):
        # exact sums: the engine takes the argmax on an exact decimal sum,
        # ties going to the larger threshold
        sums = [(sum(map(Fraction, _bacc(mask[:, ch], data[:, ch] >= t))), t)
                for t in THRESHOLDS]
        total, thr = max(sums)
        best[ch] = (thr, round(float(total) / len(ids), 6))
    thr = np.array([best[ch][0] for ch in range(c)])
    pred = data >= thr[None, :, None]
    return {
        "n": len(ids),
        "best": best,
        "features": {(int(i), ch): _features(pred[k, ch], data[k, ch], w, h)
                     for k, i in enumerate(ids) for ch in range(c)},
        "data_sum": {(int(i), ch): float(np.cumsum(data[k, ch])[-1])
                     for k, i in enumerate(ids) for ch in range(c)},
        "bacc": {ch: float(np.mean(_bacc(mask[:, ch], pred[:, ch])))
                 for ch in range(c)},
    }


def check_segment(result: dict, want: dict) -> list[str]:
    problems = []
    if result["manifest_rows"] != want["n"]:
        problems.append(f"manifest n_rows {result['manifest_rows']} != "
                        f"{want['n']}")
    for ch, (thr, bacc) in want["best"].items():
        gthr, gbacc = result["best"].get(ch, (None, None))
        if gthr != thr or not _close(gbacc, bacc, abs_=1.01e-6):
            problems.append(f"channel {ch} best {(gthr, gbacc)} != "
                            f"{(thr, bacc)}")
    got_f = result["features"]
    if got_f.keys() != want["features"].keys():
        problems.append(f"{len(got_f)} scored image channels != "
                        f"{len(want['features'])}")
    else:
        bad = [k for k, v in want["features"].items()
               if got_f[k][:2] != v[:2] or not all(
                   _close(a, b, rel=1e-12, abs_=0.0)
                   for a, b in zip(got_f[k][2:], v[2:]))]
        if bad:
            problems.append(f"features of {len(bad)} image channels differ,"
                            f" first {bad[0]}: {got_f[bad[0]]} != "
                            f"{want['features'][bad[0]]}")
    got_sum = result["data_sum"]
    if got_sum.keys() != want["data_sum"].keys() or any(
            got_sum[k] != v for k, v in want["data_sum"].items()):
        problems.append("decoded pixels differ from the written ones")
    for ch, bacc in want["bacc"].items():
        if not _close(result["bacc"].get(ch), bacc):
            problems.append(f"channel {ch} archived accuracy "
                            f"{result['bacc'].get(ch)} != {bacc}")
    return problems


# ------------------------------------------------------------ star_relational
def _norm(v):
    if isinstance(v, (float, np.floating, Decimal)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, np.generic):
        return v.item()  # numpy integer or bool
    return v


def rows_of(df) -> list[tuple]:
    """Rows of a pandas frame as tuples over its columns sorted by name,
    sorted, with floats, decimals and numpy scalars normalised."""
    cols = sorted(df.columns)
    rows = [tuple(_norm(v) for v in r)
            for r in df[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=lambda r: tuple(
        (x is None, round(x, 6) if isinstance(x, float) else x) for x in r))


def star_expected(data_dir: str, tables, oracles: dict[str, str]) -> dict:
    """Each oracle's rows (see :func:`rows_of`) over DuckDB views of the
    parquet tables, plus the number of distinct order keys (the ids the
    outlier votes cover)."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        out = {name: rows_of(con.sql(sql).df())
               for name, sql in oracles.items()}
        out["_ids"] = con.sql(
            "SELECT COUNT(DISTINCT l_orderkey) FROM lineitem").fetchone()[0]
    finally:
        con.close()
    return out


def check_star(result: dict, want: dict) -> list[str]:
    problems = []
    for name, rows in result.items():
        exp = want[name]
        if len(rows) != len(exp):
            problems.append(f"{name}: {len(rows)} rows != {len(exp)}")
            continue
        bad = sum(1 for a, b in zip(rows, exp) if len(a) != len(b) or not all(
            _close(x, y) if isinstance(y, float) else x == y
            for x, y in zip(a, b)))
        if bad:
            problems.append(f"{name}: {bad} of {len(exp)} rows differ")
    return problems
