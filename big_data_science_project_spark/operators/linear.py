"""Distributed linear-model training over ``embeddings`` — ridge
regression by single-pass normal equations, the one-scan pattern that
scales to 100 TB (reference has no trainable model beyond per-image
KMeans, ``image_masking.py:116-138``; this is the engine-mandated ML
surface for tabular/embedding features).

Shape: each task computes its partition's partial Gram matrix
``X^T X`` and moment vector ``X^T y`` with one ``np.einsum`` per Arrow
batch (``mapInPandas``); the shuffle then carries only
``partitions x D(D+1)/2`` partial cells — never the rows. The D×D solve
happens driver-side (``np.linalg.solve`` on a 64×64 system — index-build
time, like IVF centroids). That is exactly how large-scale closed-form
models (ridge, OLS, covariance/PCA) are trained on clusters.

Cross-engine exactness: float sums are order-dependent, so partial
aggregation would not be oracle-reproducible in doubles. Instead every
per-row product is quantized to integer MICROS first —
``floor(x_i·x_j·1e6 + 0.5)`` — and int64 sums are associative and
exact at any partitioning. Both engines evaluate the identical IEEE
double expression before the floor, so each quantized cell matches
bit-for-bit. |x_i·x_j| ≤ ~1e2 and n ≤ 1e7 keeps the int64 far from
overflow at any tested SF.

Lloyd's assignment (``_lloyd_assign``) has one plan: every centroid
inlines as a literal struct in one ``array_min`` expression, evaluated
interpreted at N × K × D steps. Codebooks far above the fixtures' K·D =
8 × 64 (hundreds of centroids) are not a supported workload; no
fixture, test or registry query builds one.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table

QUERIES: dict = {}

DIM = 64
SCALE = 1_000_000.0
RIDGE_L2 = 1.0


_GRAM_IU, _GRAM_JU = np.triu_indices(DIM)
#: rows per product chunk: bounds the chunk x D(D+1)/2 pair buffers to
#: ~4 MB each. Small chunks matter twice: they stay cache-resident, and
#: together with the preallocated+reused buffers below they bound the
#: kernel's FRESH page footprint to ~13 MB per task — the r14 shape
#: (throwaway 34 MB temporaries per chunk, ~170 MB of first-touch pages
#: per cold worker) spent seconds in page faults on hosts where fresh
#: memory faults in slowly, which is pure overhead at any scale
_GRAM_CHUNK = 256


def _partial_gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    iu, ju = _GRAM_IU, _GRAM_JU
    npair = len(iu)
    # buffers allocated ONCE per task and reused across chunks and
    # batches: every op below writes in place, so the only per-chunk
    # allocations are the two D-sized partial-sum rows
    pa = np.empty((_GRAM_CHUNK, npair), dtype=np.float64)
    pb = np.empty((_GRAM_CHUNK, npair), dtype=np.float64)
    pq = np.empty((_GRAM_CHUNK, npair), dtype=np.int64)
    xa = np.empty((_GRAM_CHUNK, DIM), dtype=np.float64)
    xq = np.empty((_GRAM_CHUNK, DIM), dtype=np.int64)
    for pdf in batches:
        if len(pdf) == 0:
            continue
        m = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        y = pdf["label"].to_numpy(dtype=np.float64)
        # per-row quantized UPPER-TRIANGLE products, THEN the exact
        # integer sum — the gram is symmetric, so taking (iu, ju) pairs
        # evaluates each needed IEEE product once; the in-place sequence
        # (a*b, *SCALE, +0.5, floor, int64 cast) is operation-for-
        # operation the expression np.floor(a*b*SCALE + 0.5)
        # .astype(int64) evaluated, so every cell is bit-identical to
        # the temporary-per-op form; int64 sums are associative, so the
        # row chunking changes no value
        gq = np.zeros(npair, dtype=np.int64)
        xty = np.zeros(DIM, dtype=np.int64)
        for s in range(0, len(m), _GRAM_CHUNK):
            c = m[s:s + _GRAM_CHUNK]
            k = len(c)
            av, bv, qv = pa[:k], pb[:k], pq[:k]
            np.take(c, iu, axis=1, out=av)
            np.take(c, ju, axis=1, out=bv)
            av *= bv
            av *= SCALE
            av += 0.5
            np.floor(av, out=av)
            np.copyto(qv, av, casting="unsafe")     # same C cast as astype
            gq += qv.sum(axis=0)                    # D(D+1)/2
            xv, xiv = xa[:k], xq[:k]
            np.multiply(c, y[s:s + k, None], out=xv)
            xv *= SCALE
            xv += 0.5
            np.floor(xv, out=xv)
            np.copyto(xiv, xv, casting="unsafe")
            xty += xiv.sum(axis=0)                  # D
        yield pd.DataFrame({
            "i": np.concatenate([iu, np.arange(DIM)]),
            "j": np.concatenate([ju, np.full(DIM, -1)]),
            "cell_micros": np.concatenate([gq, xty]),
        })


def ml_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, j, cell_micros): upper-triangle X^T X cells, plus X^T y as
    j = -1 rows — the complete sufficient statistics for ridge/OLS."""
    e = load_table(spark, sf_dir, "embeddings").select("embedding", "label")
    partials = e.mapInPandas(
        _partial_gram, "i int, j int, cell_micros bigint")
    return (partials.groupBy("i", "j")
            .agg(F.sum("cell_micros").alias("cell_micros")))


QUERIES["ml_gram_matrix"] = (ml_gram_matrix, f"""
WITH idx AS (SELECT unnest(generate_series(1, {DIM})) AS i)
SELECT a.i - 1 AS i, b.i - 1 AS j,
       CAST(SUM(CAST(floor(CAST(e.embedding[a.i] AS DOUBLE)
                           * CAST(e.embedding[b.i] AS DOUBLE)
                           * {SCALE} + 0.5) AS BIGINT)) AS BIGINT)
         AS cell_micros
FROM embeddings e, idx a, idx b
WHERE a.i <= b.i
GROUP BY a.i, b.i
UNION ALL
SELECT i - 1 AS i, -1 AS j,
       CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * label
                           * {SCALE} + 0.5) AS BIGINT)) AS BIGINT)
FROM embeddings, idx
GROUP BY i
""")


def ridge_fit(spark: SparkSession, sf_dir: str,
              l2: float = RIDGE_L2) -> np.ndarray:
    """Solve (X^T X + λI) w = X^T y from the distributed sufficient
    statistics; the only driver-side math is the 64×64 solve."""
    rows = ml_gram_matrix(spark, sf_dir).collect()
    xtx = np.zeros((DIM, DIM))
    xty = np.zeros(DIM)
    for r in rows:
        if r.j == -1:
            xty[r.i] = r.cell_micros / SCALE
        else:
            xtx[r.i, r.j] = xtx[r.j, r.i] = r.cell_micros / SCALE
    return np.linalg.solve(xtx + l2 * np.eye(DIM), xty)


def ridge_predict_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score the corpus with the fitted 64-dim weights: one broadcast of
    the weight vector, one map-side pandas UDF pass — train is a scan,
    predict is a scan, nothing else moves. NOT in the registry (the
    64×64 solve is not SQL-expressible); tests/test_linear.py pins
    predictions against an in-memory numpy ridge on the same fixture.
    The registry's oracled `ml_ridge_predict` below demonstrates the
    identical train→broadcast→score pipeline fully in-plan on a
    3-feature model."""
    w = ridge_fit(spark, sf_dir)

    @F.pandas_udf("double")
    def score(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series(np.zeros(0))
        m = np.asarray(emb.tolist(), dtype=np.float64)
        return pd.Series(m @ w)

    e = load_table(spark, sf_dir, "embeddings")
    return (e.select("vec_id", "label",
                     F.round(score("embedding"), 6).alias("pred"))
            .withColumn("abs_err",
                        F.round(F.abs(F.col("pred") - F.col("label")), 6)))


# ---------------------------------------------------------------------------
# Oracled ridge + PCA (promoted from rows-only): both reduce to the
# module's proven pattern — integer-exact sufficient statistics, then a
# closed-form solve INSIDE the plan, with every arithmetic step written
# once as a dialect-neutral SQL string evaluated verbatim by BOTH Spark
# (selectExpr) and DuckDB (CTE chain). Shared strings rule out
# expression-tree drift; the algebra itself is pinned independently
# against numpy (tests/test_linear.py — the IRLS lesson: an oracle that
# mirrors the engine's algebra proves equality, not correctness).
#
# ml_ridge_predict: 3-feature ridge (first three embedding dims,
# quantized to micros like the IRLS features). Gram cells are exact
# BIGINT sums of micro-products, the (G + λI) w = X^T y solve is the
# same cramer3 cofactor expansion the IRLS trainer uses (evaluated
# symbolically into SQL), the 1-row weight table broadcasts back onto
# the corpus, and scoring is a BIGINT dot product — train is a scan,
# predict is a scan, and every value is bit-reproducible cross-engine.
# The 64-dim production variant stays as ridge_fit/ridge_predict_full
# (golden-tested); only the solve width differs.
# ---------------------------------------------------------------------------
RIDGE_D = 3


def cramer3(c):
    """Cramer's-rule numerators + determinant for the symmetric 3x3
    system H d = g, over a dict of Column / float / _Sym operands named
    h11..h33 / g1..g3. Module-level so the unit suite can evaluate the
    SAME expressions against numpy on random systems — the algebra here
    once carried a wrong cofactor that oracle equality could not see
    (the oracle mirrored it); tests/test_linear.py now pins it."""
    det = (c["h11"] * (c["h22"] * c["h33"] - c["h23"] * c["h23"])
           - c["h12"] * (c["h12"] * c["h33"] - c["h23"] * c["h13"])
           + c["h13"] * (c["h12"] * c["h23"] - c["h22"] * c["h13"]))
    d1 = (c["g1"] * (c["h22"] * c["h33"] - c["h23"] * c["h23"])
          - c["h12"] * (c["g2"] * c["h33"] - c["h23"] * c["g3"])
          + c["h13"] * (c["g2"] * c["h23"] - c["h22"] * c["g3"]))
    d2 = (c["h11"] * (c["g2"] * c["h33"] - c["g3"] * c["h23"])
          - c["g1"] * (c["h12"] * c["h33"] - c["h23"] * c["h13"])
          + c["h13"] * (c["h12"] * c["g3"] - c["g2"] * c["h13"]))
    d3 = (c["h11"] * (c["h22"] * c["g3"] - c["h23"] * c["g2"])
          - c["h12"] * (c["h12"] * c["g3"] - c["g2"] * c["h13"])
          + c["g1"] * (c["h12"] * c["h23"] - c["h22"] * c["h13"]))
    return d1, d2, d3, det


class _Sym:
    """Symbolic operand: feeds cramer3 to emit its EXACT expression tree
    as SQL text (same parenthesization both engines evaluate)."""
    __slots__ = ("s",)

    def __init__(self, s: str):
        self.s = s

    def __add__(self, o):
        return _Sym(f"({self.s} + {o.s})")

    def __sub__(self, o):
        return _Sym(f"({self.s} - {o.s})")

    def __mul__(self, o):
        return _Sym(f"({self.s} * {o.s})")


def _feats3(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # element_at is 1-based like DuckDB's list index (Spark's `arr[j]`
    # is 0-based — the one asymmetry the shared strings can't cover)
    return e.selectExpr("vec_id", "label", *[
        f"CAST(ROUND(CAST(element_at(embedding, {j}) AS DOUBLE) * 1e6)"
        f" AS BIGINT) AS x{j}m" for j in range(1, RIDGE_D + 1)])


_FEATS3_SQL = """
  SELECT vec_id, label,
         CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT) AS x1m,
         CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 1e6) AS BIGINT) AS x2m,
         CAST(ROUND(CAST(embedding[3] AS DOUBLE) * 1e6) AS BIGINT) AS x3m
  FROM embeddings
"""

# exact BIGINT sufficient statistics (DuckDB SUM(BIGINT) is HUGEINT —
# the CAST normalizes; Spark's is already BIGINT)
_GRAM3_AGG = tuple(
    f"CAST(SUM(x{i}m * x{j}m) AS BIGINT) AS s{i}{j}"
    for i in range(1, RIDGE_D + 1) for j in range(i, RIDGE_D + 1))
_RIDGE_AGG = _GRAM3_AGG + tuple(
    f"CAST(SUM(x{i}m * label) AS BIGINT) AS b{i}"
    for i in range(1, RIDGE_D + 1))

# H = G + λI and g = X^T y in model units: micro-product cells carry
# a 1e12 scale, the label moment a 1e6 scale
_RIDGE_HG = (
    f"CAST(s11 AS DOUBLE) / 1e12 + {RIDGE_L2} AS h11",
    "CAST(s12 AS DOUBLE) / 1e12 AS h12",
    "CAST(s13 AS DOUBLE) / 1e12 AS h13",
    f"CAST(s22 AS DOUBLE) / 1e12 + {RIDGE_L2} AS h22",
    "CAST(s23 AS DOUBLE) / 1e12 AS h23",
    f"CAST(s33 AS DOUBLE) / 1e12 + {RIDGE_L2} AS h33",
    "CAST(b1 AS DOUBLE) / 1e6 AS g1",
    "CAST(b2 AS DOUBLE) / 1e6 AS g2",
    "CAST(b3 AS DOUBLE) / 1e6 AS g3",
)

_D1, _D2, _D3, _DET = cramer3({k: _Sym(k) for k in
                               ("h11", "h12", "h13", "h22", "h23", "h33",
                                "g1", "g2", "g3")})
_RIDGE_W = tuple(
    f"CAST(ROUND({d.s} / {_DET.s} * 1e6) AS BIGINT) AS w{k}m"
    for k, d in enumerate((_D1, _D2, _D3)))

_PRED_RAW = ("CAST(x1m * w0m + x2m * w1m + x3m * w2m AS DOUBLE) / 1e12"
             " AS pred_raw")
_PRED_OUT = ("vec_id", "label", "ROUND(pred_raw, 6) AS pred",
             "ROUND(ABS(ROUND(pred_raw, 6) - label), 6) AS abs_err")


def ml_ridge_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _feats3(spark, sf_dir)
    w = (feats.selectExpr(*_RIDGE_AGG)
         .selectExpr(*_RIDGE_HG)
         .selectExpr(*_RIDGE_W))
    return (feats.crossJoin(F.broadcast(w))
            .selectExpr("vec_id", "label", _PRED_RAW)
            .selectExpr(*_PRED_OUT))


QUERIES["ml_ridge_predict"] = (ml_ridge_predict, f"""
WITH feats AS ({_FEATS3_SQL}),
agg AS (SELECT {", ".join(_RIDGE_AGG)} FROM feats),
hg AS (SELECT {", ".join(_RIDGE_HG)} FROM agg),
w AS (SELECT {", ".join(_RIDGE_W)} FROM hg),
scored AS (
  SELECT f.vec_id, f.label, {_PRED_RAW.replace("x1m", "f.x1m")
                             .replace("x2m", "f.x2m")
                             .replace("x3m", "f.x3m")
                             .replace("w0m", "w.w0m")
                             .replace("w1m", "w.w1m")
                             .replace("w2m", "w.w2m")}
  FROM feats f, w)
SELECT {", ".join(_PRED_OUT)} FROM scored
""")


# ---------------------------------------------------------------------------
# ml_pca_spectrum: eigen-spectrum of the 3×3 uncentered second-moment
# matrix of the same three features, via the closed form for symmetric
# 3×3 matrices (trace-deviator + trigonometric cubic root — Smith 1961,
# "Eigenvalues of a symmetric 3×3 matrix"): q = tr/3, p from the
# deviator norm, φ = acos(det(B)/2)/3, λ₁ = q + 2p·cos(φ),
# λ₃ = q + 2p·cos(φ + 2π/3), λ₂ = 3q − λ₁ − λ₃ (descending order is
# structural). Every step is one shared SQL string; the only
# non-correctly-rounded IEEE ops are ACOS/COS (≤1 ulp libm variance,
# invisible at the 6-dp output round — and the multi-config selfcheck
# would surface a boundary hit). The 64-dim top-8 spectrum stays as
# pca_spectrum_full (golden-tested vs numpy eigvalsh).
# ---------------------------------------------------------------------------
PCA_TOP_K = 8

_PCA_AGG = _GRAM3_AGG + ("CAST(COUNT(*) AS BIGINT) AS n",)
_PCA_A = tuple(
    f"CAST(s{i}{j} AS DOUBLE) / 1e12 / CAST(n AS DOUBLE) AS a{i}{j}"
    for i in range(1, RIDGE_D + 1) for j in range(i, RIDGE_D + 1))
_PCA_STEPS = (
    ("(a11 + a22 + a33) / 3.0 AS q",
     "a12 * a12 + a13 * a13 + a23 * a23 AS p1",
     "a11 + a22 + a33 AS tr"),
    ("(a11 - q) * (a11 - q) + (a22 - q) * (a22 - q)"
     " + (a33 - q) * (a33 - q) + 2.0 * p1 AS p2",),
    ("CASE WHEN p2 <= 0.0 THEN 0.0 ELSE SQRT(p2 / 6.0) END AS p",),
    ("CASE WHEN p = 0.0 THEN 0.0 ELSE (a11 - q) / p END AS b11",
     "CASE WHEN p = 0.0 THEN 0.0 ELSE a12 / p END AS b12",
     "CASE WHEN p = 0.0 THEN 0.0 ELSE a13 / p END AS b13",
     "CASE WHEN p = 0.0 THEN 0.0 ELSE (a22 - q) / p END AS b22",
     "CASE WHEN p = 0.0 THEN 0.0 ELSE a23 / p END AS b23",
     "CASE WHEN p = 0.0 THEN 0.0 ELSE (a33 - q) / p END AS b33"),
    ("b11 * (b22 * b33 - b23 * b23) - b12 * (b12 * b33 - b23 * b13)"
     " + b13 * (b12 * b23 - b22 * b13) AS detb",),
    ("ACOS(LEAST(GREATEST(detb / 2.0, -1.0), 1.0)) / 3.0 AS phi",),
    ("q + 2.0 * p * COS(phi) AS eig1",
     "q + 2.0 * p * COS(phi + 2.0943951023931953) AS eig3"),
    ("3.0 * q - eig1 - eig3 AS eig2",),
)


def ml_pca_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _feats3(spark, sf_dir).selectExpr(*_PCA_AGG).selectExpr(*_PCA_A)
    for step in _PCA_STEPS:
        df = df.selectExpr("*", *step)
    return (df.selectExpr(
        "explode(array(struct(0 AS component, eig1 AS ev),"
        " struct(1 AS component, eig2 AS ev),"
        " struct(2 AS component, eig3 AS ev))) AS s", "tr")
        .selectExpr("s.component AS component",
                    "ROUND(s.ev, 6) AS eigenvalue",
                    "ROUND(s.ev / tr, 6) AS explained_frac"))


def _pca_sql() -> str:
    ctes = [f"feats AS ({_FEATS3_SQL})",
            f"agg AS (SELECT {', '.join(_PCA_AGG)} FROM feats)",
            f"a0 AS (SELECT {', '.join(_PCA_A)} FROM agg)"]
    prev = "a0"
    for k, step in enumerate(_PCA_STEPS):
        ctes.append(f"t{k} AS (SELECT *, {', '.join(step)} FROM {prev})")
        prev = f"t{k}"
    rows = "\nUNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS component,"
        f" ROUND(eig{e}, 6) AS eigenvalue,"
        f" ROUND(eig{e} / tr, 6) AS explained_frac FROM {prev}"
        for k, e in ((0, 1), (1, 2), (2, 3)))
    return "WITH " + ",\n".join(ctes) + "\n" + rows


QUERIES["ml_pca_spectrum"] = (ml_pca_spectrum, _pca_sql())


def pca_spectrum_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PCA_TOP_K spectrum of the full 64-dim second-moment matrix
    from the distributed ml_gram_matrix cells (driver-side eigvalsh on
    the 64×64 — index-build-sized, like ridge_fit). NOT in the registry
    (the 64×64 eigen solve is not SQL-expressible); golden-tested."""
    rows = ml_gram_matrix(spark, sf_dir).collect()
    xtx = np.zeros((DIM, DIM))
    for r in rows:
        if r.j >= 0:
            xtx[r.i, r.j] = xtx[r.j, r.i] = r.cell_micros / SCALE
    n = load_table(spark, sf_dir, "embeddings").count()
    evals = np.linalg.eigvalsh(xtx / n)[::-1][:PCA_TOP_K]
    total = float(np.trace(xtx) / n)
    out = [(k, round(float(v), 6), round(float(v / total), 6))
           for k, v in enumerate(evals)]
    return spark.createDataFrame(
        out, "component int, eigenvalue double, explained_frac double")


# ---------------------------------------------------------------------------
# Distributed Lloyd's k-means over embeddings — the cluster-scale form of
# the reference's per-image KMeans (image_masking.py:116-138; MLlib twin:
# segmentation.cells_kmeans_mllib). Each iteration is one map-only
# assignment pass (centroids inlined as literals — the broadcast-variable
# pattern, like IVF's collected centroid table) plus one groupBy-K
# aggregation; the corpus never shuffles wider than K×(D+1) cells.
#
# Cross-engine exactness (the reason this has a full value oracle, which
# float k-means can never have): embeddings quantize to integer micros —
# floor(x·1e6 + 0.5), the module's standard — distances are int64 sums
# of squares (associative, partition-order-free), centroid updates are
# integer truncating division (Spark `div` == DuckDB `//` == the
# explicit trunc in the driver loop), and ties break on the lower
# centroid id. Every assignment, centroid, and inertia value is
# therefore bit-identical in Spark, DuckDB, and the driver at ANY
# parallelism. The collected per-iteration state is K rows of D ints —
# bounded index-build state, not a data collect.
# ---------------------------------------------------------------------------
KM_K = 4
KM_ITERS = 2


def _km_quant(e: DataFrame) -> DataFrame:
    return e.select("vec_id", F.expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 1000000"
        " + 0.5) as bigint))").alias("em"))


def _km_trunc_div(s: int, n: int) -> int:
    q = abs(s) // n
    return q if s >= 0 else -q


def _lloyd_assign(pts: DataFrame, cents: dict) -> DataFrame:
    """One map-only assignment pass: per point, the (distance², cid)
    struct of its nearest centroid; ties break on the LOWER cid.

    Each centroid inlines as a literal struct inside one array_min
    expression — pure JVM, no Python worker round-trip. All arithmetic
    is EXACT int64 (micros in, squared diffs ≤ ~1e14 per term, sums far
    under 2^63), and struct ordering makes array_min break ties to the
    lower cid."""
    # {cid}L: a LONG literal, so the struct's cid field is BIGINT (a
    # full-width checksum hashes int32 and int64 differently even when
    # every value prints the same)
    structs = ", ".join(
        "struct(aggregate(zip_with(em, array({vals}), (a, b) ->"
        " (a - b) * (a - b)), 0L, (acc, v) -> acc + v) as d,"
        " {cid}L as cid)".format(
            vals=", ".join(f"{v}L" for v in cents[cid]), cid=cid)
        for cid in sorted(cents))
    return pts.select(
        "vec_id", "em",
        F.expr(f"array_min(array({structs}))").alias("best"))


def lloyd_iterations(pts: DataFrame, cents: dict, iters: int) -> dict:
    """``iters`` Lloyd's rounds over integer-micro points ``pts``
    (vec_id, em) from initial centroids ``cents`` ({cid: [int micros]});
    returns the final centroid dict. Exact integer arithmetic
    throughout (see block comment above) — shared by the kmeans query
    and the trained ANN codebook (operators/similarity.py), so the
    update rule exists once. A cluster that captures no points in a
    round drops out of the dict (standard Lloyd's death; both mirrors
    reproduce it). Caller persists ``pts`` — it is read every round."""
    # ONE parsed array-of-sums aggregate, built once and reused every
    # round (r15): the per-column form (count + DIM separate
    # F.sum(em[j]) Columns) paid ~0.4 s of Py4J round-trips PER
    # ITERATION just constructing the plan — pure driver latency, the
    # bloom-literal lesson (functions/bloom.py) applied to the
    # aggregation list. The sums are the identical AggregateExpressions
    # either way; array() only packages them, so every count and every
    # truncating-division update is unchanged.
    sums_expr = F.expr(
        "array(" + ", ".join(f"sum(em[{j}])" for j in range(DIM)) + ")"
    ).alias("s")
    n_expr = F.expr("count(1)").alias("n")
    for _ in range(iters):
        sums = (_lloyd_assign(pts, cents)
                .groupBy(F.col("best.cid").alias("cid"))
                .agg(n_expr, sums_expr)
                .collect())
        cents = {r["cid"]: [_km_trunc_div(s, r["n"]) for s in r["s"]]
                 for r in sums}
    return cents


def ml_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus-sized and read every Lloyd's round: spill to disk on memory
    # pressure rather than evict-and-requantize (MEMORY_AND_DISK_DESER,
    # PySpark's DataFrame default, pinned explicitly)
    pts = _km_quant(load_table(spark, sf_dir, "embeddings")).persist(
        StorageLevel.MEMORY_AND_DISK_DESER)
    cents = {r["vec_id"]: list(r["em"])
             for r in pts.filter(F.col("vec_id") < KM_K).collect()}
    cents = lloyd_iterations(pts, cents, KM_ITERS)

    return (_lloyd_assign(pts, cents)
            .groupBy(F.col("best.cid").alias("cluster_id"))
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.sum("best.d").cast("bigint").alias("inertia_u2"))
            .orderBy("cluster_id"))


_LLOYD_DIST_SQL = (
    "CAST(list_aggregate(list_transform(generate_series(1, {dim}),"
    " j -> (p.em[j] - c.cm[j]) * (p.em[j] - c.cm[j])), 'sum')"
    " AS BIGINT)").format(dim=DIM)

_KM_PTS_SQL = """
  SELECT vec_id, list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
           AS em
  FROM embeddings"""


def lloyd_sql_iter_ctes(iters: int) -> str:
    """The per-iteration CTE chunks (a{i}, u{i}, c{i+1}) of the exact
    integer Lloyd's — assumes CTEs ``pts(vec_id, em)`` and
    ``c0(cid, cm)`` are already defined; the chain ends at
    ``c{iters}(cid, cm)``. Shared by the kmeans oracle and the trained
    ANN codebook oracle so the update rule has one SQL source too."""
    parts = []
    for i in range(iters):
        parts.append(f""",
a{i} AS (
  SELECT p.vec_id, p.em, c.cid, {_LLOYD_DIST_SQL} AS d,
         ROW_NUMBER() OVER (PARTITION BY p.vec_id
                            ORDER BY {_LLOYD_DIST_SQL}, c.cid) AS rn
  FROM pts p, c{i} c),
u{i} AS (
  SELECT cid, j, CAST(SUM(em[j]) AS BIGINT) AS s, COUNT(*) AS n
  FROM a{i}, generate_series(1, {DIM}) AS g(j)
  WHERE rn = 1 GROUP BY cid, j),
c{i + 1} AS (
  SELECT cid, list(s // n ORDER BY j) AS cm
  FROM u{i} GROUP BY cid)""")
    return "".join(parts)


def _km_sql() -> str:
    parts = [f"""
WITH pts AS ({_KM_PTS_SQL}),
c0 AS (SELECT vec_id AS cid, em AS cm FROM pts WHERE vec_id < {KM_K})"""]
    parts.append(lloyd_sql_iter_ctes(KM_ITERS))
    parts.append(f""",
af AS (
  SELECT p.vec_id, c.cid, {_LLOYD_DIST_SQL} AS d,
         ROW_NUMBER() OVER (PARTITION BY p.vec_id
                            ORDER BY {_LLOYD_DIST_SQL}, c.cid) AS rn
  FROM pts p, c{KM_ITERS} c)
SELECT cid AS cluster_id, COUNT(*) AS n_points,
       CAST(SUM(d) AS BIGINT) AS inertia_u2
FROM af WHERE rn = 1
GROUP BY cid
ORDER BY cluster_id""")
    return "".join(parts)


QUERIES["ml_kmeans_lloyd"] = (ml_kmeans_lloyd, _km_sql())


# ---------------------------------------------------------------------------
# Exact AUC (Mann-Whitney) — the eval metric a training pipeline runs
# after every probe/classifier fit, computed distributed and EXACTLY:
# scores are integer-micro projections of the embeddings (deterministic
# pseudo-random weights, same recipe as the LSH hyperplanes), ranks come
# from one global sort window, ties use average ranks via the
# (min+max)-of-tie-group identity kept in INTEGER form (2·avg_rank =
# min_rn + max_rn), so the entire statistic is integer arithmetic until
# one final division — bit-identical at any parallelism, full oracle.
# At 100 TB the single global sort is the cost (as for any exact AUC);
# the standard approximation is a fixed-grid score histogram (the
# histogram operator) feeding the same rank formula.
# ---------------------------------------------------------------------------
AUC_POS_MIN = 5  # labels 0-9 → positives are 5..9


def _auc_score_expr() -> str:
    # the index is cast to BIGINT before the multiply: the transform
    # lambda's i is INT, and i * 19349663 overflows 32 bits at i ≥ 111
    # (ANSI mode would error; non-ANSI would silently diverge from the
    # oracle, whose generate_series already yields BIGINT)
    return ("aggregate(transform(embedding, (x, i) ->"
            " cast(floor(cast(x as double) * 1000000 + 0.5) as bigint)"
            " * ((cast(i as bigint) * 19349663L + 83492791L) % 2001L"
            " - 1000L)),"
            " 0L, (acc, v) -> acc + v)")


def ml_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W
    e = load_table(spark, sf_dir, "embeddings")
    scored = e.select(
        "vec_id", (F.col("label") >= AUC_POS_MIN).alias("pos"),
        F.expr(_auc_score_expr()).alias("s"))
    rn = F.row_number().over(W.orderBy("s", "vec_id"))
    ranked = scored.select("pos", "s", rn.alias("rn"))
    grp = W.partitionBy("s")
    r2 = (F.min("rn").over(grp) + F.max("rn").over(grp)).alias("r2")
    agg = (ranked.select("pos", r2)
           .agg(F.sum(F.when(F.col("pos"), F.col("r2"))).alias("r2_pos"),
                F.sum(F.when(F.col("pos"), 1).otherwise(0)).alias("p"),
                F.sum(F.when(F.col("pos"), 0).otherwise(1)).alias("n")))
    return agg.select(
        F.col("p").cast("bigint").alias("n_pos"),
        F.col("n").cast("bigint").alias("n_neg"),
        F.round((F.col("r2_pos") - F.col("p") * (F.col("p") + 1))
                .cast("double")
                / (F.lit(2.0) * F.col("p") * F.col("n")), 9).alias("auc"))


QUERIES["ml_auc_exact"] = (ml_auc_exact, f"""
WITH scored AS (
  SELECT vec_id, label >= {AUC_POS_MIN} AS pos,
         CAST(list_aggregate(list_transform(
            generate_series(1, len(embedding)),
            j -> CAST(FLOOR(CAST(embedding[j] AS DOUBLE) * 1000000 + 0.5)
                      AS BIGINT)
                 * (((j - 1) * 19349663 + 83492791) % 2001 - 1000)),
           'sum') AS BIGINT) AS s
  FROM embeddings),
ranked AS (
  SELECT pos, s, ROW_NUMBER() OVER (ORDER BY s, vec_id) AS rn FROM scored),
r2 AS (
  SELECT pos,
         MIN(rn) OVER (PARTITION BY s) + MAX(rn) OVER (PARTITION BY s) AS r2
  FROM ranked),
agg AS (
  SELECT CAST(SUM(CASE WHEN pos THEN r2 END) AS BIGINT) AS r2_pos,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p,
         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n
  FROM r2)
SELECT p AS n_pos, n AS n_neg,
       ROUND(CAST(r2_pos - p * (p + 1) AS DOUBLE) / (2.0 * p * n), 9) AS auc
FROM agg
""")


# ---------------------------------------------------------------------------
# Logistic regression by IRLS — the engine's iterative GLM trainer, and
# the proof that even a NONLINEAR iterative optimizer can carry a full
# value oracle. Model: P(y=1|x) = sigmoid(w0 + w1·x1 + w2·x2) over the
# first two embedding dims, y = label parity. Each IRLS step aggregates
# the 3×3 Hessian X^T W X and gradient X^T (y−p) as exact BIGINT sums of
# per-row integer-micro contributions (one round() per row after a
# deterministic double expression — the ml_gram_matrix convention), then
# solves the 3×3 system in closed form (cofactors) INSIDE the plan — no
# driver-side solve, so the whole two-step trainer is one SQL-mirrorable
# DAG. Step 1 starts at w=0 where p=0.5 exactly (no exp at all); step 2
# quantizes each row's sigmoid to micros before it enters any sum, so
# partition order can never leak into the result. Scale: two corpus
# passes (one per step), shuffle = 9 integer cells each; the weight
# vector re-enters as a 1-row broadcast.
# ---------------------------------------------------------------------------
def _lr_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        (F.col("label") % 2).cast("double").alias("y"),
        F.round(F.element_at("embedding", 1).cast("double") * 1e6)
        .cast("bigint").alias("x1m"),
        F.round(F.element_at("embedding", 2).cast("double") * 1e6)
        .cast("bigint").alias("x2m"))


_LR_FEATS_SQL = """
  SELECT CAST(label % 2 AS DOUBLE) AS y,
         CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT) AS x1m,
         CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 1e6) AS BIGINT) AS x2m
  FROM embeddings
"""

def ml_logreg_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = _lr_feats(spark, sf_dir)

    def step(fdf, w):
        """One IRLS aggregate given weight columns (micros) on fdf."""
        x1 = F.col("x1m").cast("double") / 1e6
        x2 = F.col("x2m").cast("double") / 1e6
        if w is None:
            pd_ = F.lit(0.5)
        else:
            # z = (w0m*1e6 + w1m*x1m + w2m*x2m) / 1e12: integer-exact
            # numerator (< 2^53), ONE division, then sigmoid; quantize
            # to micros before anything is summed
            z = (F.col("w0m") * F.lit(1_000_000)
                 + F.col("w1m") * F.col("x1m")
                 + F.col("w2m") * F.col("x2m")).cast("double") / F.lit(1e12)
            pd_ = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) * 1e6) / 1e6
        wgt = pd_ * (F.lit(1.0) - pd_)
        r = F.col("y") - pd_

        def q6(c):
            return F.round(c * 1e6).cast("bigint")

        return fdf.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(q6(wgt)).alias("h11"),
            F.sum(q6(x1 * wgt)).alias("h12"),
            F.sum(q6(x2 * wgt)).alias("h13"),
            F.sum(q6(x1 * x1 * wgt)).alias("h22"),
            F.sum(q6(x1 * x2 * wgt)).alias("h23"),
            F.sum(q6(x2 * x2 * wgt)).alias("h33"),
            F.sum(q6(r)).alias("g1"),
            F.sum(q6(x1 * r)).alias("g2"),
            F.sum(q6(x2 * r)).alias("g3"))

    def solve(agg, prev):
        """delta = H^-1 g via cofactors; new w = prev + delta (micros)."""
        c = {k: F.col(k).cast("double") for k in
             ("h11", "h12", "h13", "h22", "h23", "h33", "g1", "g2", "g3")}
        d1, d2, d3, det = cramer3(c)
        p0, p1, p2 = (F.lit(0), F.lit(0), F.lit(0)) if prev is None else (
            F.col("w0m"), F.col("w1m"), F.col("w2m"))
        return agg.select(
            "n",
            (p0 + F.round(d1 / det * 1e6)).cast("bigint").alias("w0m"),
            (p1 + F.round(d2 / det * 1e6)).cast("bigint").alias("w1m"),
            (p2 + F.round(d3 / det * 1e6)).cast("bigint").alias("w2m"))

    w1 = solve(step(feats, None), None)
    with_w = feats.crossJoin(F.broadcast(
        w1.select("w0m", "w1m", "w2m")))
    w2 = solve(step(with_w, True).crossJoin(
        F.broadcast(w1.select("w0m", "w1m", "w2m"))), True)
    return w2


def _logreg_sql() -> str:
    def step_sql(src, pd_expr):
        return f"""
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(ROUND((pd*(1-pd)) * 1e6) AS BIGINT)) AS BIGINT) AS h11,
         CAST(SUM(CAST(ROUND((x1*(pd*(1-pd))) * 1e6) AS BIGINT)) AS BIGINT) AS h12,
         CAST(SUM(CAST(ROUND((x2*(pd*(1-pd))) * 1e6) AS BIGINT)) AS BIGINT) AS h13,
         CAST(SUM(CAST(ROUND((x1*x1*(pd*(1-pd))) * 1e6) AS BIGINT)) AS BIGINT) AS h22,
         CAST(SUM(CAST(ROUND((x1*x2*(pd*(1-pd))) * 1e6) AS BIGINT)) AS BIGINT) AS h23,
         CAST(SUM(CAST(ROUND((x2*x2*(pd*(1-pd))) * 1e6) AS BIGINT)) AS BIGINT) AS h33,
         CAST(SUM(CAST(ROUND((y - pd) * 1e6) AS BIGINT)) AS BIGINT) AS g1,
         CAST(SUM(CAST(ROUND((x1*(y - pd)) * 1e6) AS BIGINT)) AS BIGINT) AS g2,
         CAST(SUM(CAST(ROUND((x2*(y - pd)) * 1e6) AS BIGINT)) AS BIGINT) AS g3
  FROM (SELECT *, CAST(x1m AS DOUBLE)/1e6 AS x1, CAST(x2m AS DOUBLE)/1e6 AS x2,
               {pd_expr} AS pd FROM {src}) s
"""

    # cofactor solve over DOUBLE-cast aggregates (the exact integers are
    # representable in double; DuckDB would overflow INT64 if the raw
    # BIGINTs were multiplied directly — the Spark side casts identically)
    cast_agg = ("(SELECT n, " + ", ".join(
        f"CAST({k} AS DOUBLE) AS {k}"
        for k in ("h11", "h12", "h13", "h22", "h23", "h33",
                  "g1", "g2", "g3")) + " FROM {src})")
    solve_cols = """
    CAST({p0} + ROUND((g1*(h22*h33 - h23*h23)
         - h12*(g2*h33 - h23*g3) + h13*(g2*h23 - h22*g3))
         / (h11*(h22*h33 - h23*h23) - h12*(h12*h33 - h23*h13)
            + h13*(h12*h23 - h22*h13)) * 1e6) AS BIGINT) AS w0m,
    CAST({p1} + ROUND((h11*(g2*h33 - g3*h23)
         - g1*(h12*h33 - h23*h13) + h13*(h12*g3 - g2*h13))
         / (h11*(h22*h33 - h23*h23) - h12*(h12*h33 - h23*h13)
            + h13*(h12*h23 - h22*h13)) * 1e6) AS BIGINT) AS w1m,
    CAST({p2} + ROUND((h11*(h22*g3 - h23*g2)
         - h12*(h12*g3 - g2*h13) + g1*(h12*h23 - h22*h13))
         / (h11*(h22*h33 - h23*h23) - h12*(h12*h33 - h23*h13)
            + h13*(h12*h23 - h22*h13)) * 1e6) AS BIGINT) AS w2m
"""
    pd2 = ("ROUND(1.0/(1.0 + EXP(-(CAST(w0m*1000000 + w1m*x1m + w2m*x2m "
           "AS DOUBLE)/1e12))) * 1e6)/1e6")
    return f"""
WITH feats AS ({_LR_FEATS_SQL}),
agg1 AS ({step_sql("feats", "0.5")}),
w1 AS (
  SELECT n, {solve_cols.format(p0="0", p1="0", p2="0")}
  FROM {cast_agg.format(src="agg1")}),
withw AS (SELECT f.*, w.w0m, w.w1m, w.w2m FROM feats f, w1 w),
agg2 AS ({step_sql("withw", pd2)})
SELECT a.n,
       {solve_cols.format(p0="w.w0m", p1="w.w1m", p2="w.w2m")}
FROM {cast_agg.format(src="agg2")} a, w1 w
"""


QUERIES["ml_logreg_irls"] = (ml_logreg_irls, _logreg_sql())


# ---------------------------------------------------------------------------
# Decision-stump learner — the histogram-based split search at the core
# of every distributed GBDT (LightGBM/XGBoost-style): explode each row
# into (feature, value) pairs, cross every candidate threshold from a
# FIXED grid (broadcast — the "histogram bins" that make tree learning
# one aggregate instead of a sort per feature), count (feature,
# threshold, side, label) cells in one partial+final aggregate, and
# pick the split whose majority-vote accuracy is highest. The 0-1-loss
# criterion keeps the whole search in exact BIGINT arithmetic (a
# Gini/entropy gain needs per-candidate rational comparisons); argmax
# tie-breaks are pinned (correct desc, feature, threshold). Shuffle =
# features × thresholds × 2 × 2 cells, independent of corpus size.
# ---------------------------------------------------------------------------
STUMP_FEATURES = 4
STUMP_THRESHOLDS_MICRO = tuple(
    int(t * 1e6) for t in (-0.3, -0.2, -0.1, 0.0, 0.1, 0.2, 0.3))


def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    feats = e.select(
        (F.col("label") % 2).cast("int").alias("y"),
        F.explode(F.array(*[
            F.struct(F.lit(j + 1).alias("j"),
                     F.round(F.element_at("embedding", j + 1)
                             .cast("double") * 1e6).cast("bigint")
                     .alias("xm"))
            for j in range(STUMP_FEATURES)])).alias("f"))
    feats = feats.select("y", "f.j", "f.xm")
    ths = F.explode(F.array(*[
        F.lit(t).cast("bigint") for t in STUMP_THRESHOLDS_MICRO]))
    cells = (feats.select("y", "j", "xm", ths.alias("t"))
             .groupBy("j", "t", (F.col("xm") <= F.col("t")).alias("left"),
                      "y")
             .agg(F.count(F.lit(1)).alias("c")))
    side_best = (cells.groupBy("j", "t", "left")
                 .agg(F.max("c").alias("best"), F.sum("c").alias("n")))
    scored = (side_best.groupBy("j", "t")
              .agg(F.sum("best").cast("bigint").alias("n_correct"),
                   F.sum("n").cast("bigint").alias("n_total")))
    from pyspark.sql import Window as W
    return (scored.withColumn(
        "rn", F.row_number().over(
            W.orderBy(F.desc("n_correct"), "j", "t")))
        .filter(F.col("rn") == 1)
        .select(F.col("j").alias("feature"),
                (F.col("t").cast("double") / 1e6).alias("threshold"),
                "n_correct", "n_total"))


_STUMP_TS = ", ".join(f"({t})" for t in STUMP_THRESHOLDS_MICRO)
_STUMP_FEATS = ", ".join(
    f"({j + 1}, CAST(ROUND(CAST(embedding[{j + 1}] AS DOUBLE) * 1e6) "
    f"AS BIGINT))" for j in range(STUMP_FEATURES))

QUERIES["ml_decision_stump"] = (ml_decision_stump, f"""
WITH feats AS (
  SELECT CAST(label % 2 AS INT) AS y, f.j, f.xm
  FROM embeddings,
       LATERAL (SELECT * FROM (VALUES {_STUMP_FEATS}) v(j, xm)) f(j, xm)),
cells AS (
  SELECT j, t.t, (xm <= t.t) AS lft, y, COUNT(*) AS c
  FROM feats, (VALUES {_STUMP_TS}) t(t)
  GROUP BY 1, 2, 3, 4),
side_best AS (
  SELECT j, t, lft, MAX(c) AS best, SUM(c) AS n
  FROM cells GROUP BY 1, 2, 3),
scored AS (
  SELECT j, t, CAST(SUM(best) AS BIGINT) AS n_correct,
         CAST(SUM(n) AS BIGINT) AS n_total
  FROM side_best GROUP BY 1, 2),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_correct DESC, j, t) AS rn
  FROM scored)
SELECT CAST(j AS INT) AS feature, CAST(t AS DOUBLE) / 1e6 AS threshold,
       n_correct, n_total
FROM ranked WHERE rn = 1
""")


# ---------------------------------------------------------------------------
# AdaBoost over decision stumps — the engine's boosted trainer, and the
# production shape of a corpus QUALITY CLASSIFIER (the fastText-style
# filter every LLM data pipeline trains: cheap per-doc features, a
# boosted thresholder, a margin score to gate admission). Three rounds,
# each fully in-plan:
#
#   1. candidate scoring — every (feature, threshold, polarity) stump's
#      WEIGHTED error as one conditional aggregate over a 24-way
#      candidate explode (map-side fan-out; the shuffle carries 24
#      groups of two BIGINT counters, nothing corpus-sized);
#   2. argmin stump + its vote weight α = ½·ln((1−ε)/ε), micro-rounded
#      — the 24-row candidate table is collected (the Lloyd's-codebook
#      convention: model state, candidate-grid-sized at any corpus
#      size; α is computed JVM-side inside the same aggregate so every
#      double op stays in the engine the oracles calibrate against);
#   3. exponential reweight w′ = round(w·e^{±α}) per row — the chosen
#      stump re-enters as plain literals, so the weight table never
#      joins anything — and the integer ensemble margin
#      Σ αᵗ_micro·hᵗ(x) ∈ ℤ.
#
# Exactness discipline (the IRLS/Lloyd's convention): sample weights
# LIVE as integer micros, so every weighted-error sum is an exact
# BIGINT — partition order can never leak in; the only doubles are
# per-row (one ln per round for α, one exp per row for the reweight),
# each rounded back to integers before anything sums. The ensemble
# margin is a pure integer, so the train-error trajectory in the output
# is exact. Labels are planted (curate_redact recipe) as the textbook
# boostable concept — MAJORITY of three balanced bits (n_chars ≥ 304,
# doc_id mod 8 ≤ 3, an independent hash bit), XOR a deterministic 2%
# flip: no single stump beats ~25% error, every candidate keeps ε > 0
# (α always finite), and the measured trajectory is the boosting
# textbook's — ens_err_ppm ~250k after rounds 1-2, then the third
# stump completes the majority and it drops to the ~2% noise floor
# (242000 → 268000 → 22000 at sf0.01, sf-stable). The candidate grid
# also carries a correlated distractor (whitespace tokens ≈ chars/6);
# rounds are free to pick it as a proxy for the chars bit when it
# scores cleaner — feature redundancy handled by the algorithm, not
# the grid.
#
# Scale: per round, two corpus passes (candidate scoring + the ensemble
# error report) with counter-sized shuffles; the model state that moves
# between rounds is one broadcast row. 100 TB changes nothing but the
# scan time.
# ---------------------------------------------------------------------------
BOOST_ROUNDS = 3
BOOST_NOISE_PCT = 2
BOOST_MAJ_CHARS = 304   # ~median n_chars: a balanced bit
# (feature, threshold): x1 = n_chars, x2 = whitespace tokens (the
# correlated distractor), x3 = doc_id % 8, x4 = independent hash bucket
BOOST_CANDS = ((1, 208), (1, 304), (1, 400),
               (2, 40), (2, 48), (2, 56),
               (3, 2), (3, 4), (3, 6),
               (4, 25), (4, 50), (4, 75))


def _boost_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import _bucket

    d = load_table(spark, sf_dir, "documents")
    noisy = _bucket(F.concat_ws("#", F.lit("noise"),
                                F.col("doc_id").cast("string"))) \
        < BOOST_NOISE_PCT
    x4 = _bucket(F.concat_ws("#", F.lit("f4"),
                             F.col("doc_id").cast("string")))
    maj = ((F.col("n_chars") >= BOOST_MAJ_CHARS).cast("int")
           + (F.col("doc_id") % 8 <= 3).cast("int")
           + (x4 < 50).cast("int")) >= 2
    return d.select(
        "doc_id",
        F.col("n_chars").alias("x1"),
        F.size(F.split("text", " ")).cast("bigint").alias("x2"),
        (F.col("doc_id") % 8).alias("x3"),
        x4.alias("x4"),
        F.when(maj != noisy, 1).otherwise(-1).cast("int").alias("y"))


def _stump_pred(j, t, p):
    """±1 prediction of stump (j, t, p) given feature cols x1..x4."""
    hit = (((j == 1) & (F.col("x1") >= t))
           | ((j == 2) & (F.col("x2") >= t))
           | ((j == 3) & (F.col("x3") >= t))
           | ((j == 4) & (F.col("x4") >= t)))
    return F.when(hit, p).otherwise(-p)


def _adaboost_train(spark: SparkSession, sf_dir: str, report: bool = True):
    """Run the boosting loop; returns (stumps, report_rows) where
    stumps = [(round, j, t, p, alpha_micro)] is the MODEL (the thing
    ml_adaboost_persisted writes as an artifact) and report_rows are
    ml_adaboost_stumps' per-round training stats. With report=False
    (the artifact build) the margin column and the per-round ensemble
    -error aggregate are skipped entirely — training needs only the
    weights, and the final round's reweight is never computed since no
    round 4 consumes it."""
    # persisted like Lloyd's pts (linear.py Lloyd's convention): each
    # round issues two driver actions (candidate table + ensemble
    # error), so the weight table is cached and re-cached per round
    # instead of re-deriving buckets/splits/exp-chains from parquet
    cols = ["*", F.lit(1_000_000).cast("bigint").alias("w")]
    if report:
        cols.append(F.lit(0).cast("bigint").alias("margin"))
    docs = (_boost_feats(spark, sf_dir).select(*cols)
            .persist(StorageLevel.MEMORY_AND_DISK_DESER))
    cand = F.explode(F.array(*[
        F.struct(F.lit(j).alias("j"), F.lit(t).cast("bigint").alias("t"),
                 F.lit(p).alias("p"))
        for (j, t) in BOOST_CANDS for p in (1, -1)]))
    stumps, rows = [], []
    for k in range(1, BOOST_ROUNDS + 1):
        # model state between rounds is ONE stump row — the candidate
        # table (24 rows, candidate-grid-sized at any corpus size) is
        # collected like Lloyd's codebook; α is computed JVM-side in
        # the same aggregate so every double op stays in the engine
        # whose ln/exp the oracles are calibrated against
        sc = (docs.select("x1", "x2", "x3", "x4", "y", "w",
                          cand.alias("c"))
              .select("y", "w", "c.j", "c.t", "c.p",
                      _stump_pred(F.col("c.j"), F.col("c.t"), F.col("c.p"))
                      .alias("pred"))
              .groupBy("j", "t", "p")
              .agg(F.sum(F.when(F.col("pred") != F.col("y"), F.col("w"))
                         .otherwise(0)).cast("bigint").alias("werr"),
                   F.sum("w").cast("bigint").alias("wtot"))
              .select("j", "t", "p", "werr", "wtot",
                      F.expr("cast(round(0.5 * ln(cast(wtot - werr as"
                             " double) / cast(werr as double)) * 1e6)"
                             " as bigint)").alias("alpha_micro"))
              .collect())  # bounded: |BOOST_CANDS| x 2 rows
        best = min(sc, key=lambda r: (r["werr"], r["j"], r["t"], r["p"]))
        # alpha = 0.5*ln((wtot-werr)/werr) needs 0 < werr < wtot; the
        # planted 2% label noise guarantees every stump errs, but that
        # is a fixture invariant — fail loudly here rather than let a
        # fixture change produce inf in Spark while the DuckDB oracle
        # errors on CAST(inf AS BIGINT) (silent cross-engine divergence)
        if not 0 < best["werr"] < best["wtot"]:
            raise ValueError(
                f"adaboost round {k}: degenerate stump werr="
                f"{best['werr']} wtot={best['wtot']} — alpha undefined")
        j, t, pol = best["j"], best["t"], best["p"]
        alpha_micro = best["alpha_micro"]
        alpha = alpha_micro / 1e6
        stumps.append((k, j, int(t), pol, alpha_micro))
        if not report:
            if k == BOOST_ROUNDS:
                break  # the last round's reweight has no consumer
            rows = None
        pred = _stump_pred(F.lit(j), F.lit(t), F.lit(pol))
        upd = docs
        if report:
            upd = upd.withColumn(
                "margin", F.col("margin") + F.lit(alpha_micro) * pred)
        prev = docs
        docs = (upd.withColumn(
                    "w",
                    F.round(F.col("w").cast("double") * F.exp(
                        F.when(pred != F.col("y"), F.lit(alpha))
                        .otherwise(F.lit(-alpha)))).cast("bigint"))
                .persist(StorageLevel.MEMORY_AND_DISK_DESER))
        prev.unpersist()
        if report:
            ens = docs.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.when(F.col("margin") >= 0, 1).otherwise(-1)
                             != F.col("y"), 1).otherwise(0))
                .cast("bigint").alias("ens_miss")).collect()[0]  # 1 row
            rows.append((k, j, int(t), pol,
                         (1_000_000 * best["werr"]) // best["wtot"],
                         alpha_micro,
                         (1_000_000 * ens["ens_miss"]) // ens["n"]))
    docs.unpersist()
    return stumps, rows


def ml_adaboost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, rows = _adaboost_train(spark, sf_dir)
    return spark.createDataFrame(
        rows, "round int, feature int, threshold bigint, polarity int, "
              "werr_ppm bigint, alpha_micro bigint, ens_err_ppm bigint")


def _adaboost_ctes() -> str:
    from .curation import _bucket_sql

    q = chr(39)
    noise = (f"{_bucket_sql(q + 'noise#' + q + ' || CAST(doc_id AS VARCHAR)')}"
             f" < {BOOST_NOISE_PCT}")
    x4 = _bucket_sql(q + 'f4#' + q + " || CAST(doc_id AS VARCHAR)")
    cands = ", ".join(f"({j}, {t}, {p})"
                      for (j, t) in BOOST_CANDS for p in (1, -1))
    pred = ("CASE WHEN ({b}.j = 1 AND {d}.x1 >= {b}.t)"
            " OR ({b}.j = 2 AND {d}.x2 >= {b}.t)"
            " OR ({b}.j = 3 AND {d}.x3 >= {b}.t)"
            " OR ({b}.j = 4 AND {d}.x4 >= {b}.t)"
            " THEN {b}.p ELSE -{b}.p END")
    cte = [f"""
WITH f AS (
  SELECT doc_id, n_chars AS x1,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS x2,
         doc_id % 8 AS x3,
         {x4} AS x4,
         CAST(CASE WHEN ((CASE WHEN n_chars >= {BOOST_MAJ_CHARS}
                               THEN 1 ELSE 0 END
                        + CASE WHEN doc_id % 8 <= 3 THEN 1 ELSE 0 END
                        + CASE WHEN {x4} < 50 THEN 1 ELSE 0 END) >= 2)
                   <> ({noise}) THEN 1 ELSE -1 END AS INT) AS y
  FROM documents),
cands(j, t, p) AS (VALUES {cands}),
d0 AS (SELECT *, CAST(1000000 AS BIGINT) AS w, CAST(0 AS BIGINT) AS margin
       FROM f)"""]
    for k in range(1, BOOST_ROUNDS + 1):
        pk = pred.format(b="c", d="d")
        pb = pred.format(b="b", d="d")
        cte.append(f""",
s{k} AS (
  SELECT c.j, c.t, c.p,
         CAST(SUM(CASE WHEN ({pk}) <> d.y THEN d.w ELSE 0 END) AS BIGINT)
           AS werr,
         CAST(SUM(d.w) AS BIGINT) AS wtot
  FROM d{k - 1} d, cands c
  GROUP BY c.j, c.t, c.p),
b{k} AS (
  SELECT j, t, p, werr, wtot,
         CAST(ROUND(0.5 * ln(CAST(wtot - werr AS DOUBLE)
                             / CAST(werr AS DOUBLE)) * 1e6) AS BIGINT)
           AS alpha_micro
  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY werr, j, t, p) AS rn
        FROM s{k}) WHERE rn = 1),
d{k} AS (
  SELECT doc_id, x1, x2, x3, x4, y,
         CAST(ROUND(CAST(w AS DOUBLE)
              * exp(CASE WHEN pred <> y THEN am ELSE -am END)) AS BIGINT)
           AS w,
         margin + alpha_micro * pred AS margin
  FROM (SELECT d.doc_id, d.x1, d.x2, d.x3, d.x4, d.y, d.w, d.margin,
               b.alpha_micro, CAST(b.alpha_micro AS DOUBLE) / 1e6 AS am,
               {pb} AS pred
        FROM d{k - 1} d, b{k} b)),
e{k} AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CASE WHEN (CASE WHEN margin >= 0 THEN 1 ELSE -1 END) <> y
                  THEN 1 ELSE 0 END) AS BIGINT) AS ens_miss
  FROM d{k}),
r{k} AS (
  SELECT CAST({k} AS INT) AS round, CAST(b.j AS INT) AS feature,
         CAST(b.t AS BIGINT) AS threshold, CAST(b.p AS INT) AS polarity,
         (1000000 * b.werr) // b.wtot AS werr_ppm,
         b.alpha_micro,
         (1000000 * e.ens_miss) // e.n AS ens_err_ppm
  FROM b{k} b, e{k} e)""")
    return "".join(cte)


def _adaboost_sql() -> str:
    return _adaboost_ctes() + "\n" + "\nUNION ALL\n".join(
        f"SELECT * FROM r{k}" for k in range(1, BOOST_ROUNDS + 1))


QUERIES["ml_adaboost_stumps"] = (ml_adaboost_stumps, _adaboost_sql())


# ---------------------------------------------------------------------------
# Persisted-model scoring — the production path of the quality
# classifier: `ml_adaboost_stumps` IS the trainer (honest per-run
# training cost, like ann_incremental_assign); this query completes the
# lifecycle the way every other model family does (outlier JSON, dedup
# index, ANN codebook, LM tables): the stump table is written ONCE per
# (session, sf_dir) through the shared write-once artifact lifecycle,
# and scoring reads it back (BOOST_ROUNDS rows — model-sized collect),
# re-enters the plan as literals, and classifies the corpus in one
# scan + one |labels|-group aggregate: per predicted label, doc count,
# agreement with the planted truth, and exact integer margin stats.
# The oracle RETRAINS from scratch in SQL and scores d3's margins —
# artifact-scoring ≡ retrain-scoring, the same proof pattern the
# excision family uses (fourth use).
# ---------------------------------------------------------------------------
def _adaboost_artifacts(spark: SparkSession, sf_dir: str) -> str:
    from ..session import memo, scratch_dir

    def build() -> str:
        root = scratch_dir(spark, "adaboost_model_")
        stumps, _ = _adaboost_train(spark, sf_dir, report=False)
        (spark.createDataFrame(
            stumps, "round int, j int, t bigint, p int, alpha_micro bigint")
         .coalesce(1).write.mode("overwrite").parquet(f"{root}/stumps"))
        return root

    return memo(spark, ("adaboost_model", sf_dir), build)


def ml_adaboost_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = _adaboost_artifacts(spark, sf_dir)
    stumps = spark.read.parquet(f"{root}/stumps").collect()  # model-sized
    margin = F.lit(0).cast("bigint")
    for r in sorted(stumps, key=lambda r: r["round"]):
        margin = margin + F.lit(r["alpha_micro"]) * _stump_pred(
            F.lit(r["j"]), F.lit(r["t"]), F.lit(r["p"]))
    scored = _boost_feats(spark, sf_dir).select(
        "y", margin.alias("margin"))
    return (scored
            .select("y", "margin",
                    F.when(F.col("margin") >= 0, 1).otherwise(-1)
                    .alias("pred"))
            .groupBy("pred")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("pred") == F.col("y"), 1).otherwise(0))
                 .cast("bigint").alias("n_correct"),
                 F.sum("margin").cast("bigint").alias("margin_sum"),
                 F.min("margin").alias("margin_min"),
                 F.max("margin").alias("margin_max")))


def _adaboost_score_sql() -> str:
    return _adaboost_ctes() + f"""
SELECT CASE WHEN margin >= 0 THEN 1 ELSE -1 END AS pred,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN (CASE WHEN margin >= 0 THEN 1 ELSE -1 END) = y
                THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(SUM(margin) AS BIGINT) AS margin_sum,
       MIN(margin) AS margin_min,
       MAX(margin) AS margin_max
FROM d{BOOST_ROUNDS}
GROUP BY 1
"""


QUERIES["ml_adaboost_persisted"] = (ml_adaboost_persisted,
                                    _adaboost_score_sql())
