"""Property-based tests (hypothesis) for the numeric/hashing kernels —
SURVEY.md §5.3: invariants that hold for ALL inputs, not just fixtures.
Spark actions are bounded via small max_examples; pure-numpy properties
run at full default examples."""

from __future__ import annotations

from decimal import Decimal

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from big_data_science_project_spark.functions.image_kernels import (
    _median_blur_np, _perimeter_np)
from big_data_science_project_spark.operators.segmentation import _dbscan

# ---------------------------------------------------------------------------
# pure numpy — cheap, full example counts
# ---------------------------------------------------------------------------

masks = st.integers(2, 7).flatmap(
    lambda w: st.integers(2, 7).flatmap(
        lambda h: st.lists(st.booleans(), min_size=w * h, max_size=w * h)
        .map(lambda bits: np.array(bits).reshape(w, h))))


@given(masks)
def test_perimeter_equals_reference_definition(mask):
    """Vectorized perimeter == the reference's per-pixel loop
    (feature extraction.py:54-77) for every mask."""
    p = 0
    W, H = mask.shape
    for x in range(W):
        for y in range(H):
            if not mask[x, y]:
                continue
            for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                nx, ny = x + dx, y + dy
                if 0 <= nx < W and 0 <= ny < H and not mask[nx, ny]:
                    p += 1
    assert _perimeter_np(mask) == p


@given(masks)
def test_perimeter_bounds(mask):
    p = _perimeter_np(mask)
    assert 0 <= p <= 4 * mask.sum()


@given(st.integers(2, 6), st.integers(2, 6), st.integers(0, 10**6))
def test_median_blur_preserves_constant_images(w, h, v):
    img = np.full((w, h), float(v))
    assert (_median_blur_np(img, 3) == img).all()


@given(st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)),
                min_size=0, max_size=40, unique=True))
def test_dbscan_min_samples_1_is_connected_components(pts):
    """With min_samples=1 and eps<2, clusters are exactly the connected
    components under 8-ish adjacency (eps=1.5 connects cardinal+diagonal
    neighbors) — verified against a union-find reference."""
    arr = np.array(sorted(pts), dtype=np.float64).reshape(-1, 2)
    labels = _dbscan(arr, 1.5, 1)
    # union-find over pairs within eps
    parent = list(range(len(arr)))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(len(arr)):
        for j in range(i + 1, len(arr)):
            if ((arr[i] - arr[j]) ** 2).sum() <= 1.5 ** 2:
                parent[find(i)] = find(j)
    comp = {}
    for i in range(len(arr)):
        comp.setdefault(find(i), set()).add(i)
    db = {}
    for i, l in enumerate(labels):
        db.setdefault(int(l), set()).add(i)
    assert set(map(frozenset, comp.values())) == set(map(frozenset, db.values()))
    assert (labels >= 0).all()  # min_samples=1 → no noise


# ---------------------------------------------------------------------------
# Spark-backed — bounded example counts
# ---------------------------------------------------------------------------

two_dp = st.decimals(min_value=Decimal("-99999.99"), max_value=Decimal("99999.99"),
                     places=2).map(float)


@settings(max_examples=10, deadline=None)
@given(st.lists(two_dp, min_size=1, max_size=50))
def test_dsum_is_exact_decimal_sum(spark, values):
    """dsum == exact Decimal arithmetic, at any partitioning — the
    bit-reproducibility contract of functions/numeric.py."""
    from pyspark.sql import functions as F

    from big_data_science_project_spark.functions.numeric import dsum
    df = spark.createDataFrame([(v,) for v in values], "v double").repartition(4)
    got = df.agg(dsum("v", "s")).first()["s"]
    expect = float(sum(Decimal(f"{v:.2f}") for v in values))
    assert got == expect


@settings(max_examples=8, deadline=None)
@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=30),
                min_size=1, max_size=5))
def test_rolling_fingerprint_matches_python_model(spark, tmp_path_factory,
                                                  texts):
    """The Spark higher-order fold == a direct Python reimplementation
    of h ← (h·B + md5-hash(tok)) mod P for arbitrary texts."""
    import hashlib

    from big_data_science_project_spark.operators.text import (
        _RH_B, _RH_P, doc_rolling_fingerprint)

    def model(text: str) -> int:
        h = 0
        for tok in text.split(" "):
            th = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % _RH_P
            h = (h * _RH_B + th) % _RH_P
        return h

    import os
    d = str(tmp_path_factory.mktemp("docs_prop"))
    spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {r["doc_id"]: r["rolling_fp"]
           for r in doc_rolling_fingerprint(spark, d).collect()}
    assert got == {i: model(t) for i, t in enumerate(texts)}


def test_ann_udf_kernels_match_fold_spec(spark):
    """The vectorized ANN kernels (cumsum pandas UDFs) must be
    bit-identical to the zip_with/aggregate fold expressions they
    replaced — same IEEE summation order is the whole parity argument."""
    from pyspark.sql import functions as F

    from big_data_science_project_spark.operators.similarity import (
        QUERY_VEC_ID, _bucket, _bucket_udf, _cos_pair_udf, _norm_dec,
        _norm_udf, cosine_norm)
    from big_data_science_project_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv"))
    both = (
        e.crossJoin(F.broadcast(q))
        .select(
            (_norm_udf("embedding") == _norm_dec(F.col("embedding")))
            .alias("norm_ok"),
            (_bucket_udf("embedding") == _bucket(F.col("embedding")))
            .alias("bucket_ok"),
            (_cos_pair_udf(F.col("embedding"), F.col("qv"),
                           _norm_udf("embedding"), _norm_udf("qv"))
             == cosine_norm(F.col("embedding"), F.col("qv"),
                            _norm_dec(F.col("embedding")),
                            _norm_dec(F.col("qv")))).alias("cos_ok"))
        .agg(F.min("norm_ok").alias("n"), F.min("bucket_ok").alias("b"),
             F.min("cos_ok").alias("c"))
        .first())
    assert both.n and both.b and both.c


# ---------------------------------------------------------------------------
# round-3 operator invariants
# ---------------------------------------------------------------------------
def test_pack_sequences_conserves_tokens(spark):
    """Packing must neither drop nor duplicate tokens: per-source pack
    totals re-sum to the corpus token count, pack ids are dense from 0,
    and doc ranges are disjoint+ordered within a source."""
    import pyspark.sql.functions as F

    import __spark_entry__ as e

    SF = "/root/testdata/sf0.001"
    packs = e.queries()["curate_pack_sequences"](spark, SF).collect()
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .select(F.sum(F.size(F.split("text", " "))).alias("t"))
            .first()["t"])
    assert sum(r["tok_started"] for r in packs) == docs
    by_src = {}
    for r in packs:
        by_src.setdefault(r["source"], []).append(r)
    for src, rows in by_src.items():
        rows.sort(key=lambda r: r["pack_id"])
        assert [r["pack_id"] for r in rows] == list(range(len(rows))), src
        for a, b in zip(rows, rows[1:]):
            assert a["last_doc"] <= b["first_doc"], (src, a, b)


def test_mixture_weights_hit_target_shares(spark):
    """Deterministic resampling must land within ~2% absolute of the
    target mixture (md5 buckets are uniform; fixture is 1k docs) and
    resample counts must be exact integers ≥ floor(w)·n_docs."""
    import __spark_entry__ as e
    from big_data_science_project_spark.operators.curation import MIXTURE_TARGET

    rows = e.queries()["curate_mixture_weights"](
        spark, "/root/testdata/sf0.01").collect()
    total = sum(r["n_resampled"] for r in rows)
    for r in rows:
        share = r["n_resampled"] / total
        assert abs(share - MIXTURE_TARGET[r["lang"]]) < 0.02, (r, share)
        # every doc keeps at least floor(w) copies
        assert r["n_resampled"] >= int(r["weight"]) * r["n_docs"], r


def test_countmin_estimate_is_one_sided(spark):
    """CMS estimates can only overestimate (min of upper bounds)."""
    import __spark_entry__ as e

    rows = e.queries()["q59_countmin_sketch"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["overestimate"] >= 0, r


def test_pq_refine_distances_exact_and_recall_bounded(spark):
    """Refine's contract: (a) every returned distance IS the true exact
    distance for that vector (the re-rank stage never approximates),
    (b) output is sorted by it, and (c) recall@10 vs brute-force exact
    stays above the floor the 50-vector shortlist buys on the fixture.
    Exact equality with brute force is NOT asserted — vectors outside
    the ADC shortlist are legitimately unreachable; that residual loss
    is the PQ trade-off refine exists to shrink, not erase."""
    import numpy as np

    import __spark_entry__ as e
    from big_data_science_project_spark.operators.similarity import QUERY_VEC_ID

    SF = "/root/testdata/sf0.001"
    emb = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()}
    q = emb[QUERY_VEC_ID]
    truth = {vid: int(np.floor(np.cumsum((v - q) ** 2)[-1] * 1e6))
             for vid, v in emb.items() if vid != QUERY_VEC_ID}
    got = [(r["vec_id"], r["exact_d2_micro"]) for r in
           e.queries()["ann_pq_refine"](spark, SF).collect()]
    assert len(got) == 10
    for vid, d in got:
        assert d == truth[vid], (vid, d, truth[vid])
    assert [d for _, d in got] == sorted(d for _, d in got)
    exact_top10 = {vid for vid, _ in
                   sorted(truth.items(), key=lambda kv: (kv[1], kv[0]))[:10]}
    recall = len(exact_top10 & {vid for vid, _ in got}) / 10
    assert recall >= 0.5, recall


def test_graph_components_match_block_structure(spark):
    """The synthetic CC fixture has a closed form: component(i) =
    CC_BLOCK·CC_GROUP·⌊i/(CC_BLOCK·CC_GROUP)⌋ — the propagation result
    must reproduce it exactly (validates convergence within CC_ITERS)."""
    import __spark_entry__ as e
    from big_data_science_project_spark.operators.graph import CC_BLOCK, CC_GROUP

    SF = "/root/testdata/sf0.001"
    span = CC_BLOCK * CC_GROUP
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    got = {r["component"]: r["n_nodes"]
           for r in e.queries()["graph_components"](spark, SF).collect()}
    want = {}
    for i in range(n_docs):
        c = span * (i // span)
        want[c] = want.get(c, 0) + 1
    assert got == want


def test_gapfill_interpolation_properties(spark):
    """On observed rows interp == the exact hourly sum; on gap rows the
    value lies within [min(prev, next), max(prev, next)] of the
    surrounding observations (linearity ⇒ boundedness)."""
    import __spark_entry__ as e

    SF = "/root/testdata/sf0.001"
    rows = (e.queries()["ts_gapfill_interpolate"](spark, SF)
            .orderBy("user_id", "hour").collect())
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    checked_gap = 0
    for seq in by_user.values():
        obs = [(i, r["interp_sum"]) for i, r in enumerate(seq)
               if r["is_gap"] == 0]
        assert obs, "every user must retain at least one observed hour"
        for i, r in enumerate(seq):
            if r["is_gap"] == 0:
                continue
            prevs = [v for j, v in obs if j < i]
            nexts = [v for j, v in obs if j > i]
            lo_hi = []
            if prevs:
                lo_hi.append(prevs[-1])
            if nexts:
                lo_hi.append(nexts[0])
            assert min(lo_hi) - 1e-9 <= r["interp_sum"] <= max(lo_hi) + 1e-9
            checked_gap += 1
    assert checked_gap > 0, "fixture should contain gap hours"


def test_containment_dominates_jaccard(spark):
    """For any candidate pair, max(containment) ≥ jaccard (set algebra:
    |A∩B|/min(|A|,|B|) ≥ |A∩B|/|A∪B|), and both containments recover the
    same intersection size: c_1in2·|A| == c_2in1·|B| (± rounding)."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F
    from big_data_science_project_spark.operators.dedup import (
        _hashed_shingles_df, _candidate_pairs, _minhash_bands)
    from big_data_science_project_spark.sources.tables import load_table

    SF = "/root/testdata/sf0.001"
    d = load_table(spark, SF, "documents")
    hashed = _hashed_shingles_df(d)
    sizes = {r["doc_id"]: len(r["hs"]) for r in hashed.collect()}
    cont = e.queries()["dedup_containment"](spark, SF).collect()
    ver = {(r["doc_id1"], r["doc_id2"]): r["jaccard"]
           for r in e.queries()["dedup_minhash_verified"](spark, SF).collect()}
    for r in cont:
        k = (r["doc_id1"], r["doc_id2"])
        cmax = max(r["c_1in2"], r["c_2in1"])
        if k in ver:
            assert cmax >= ver[k] - 1e-6
        i1 = r["c_1in2"] * sizes[r["doc_id1"]]
        i2 = r["c_2in1"] * sizes[r["doc_id2"]]
        assert abs(i1 - i2) < 1e-2, (k, i1, i2)


def test_kmeans_lloyd_matches_local_mirror(spark):
    """The distributed integer k-means equals a single-process numpy
    mirror of the same algorithm (quantize → argmin by (dist, cid) →
    truncating-mean update, KM_ITERS rounds) — partition-independence of
    every assignment, centroid, and the final inertia."""
    import numpy as np

    import __spark_entry__ as e
    from big_data_science_project_spark.operators.linear import (
        KM_ITERS, KM_K, _km_trunc_div)

    SF = "/root/testdata/sf0.001"
    rows = spark.read.parquet(f"{SF}/embeddings.parquet") \
        .select("vec_id", "embedding").collect()
    em = {r["vec_id"]: np.floor(
        np.asarray(r["embedding"], dtype=np.float64) * 1e6 + 0.5
    ).astype(np.int64) for r in rows}
    cents = {cid: em[cid].copy() for cid in range(KM_K)}

    def assign():
        out = {}
        for vid, v in em.items():
            best = min((int(((v - cm) ** 2).sum()), cid)
                       for cid, cm in cents.items())
            out[vid] = best
        return out

    for _ in range(KM_ITERS):
        a = assign()
        for cid in sorted(cents):
            members = [em[v] for v, (_, c) in a.items() if c == cid]
            if members:
                s = np.sum(members, axis=0, dtype=np.int64)
                cents[cid] = np.array(
                    [_km_trunc_div(int(x), len(members)) for x in s],
                    dtype=np.int64)
            else:
                # engines rebuild centroids only from non-empty groups —
                # an empty cluster disappears, it is not carried stale
                del cents[cid]
    final = assign()
    want = {}
    for vid, (d, cid) in final.items():
        n, inertia = want.get(cid, (0, 0))
        want[cid] = (n + 1, inertia + d)

    got = {r["cluster_id"]: (r["n_points"], r["inertia_u2"])
           for r in e.queries()["ml_kmeans_lloyd"](spark, SF).collect()}
    assert got == want


def test_lloyd_assign_matches_numpy_and_ties_to_lower_cid(spark):
    """_lloyd_assign's inline array_min expression is exact integer
    arithmetic: every (d, cid) equals a numpy argmin over the same
    codebook, including a crafted equidistant tie that must break to
    the LOWER cid, and the cid field is BIGINT."""
    import numpy as np

    from big_data_science_project_spark.operators import linear as L

    rng = np.random.default_rng(7)
    pts = [(int(i), [int(x) for x in rng.integers(-1_000_000, 1_000_000,
                                                  size=L.DIM)])
           for i in range(60)]
    # point 0 exactly equidistant from centroids 3 and 9: copy it into
    # both centroid slots
    cents = {cid: list(rng.integers(-1_000_000, 1_000_000, size=L.DIM))
             for cid in range(20)}
    cents[3] = list(pts[0][1])
    cents[9] = list(pts[0][1])
    df = spark.createDataFrame(pts, "vec_id bigint, em array<bigint>")

    out = L._lloyd_assign(df, cents)
    got = {r["vec_id"]: (r["best"]["d"], r["best"]["cid"])
           for r in out.collect()}
    cmat = np.asarray([cents[c] for c in range(20)], dtype=np.int64)
    want = {}
    for vid, em in pts:
        d = ((np.asarray(em, dtype=np.int64) - cmat) ** 2).sum(axis=1)
        j = int(d.argmin())  # first minimum: the lower cid
        want[vid] = (int(d[j]), j)
    assert got == want
    assert got[0] == (0, 3)  # tie broke to the lower cid
    # a full-width checksum hashes int32 and int64 differently even
    # when every value prints the same
    assert (out.schema["best"].dataType["cid"].dataType
            .simpleString() == "bigint")


def test_mode_deterministic_tie_breaks_to_lowest(spark):
    """q62's oracle resolves mode ties as (highest count, lowest value);
    this pins Spark's mode(col, deterministic=true) to the same rule on
    a crafted 2-way tie — the fixture happens to contain a real tie
    (sf0.001 returnflag 'N'), but this keeps the contract explicit."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1,), (1,), (3,), (3,), (2,)], "x int")
    got = df.agg(F.mode("x", True).alias("m")).collect()[0]["m"]
    assert got == 1


def test_kcore_converges_and_peels(spark):
    """graph_kcore's convergence claim is load-bearing: the last peel
    round must remove nothing (fixpoint reached inside KCORE_ROUNDS)
    and the k=5 core must actually exclude the low-degree tail."""
    import __spark_entry__ as em

    row = em.queries()["graph_kcore"](
        spark, "/root/testdata/sf0.001").collect()[0]
    assert row.last_round_removed == 0, row
    assert 0 < row.core_size < 500, row


def test_acf_matches_numpy_mean_cleared(spark):
    """The ACF values must equal an independent numpy mean-cleared
    sample autocorrelation on the same hourly series (guards the
    boundary-term algebra — a T*S_k − Sv² shortcut is biased O(k/T)
    and was caught by review)."""
    import duckdb
    import numpy as np

    import __spark_entry__ as em

    sf = "/root/testdata/sf0.001"
    pdf = duckdb.sql(f"""
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
                        * 100) AS BIGINT) AS vc
      FROM '{sf}/events.parquet' GROUP BY 1, 2 ORDER BY 1, 2""").df()
    got = {(r.event_type, r.lag): r.acf
           for r in em.queries()["ts_autocorrelation"](spark, sf).collect()}
    for et, g in pdf.groupby("event_type"):
        v = g.sort_values("hour")["vc"].to_numpy(dtype=np.float64)
        vbar = v.mean()
        den = ((v - vbar) ** 2).sum()
        for k in (1, 2, 3):
            want = (((v[k:] - vbar) * (v[:-k] - vbar)).sum()) / den
            assert abs(got[(et, k)] - round(want, 9)) <= 2e-9, (et, k)


def test_lsh_hot_bucket_guard_drops_boilerplate_bucket(spark):
    """Plant one over-cap boilerplate bucket (B docs sharing a band key)
    next to a small legit bucket: the capped candidate join must emit
    ONLY the small bucket's pairs (hot bucket contributes zero — never
    O(B²)), while the uncapped variant would emit all B·(B−1)/2."""
    from big_data_science_project_spark.operators.dedup import (
        LSH_MAX_BUCKET, _candidate_pairs)

    B = LSH_MAX_BUCKET + 44  # over cap
    hot = [(i, 0, 777777) for i in range(B)]
    small = [(10_000 + i, 0, 123456) for i in range(3)]
    bands = spark.createDataFrame(
        hot + small, "doc_id long, band_id int, band_key long")

    capped = _candidate_pairs(bands).collect()
    assert len(capped) == 3  # C(3,2) from the small bucket only
    assert all(r.doc_id1 >= 10_000 for r in capped)

    uncapped = _candidate_pairs(bands, max_bucket=None).count()
    assert uncapped == B * (B - 1) // 2 + 3

    # a doc in the hot bucket that ALSO shares a normal bucket still
    # surfaces — the guard drops buckets, not documents
    extra = [(0, 1, 42), (10_000, 1, 42)]
    bands2 = spark.createDataFrame(
        hot + small + extra, "doc_id long, band_id int, band_key long")
    got = {(r.doc_id1, r.doc_id2) for r in _candidate_pairs(bands2).collect()}
    assert (0, 10_000) in got and len(got) == 4


def test_lsh_hot_buckets_audit_flags_over_cap(spark):
    """The audit query reports bucket sizes with a correct over_cap flag
    on the real fixtures (none over cap at this sf — asserted, so a
    fixture change that crosses the cap is noticed, not silent)."""
    import __spark_entry__ as e

    SF = "/root/testdata/sf0.001"
    rows = e.queries()["dedup_lsh_hot_buckets"](spark, SF).collect()
    assert 0 < len(rows) <= 20
    sizes = [r.n_docs for r in rows]
    assert sizes == sorted(sizes, reverse=True)
    from big_data_science_project_spark.operators.dedup import LSH_MAX_BUCKET
    for r in rows:
        assert r.over_cap == (r.n_docs > LSH_MAX_BUCKET)


def _cdc_anchors(text):
    """Python mirror of the CDC anchor predicate (base-2 polynomial of
    the SUBSTR_K-gram's codepoints, mod STRIDE): 0-based window-start
    positions selected in `text`."""
    from big_data_science_project_spark.operators.dedup import (
        SUBSTR_POW, SUBSTR_STRIDE, SUBSTR_WIN)

    out = []
    for s in range(len(text) - SUBSTR_WIN + 1):
        h = sum(ord(c) * p for c, p in zip(text[s:], SUBSTR_POW))
        if h % SUBSTR_STRIDE == 0:
            out.append(s)
    return out


def test_substring_dedup_finds_unaligned_nonperiodic_clone(spark, tmp_path):
    """Content-defined anchoring: a NON-PERIODIC verbatim run planted at
    offsets that differ by a non-multiple of STRIDE must still be found
    (a fixed stride-grid would miss ~19/20 of such alignments); docs
    sharing only a sub-WIN fragment of the run share nothing; a
    boilerplate window present in > SUBSTR_MAX_BUCKET docs is dropped
    by the hot-bucket guard (mirroring the LSH cap)."""
    import hashlib
    import os
    import random

    import pandas as pd

    from big_data_science_project_spark.operators.dedup import (
        SUBSTR_K, SUBSTR_MAX_BUCKET, SUBSTR_STRIDE, SUBSTR_WIN,
        dedup_substring_exact)

    rng = random.Random(20260814)
    alpha = "abcdefghijklmnop qrstuvwxyz"

    def noise(n):
        return "".join(rng.choice(alpha) for _ in range(n))

    # non-periodic 200-char run; require >= 1 CDC anchor inside it so
    # detection is deterministic for THIS fixture (P(no anchor) ~ 7e-4
    # per draw; the loop just avoids a flaky seed dependency)
    while True:
        run = noise(200)
        if _cdc_anchors(run):
            break
    # offsets 0 and 7: 7 % STRIDE != 0 — the old stride-grid scheme
    # only matched clones whose offsets agreed mod STRIDE
    docs = [
        (1, run + noise(40)),                      # clone A at offset 0
        (2, noise(7) + run + noise(25)),           # clone B at offset 7
        (3, noise(150) + run[:SUBSTR_WIN - 1]),    # sub-WIN overlap only
        (4, noise(200)),                           # unrelated
    ]
    # boilerplate: anchored at position 0 by construction so every copy
    # emits the same single window → one over-cap bucket
    while True:
        boiler = noise(SUBSTR_WIN)
        if 0 in _cdc_anchors(boiler):
            break
    docs += [(100 + i, boiler) for i in range(SUBSTR_MAX_BUCKET + 10)]

    d = str(tmp_path)
    pd.DataFrame(docs, columns=["doc_id", "text"]).to_parquet(
        os.path.join(d, "documents.parquet"))
    pairs = {(r.doc_id1, r.doc_id2)
             for r in dedup_substring_exact(spark, d).collect()}
    assert (1, 2) in pairs
    assert not any(3 in p or 4 in p for p in pairs)
    # the over-cap boilerplate bucket must contribute ZERO pairs
    assert not any(p[0] >= 100 for p in pairs), sorted(pairs)[:5]


def test_substring_dedup_anchor_positions_are_content_defined(spark):
    """The engine's selected windows == the Python CDC mirror's windows
    for a handful of random docs — pins the anchor predicate itself
    (base-2 polynomial of the SUBSTR_K-gram, mod SUBSTR_STRIDE) rather
    than just its downstream pair effect."""
    import random

    import pyspark.sql.functions as F

    from big_data_science_project_spark.operators import dedup as DD
    from big_data_science_project_spark.operators.dedup import (
        SUBSTR_WIN)

    rng = random.Random(7)
    texts = ["".join(rng.choice("abcde fgh") for _ in range(180))
             for _ in range(5)]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    wins = F.expr(
        f"transform(filter(sequence(1, length(text) - {SUBSTR_WIN} + 1),"
        f" s -> ({DD._SUBSTR_POLY_SPARK}) % {DD.SUBSTR_STRIDE} = 0),"
        f" s -> substring(text, s, {SUBSTR_WIN}))")
    got = [r.ws for r in df
           .withColumn("cs", F.expr(
               "transform(split(text, ''), c -> cast(ascii(c) as bigint))"))
           .select(wins.alias("ws")).collect()]
    for t, g in zip(texts, got):
        want = [t[s:s + SUBSTR_WIN] for s in _cdc_anchors(t)]
        assert g == want


def test_dedup_recall_sweep_structural(spark):
    """Structural invariants of the planted-clone recall sweep that hold
    on ANY fixture: every tier catches exact copies in full; the exact
    digest catches ONLY exact copies; the CDC-substring tier catches
    blockswap in full (each half is a >= WIN verbatim run) but nothing
    at 10% char noise (every window contains an edit); grid is complete
    at 6 tiers x 6 mutations."""
    import __spark_entry__ as e

    rows = e.queries()["dedup_recall_sweep"](
        spark, "/root/testdata/sf0.001").collect()
    got = {(r.tier, r.mutation): (r.n_planted, r.n_found, r.recall_pct)
           for r in rows}
    assert len(got) == 36  # 6 tiers x 6 mutations
    n_planted = {p for p, _, _ in got.values()}
    assert len(n_planted) == 1 and n_planted.pop() > 0
    for tier in ("exact", "exact_norm", "fuzzy", "minhash", "simhash",
                 "substring"):
        assert got[(tier, "exact_copy")][2] == 100, tier
    for mut in ("truncate80", "edit2pct", "edit10pct", "blockswap",
                "casews"):
        assert got[("exact", mut)][1] == 0, mut
    assert got[("substring", "blockswap")][2] == 100
    assert got[("substring", "edit10pct")][1] == 0
    # the normalized digest exists exactly for the case/whitespace
    # clone class — full recall there, and (like raw exact) zero on
    # content edits
    assert got[("exact_norm", "casews")][2] == 100
    assert got[("exact_norm", "edit2pct")][1] == 0


def test_clustered_sweep_ivf_beats_scan_floor(spark):
    """The r9 verdict's 'done' criterion for the planted-cluster
    fixture: on clustered data the trained IVF must demonstrably beat
    the recall ≈ scan-fraction floor (the ceiling on the structure-free
    control) — recall@10 >= 90% at <= 25% scan for nprobe=1."""
    import __spark_entry__ as e

    rows = {r.param: r for r in e.queries()["ann_clustered_sweep"](
        spark, "/root/testdata/sf0.001").collect()}
    assert set(rows) == {1, 2, 4}
    r1 = rows[1]
    assert r1.recall_pct >= 90, r1
    assert r1.scan_pct_micro <= 250_000, r1
    # recall never decreases with more probes; scan strictly grows
    assert rows[2].recall_pct >= r1.recall_pct
    assert rows[4].recall_pct >= rows[2].recall_pct
    assert rows[2].n_scanned > r1.n_scanned
    assert rows[4].n_scanned > rows[2].n_scanned


def test_semantic_tier_recovers_high_eps_rungs(spark):
    """The Lloyd's-bucketed semantic tier must recover the eps-0.70 /
    eps-1.20 rungs that the sign-LSH + 0.95-cosine tier loses entirely
    (0% end-to-end) — the gap the README names as the reason 10%-noise
    clones evade the lexical ladder."""
    import __spark_entry__ as e

    rows = e.queries()["dedup_recall_sweep_embedding"](
        spark, "/root/testdata/sf0.001").collect()
    got = {(r.tier, r.mutation): r.recall_pct for r in rows}
    assert len(got) == 10  # 2 tiers x 5 rungs
    for mut in ("eps0.70", "eps1.20"):
        assert got[("embedding", mut)] == 0, mut   # the documented gap
        assert got[("semantic", mut)] >= 75, mut   # the recovery
    # the semantic tier dominates the sign-LSH tier on every rung
    for mut in ("eps0.10", "eps0.30", "eps0.45", "eps0.70", "eps1.20"):
        assert got[("semantic", mut)] >= got[("embedding", mut)], mut


def test_normalized_dedup_whitespace_class_and_empty_guard(spark, tmp_path):
    """The review counterexamples, pinned: a newline-REWRAPPED copy must
    normalize identically to its source (whitespace is a class, never
    deleted — deleting '\\n' would glue adjacent words); docs whose text
    normalizes to EMPTY (pure punctuation / non-Latin) must NOT merge
    into one md5('') group."""
    import os

    import pandas as pd

    from big_data_science_project_spark.operators.dedup import (
        dedup_exact_normalized)

    docs = [
        (1, "green eggs and ham"),
        (2, "green eggs\nand ham"),      # rewrapped copy — must pair
        (3, "Green, EGGS — and  ham!"),  # case/punct drift — must pair
        (4, "greeneggs and ham"),        # genuinely different
        (100, "!!! ??? ..."),            # normalizes to empty
        (101, "¡¿§±"),                   # normalizes to empty
        (102, "…—…"),                    # normalizes to empty
    ]
    d = str(tmp_path)
    pd.DataFrame(docs, columns=["doc_id", "text"]).to_parquet(
        os.path.join(d, "documents.parquet"))
    rows = dedup_exact_normalized(spark, d).collect()
    # one dup group + the '__corpus_checksum__' summary row (added in
    # r6 so the value oracle bites on dup-free corpora too)
    assert len(rows) == 2
    by_digest = {r.digest: r for r in rows}
    checksum = by_digest.pop("__corpus_checksum__")
    # checksum counts every doc with NONEMPTY normalization: 1,2,3,4
    assert checksum.n_copies == 4
    (group,) = by_digest.values()
    assert group.canonical_id == 1 and group.n_copies == 3


def test_constraint_audit_fails_on_violations(spark, tmp_path):
    """The data-quality gate must actually FAIL when a batch violates a
    constraint (the fixture corpus passes all six, so the oracle alone
    never exercises passed=0): null text, a duplicated doc_id, a length
    mismatch, an off-domain lang, and an empty doc each trip exactly
    their own check."""
    import os

    import pandas as pd

    from big_data_science_project_spark.operators.curation import (
        curate_constraint_audit)

    docs = pd.DataFrame({
        "doc_id": [1, 2, 2, 4, 5],           # dup id -> uniqueness
        "text": [None, "abcde", "abcde", "xy", ""],  # null -> completeness
        "lang": ["en", "xx", "en", "en", "en"],      # xx -> membership
        "source": ["s"] * 5,
        # row 4 claims 3 chars for a 2-char text -> consistency;
        # row 5 empty -> min_chars
        "n_chars": pd.array([0, 5, 5, 3, 0], dtype="int64"),
    })
    d = str(tmp_path)
    docs.to_parquet(os.path.join(d, "documents.parquet"))
    got = {r.check_name: r for r in
           curate_constraint_audit(spark, d).collect()}
    assert got["completeness_text_ge"].passed == 0   # 1/5 null
    assert got["uniqueness_doc_id_ge"].passed == 0   # 4 distinct / 5
    assert got["len_consistency_ge"].passed == 0
    assert got["lang_membership_ge"].passed == 0     # 800 < 950 milli
    assert got["min_chars_ge"].passed == 0           # empty doc
    assert got["mean_chars_le"].passed == 1          # mean tiny: still ok
    # metric arithmetic spot-check: completeness = (1000*4) div 5 = 800
    assert got["completeness_text_ge"].metric_milli == 800
    assert got["uniqueness_doc_id_ge"].metric_milli == 800


def test_incremental_dedup_tiers_on_planted_corpus(spark, tmp_path):
    """Both tiers of the batch-vs-index dedup, exercised directly (the
    fixture corpus has no exact cross-split dup, so its oracle never
    sees exact_dup=1): doc 5 (batch) is an exact copy of doc 1 (index),
    doc 8 (batch) a near copy of doc 2 (index), doc 14 (batch) is
    unrelated. md5-bucket split: ids 1,2,3 land in the index (<80),
    5,8,14 in the batch (>=80)."""
    import os

    import pandas as pd

    from big_data_science_project_spark.operators.dedup import (
        dedup_incremental)

    base = ("the quick brown fox jumps over the lazy dog while the "
            "rain in spain falls mainly on the plain every single day")
    near = base.replace("lazy dog", "sleepy dog")
    docs = pd.DataFrame({
        "doc_id": pd.array([1, 2, 3, 5, 8, 14], dtype="int64"),
        "text": [base, base + " again and again", "completely different "
                 "words about distributed query engines and parquet",
                 base,                      # 5: exact copy of 1
                 base + " again and again", # 8: == doc 2 exactly? no:
                 "unrelated short text"],
        "lang": ["en"] * 6, "source": ["s"] * 6,
        "n_chars": pd.array([len(base), len(base) + 16, 53,
                             len(base), len(base) + 16, 20], dtype="int64"),
    })
    # make doc 8 a NEAR copy (one token changed), not exact
    docs.loc[docs.doc_id == 8, "text"] = near + " again and again"
    d = str(tmp_path)
    docs.to_parquet(os.path.join(d, "documents.parquet"))
    got = {r.doc_id: r for r in dedup_incremental(spark, d).collect()}
    assert set(got) == {5, 8, 14}          # exactly the batch docs
    assert got[5].exact_dup == 1           # exact tier fires
    assert got[5].n_verified >= 1          # identical text also near-dups
    assert got[8].exact_dup == 0
    assert got[8].n_candidates >= 1        # LSH finds the near copy
    assert got[8].n_verified >= 1 and got[8].best_jaccard >= 0.5
    assert got[14].exact_dup == 0 and got[14].n_candidates == 0
    assert got[14].best_jaccard is None


def test_incremental_dedup_persisted_roundtrip(spark, tmp_path):
    """The persisted-index variant must reproduce dedup_incremental
    value-for-value through the parquet artifact round-trip (planted
    corpus from the test above), write the artifacts exactly once per
    (session, sf_dir), and pre-drop over-cap buckets at build time."""
    import os

    import pandas as pd

    from big_data_science_project_spark.operators.dedup import (
        _index_artifacts, dedup_incremental, dedup_incremental_persisted)

    base = ("the quick brown fox jumps over the lazy dog while the "
            "rain in spain falls mainly on the plain every single day")
    near = base.replace("lazy dog", "sleepy dog")
    docs = pd.DataFrame({
        "doc_id": pd.array([1, 2, 3, 5, 8, 14], dtype="int64"),
        "text": [base, base + " again and again",
                 "completely different words about distributed query "
                 "engines and parquet",
                 base, near + " again and again", "unrelated short text"],
        "lang": ["en"] * 6, "source": ["s"] * 6,
        "n_chars": pd.array([1, 1, 1, 1, 1, 1], dtype="int64"),
    })
    d = str(tmp_path)
    docs.to_parquet(os.path.join(d, "documents.parquet"))

    inplan = sorted(map(tuple, dedup_incremental(spark, d).collect()))
    pers = sorted(map(tuple,
                      dedup_incremental_persisted(spark, d).collect()))
    assert pers == inplan

    root = _index_artifacts(spark, d)
    stamp = {f: os.path.getmtime(os.path.join(root, "digests", f))
             for f in os.listdir(os.path.join(root, "digests"))}
    again = sorted(map(tuple,
                       dedup_incremental_persisted(spark, d).collect()))
    assert again == inplan
    assert stamp == {  # second call re-READ, never re-WROTE
        f: os.path.getmtime(os.path.join(root, "digests", f))
        for f in os.listdir(os.path.join(root, "digests"))}

    # artifact contract: bands carry no over-cap bucket (cap ran at build)
    from big_data_science_project_spark.operators.dedup import (
        LSH_MAX_BUCKET)
    bands = spark.read.parquet(f"{root}/bands")
    worst = (bands.groupBy("band_id", "band_key").count()
             .agg({"count": "max"}).first()[0])
    assert worst <= LSH_MAX_BUCKET


def test_lm_perplexity_ranks_garbled_above_clean(spark, lm_planted_dir):
    """The bigram-LM quality gate must rank out-of-distribution docs
    above in-distribution ones (corpus: conftest.lm_planted_dir).
    Pins three contracts: garbled text scores worse than clean text; a
    doc in a language the index never saw scores AT LEAST as badly as
    garbled in-vocab text (the global-vocab smoothing fallback — a
    V→1 fallback would rank it BEST); and a 1-token doc carries 0
    bigrams and NULL avg (no sentinel)."""
    from big_data_science_project_spark.operators.text import (
        text_lm_perplexity)

    got = {r.doc_id: r
           for r in text_lm_perplexity(spark, lm_planted_dir).collect()}
    assert set(got) == {5, 8, 14, 18}
    assert got[5].avg_nll_milli < got[8].avg_nll_milli
    assert got[18].avg_nll_milli >= got[8].avg_nll_milli
    assert got[18].avg_nll_milli > got[5].avg_nll_milli
    assert got[14].n_bigrams == 0
    assert got[14].nll_milli == 0
    assert got[14].avg_nll_milli is None


def test_lm_refresh_equals_full_retrain_and_learns_new_language(
        spark, tmp_path):
    """lm_incremental_refresh merges persisted counts with the admitted
    batch's partials — the result must equal a full retrain over
    index ∪ admitted, value for value (the oracle proves it cross-
    engine; this pins it in-Spark), and the refresh must actually
    LEARN: an 'xx'-language doc in the remaining stream scores as
    maximally-surprising under the pre-refresh LM (xx unindexed →
    global-vocab fallback) but in-distribution once an admitted xx doc
    taught the model the language."""
    import os

    import pandas as pd

    from big_data_science_project_spark.operators.text import (
        LM_REFRESH_PCT, _lm_tables, _score_against_lm, lm_artifacts,
        lm_incremental_refresh, lm_score_vs_artifacts)
    from big_data_science_project_spark.operators.curation import _bucket
    from big_data_science_project_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    phrase = ("the model scores each document by how well it matches "
              "the corpus distribution")
    xx = "foo bar baz foo bar qux foo bar baz quux"
    docs = pd.DataFrame({
        # buckets: 1→78, 2→30, 3→19 (index); 18→89 (admitted batch);
        # 8→96, 14→99 (remaining stream)
        "doc_id": pd.array([1, 2, 3, 18, 8, 14], dtype="int64"),
        "text": [phrase, phrase + " again", "it matches the corpus well",
                 xx,                       # admitted: teaches lang xx
                 "foo bar baz foo bar",    # stream: xx, in-dist after
                 "the model scores the corpus well"],  # stream: en
        "lang": ["en", "en", "en", "xx", "xx", "en"],
        "source": ["s"] * 6,
        "n_chars": pd.array([1] * 6, dtype="int64"),
    })
    d = str(tmp_path)
    docs.to_parquet(os.path.join(d, "documents.parquet"))

    refreshed = sorted(map(tuple,
                           lm_incremental_refresh(spark, d).collect()))
    all_docs = load_table(spark, d, "documents")
    bk = _bucket(F.col("doc_id"))
    retrain = _score_against_lm(
        all_docs.filter(bk >= LM_REFRESH_PCT),
        *_lm_tables(all_docs.filter(bk < LM_REFRESH_PCT)))
    assert refreshed == sorted(map(tuple, retrain.collect()))

    stale = {r.doc_id: r.avg_nll_milli
             for r in lm_score_vs_artifacts(
                 spark, all_docs.filter(bk >= LM_REFRESH_PCT),
                 lm_artifacts(spark, d)).collect()}
    fresh = {t[0]: t[4] for t in refreshed}
    assert fresh[8] < stale[8], (fresh, stale)  # xx learned


# ---------------------------------------------------------------------------
# segmentation scoring: K9 confusion counts and the one-pass threshold grid
# search, against numpy. The null rule: a pixel whose ground truth or
# prediction (intensity) is null counts in none of tp/fp/tn/fn.
# ---------------------------------------------------------------------------

def _np_confusion(gt, pred):
    """tp/fp/tn/fn over the zipped arrays; the shorter one is padded with
    nulls, as ``zip_with`` does."""
    n = max(len(gt), len(pred))
    gt = list(gt) + [None] * (n - len(gt))
    pred = list(pred) + [None] * (n - len(pred))
    pairs = [(g, p) for g, p in zip(gt, pred)
             if g is not None and p is not None]
    return (sum(g and p for g, p in pairs), sum(not g and p for g, p in pairs),
            sum(not g and not p for g, p in pairs),
            sum(g and not p for g, p in pairs))


_opt_bools = st.lists(st.one_of(st.none(), st.booleans()), max_size=12)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(_opt_bools, _opt_bools), min_size=1, max_size=6))
def test_confusion_counts_match_numpy_with_nulls(spark, rows):
    """K9 on arrays holding nulls, empty arrays and arrays of unequal
    length: every count equals the null-skipping numpy count."""
    from pyspark.sql import functions as F

    from big_data_science_project_spark.functions import image_kernels as K
    df = spark.createDataFrame(
        [(i, g, p) for i, (g, p) in enumerate(rows)],
        "i int, gt array<boolean>, pred array<boolean>")
    c = K.confusion(F.col("gt"), F.col("pred"))
    got = {r["i"]: (r["tp"], r["fp"], r["tn"], r["fn"]) for r in df.select(
        "i", *[c[k].alias(k) for k in ("tp", "fp", "tn", "fn")]).collect()}
    assert got == {i: _np_confusion(g, p) for i, (g, p) in enumerate(rows)}


# pixel values on the threshold lattice, so thresholds equal to pixel
# values (the >= boundary) come up often
_levels = [0.0, 50.0, 100.0, 150.0, 200.0]
_thresholds = st.lists(st.sampled_from([0.0, 25.0, 50.0, 100.0, 150.0, 200.0,
                                        250.0]), min_size=1, max_size=7)


@st.composite
def _cells(draw, nulls: bool):
    """Small random cells rows; each channel's mask is random, all
    foreground or all background (the empty-class guard)."""
    n, c = draw(st.integers(1, 4)), draw(st.integers(1, 2))
    w, h = draw(st.integers(1, 3)), draw(st.integers(1, 3))
    pixel = st.sampled_from(_levels)
    if nulls:
        pixel = st.one_of(st.none(), pixel)
    rows = []
    for i in range(n):
        data, mask = [], []
        for _ in range(c):
            data += draw(st.lists(pixel, min_size=w * h, max_size=w * h))
            kind = draw(st.sampled_from(["random", "all_fg", "all_bg"]))
            mask += (draw(st.lists(st.booleans(), min_size=w * h,
                                   max_size=w * h)) if kind == "random"
                     else [kind == "all_fg"] * (w * h))
        rows.append((i, c, w, h, data, mask))
    return rows


def _cells_df(spark, rows):
    return spark.createDataFrame(
        rows, "image_id bigint, n_channels int, width int, height int,"
              " data array<double>, mask array<boolean>")


@settings(max_examples=10, deadline=None)
@given(_cells(nulls=True), _thresholds)
def test_grid_counts_match_numpy(spark, rows, grid):
    """The one-pass grid aggregate: pos/neg and every threshold's tp/fp
    equal numpy counts, nulls counting in none."""
    from pyspark.sql import functions as F

    from big_data_science_project_spark.operators.segmentation import (
        _grid_counts)
    from big_data_science_project_spark.sources.cells import per_channel
    grid = sorted(set(grid))
    got = {(r["image_id"], r["channel"]): r["c"].asDict() for r in
           per_channel(_cells_df(spark, rows), "data", "mask").select(
               "image_id", "channel",
               _grid_counts(F.col("mask_ch"), F.col("data_ch"), grid)
               .alias("c")).collect()}
    for i, c, w, h, data, mask in rows:
        for ch in range(c):
            d = data[ch * w * h:(ch + 1) * w * h]
            m = mask[ch * w * h:(ch + 1) * w * h]
            valid = [(g, x) for g, x in zip(m, d) if x is not None]
            want = {"pos": sum(g for g, _ in valid),
                    "neg": sum(not g for g, _ in valid)}
            for k, t in enumerate(grid):
                want[f"tp{k}"] = sum(g and x >= t for g, x in valid)
                want[f"fp{k}"] = sum(not g and x >= t for g, x in valid)
            assert got[(i, ch)] == want, (i, ch, grid)


@settings(max_examples=10, deadline=None)
@given(_cells(nulls=False), _thresholds)
def test_grid_search_matches_numpy_argmax(spark, rows, grid):
    """grid_search_threshold == a numpy search over the deduplicated grid:
    mean balanced accuracy per threshold, argmax on the exact decimal sum
    with ties to the larger threshold, for unsorted grids with repeats."""
    from decimal import ROUND_HALF_UP

    from big_data_science_project_spark.operators.segmentation import (
        grid_search_threshold)
    got = {r["channel"]: (r["best_thr"], r["best_bacc"]) for r in
           grid_search_threshold(_cells_df(spark, rows), grid).collect()}
    n_ch = rows[0][1]
    w, h = rows[0][2], rows[0][3]
    want = {}
    for ch in range(n_ch):
        sums = []
        for t in set(grid):
            total = Decimal(0)
            for _, _, _, _, data, mask in rows:
                x = np.array(data[ch * w * h:(ch + 1) * w * h])
                g = np.array(mask[ch * w * h:(ch + 1) * w * h])
                p = x >= t
                tp, fn = int((g & p).sum()), int((g & ~p).sum())
                tn, fp = int((~g & ~p).sum()), int((~g & p).sum())
                tpr = tp / (tp + fn) if tp + fn > 0 else 1.0
                tnr = tn / (tn + fp) if tn + fp > 0 else 1.0
                total += Decimal((tpr + tnr) / 2.0).quantize(
                    Decimal("1e-18"), ROUND_HALF_UP)
            sums.append((total, t))
        total, t = max(sums)
        want[ch] = (t, float(Decimal(repr(float(total) / len(rows))).quantize(
            Decimal("1e-6"), ROUND_HALF_UP)))
    assert got == want, grid
