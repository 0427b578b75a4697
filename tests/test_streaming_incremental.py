"""Streaming semantics under REAL multi-micro-batch execution: the
registry's availableNow queries consume the fixture in one batch, so
this splits events into several files and forces one file per trigger —
verifying the stateful aggregation accumulates across batches to the
exact batch-mode result (the online-Welford property the reference's
add_sample intended, outlier_detection.py:15-25)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from big_data_science_project_spark.functions.numeric import dsum
from big_data_science_project_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def split_events_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_split"))
    ev = load_table(spark, SF, "events")
    ev.repartition(4).write.mode("overwrite").parquet(d)
    n_files = len([f for f in os.listdir(d) if f.endswith(".parquet")])
    assert n_files >= 3, "need multiple files to get multiple micro-batches"
    return d


def test_stateful_agg_across_micro_batches(spark, split_events_dir):
    schema = spark.read.parquet(split_events_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(split_events_dir))
    agg = (stream.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n"),
                F.round(F.avg("value"), 6).alias("mean_value"),
                F.round(F.stddev_samp("value"), 6).alias("stddev_value")))
    q = (agg.writeStream.format("memory").queryName("inc_welford")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3, f"expected multiple micro-batches, got {n_batches}"

    got = {r["event_type"]: (r["n"], r["mean_value"], r["stddev_value"])
           for r in spark.table("inc_welford").collect()}
    batch = {r["event_type"]: (r["n"], r["mean_value"], r["stddev_value"])
             for r in spark.read.parquet(split_events_dir)
             .groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.avg("value"), 6).alias("mean_value"),
                  F.round(F.stddev_samp("value"), 6).alias("stddev_value"))
             .collect()}
    assert got == batch


def test_custom_stateful_operator_accumulates(spark):
    """applyInPandasWithState: per-user stats must build up over multiple
    micro-batches — some user must emit several cumulative rows, and the
    final rows must equal the batch aggregate (the registry oracle)."""
    from big_data_science_project_spark.streaming.events import (
        stream_user_stats_stateful)

    final = stream_user_stats_stateful(spark, SF)
    got = {r["user_id"]: (r["n"], r["mean_value"]) for r in final.collect()}

    batch = {r["user_id"]: (r["n"], r["mean_value"])
             for r in load_table(spark, SF, "events")
             .groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.round(F.sum(F.col("value").cast("decimal(28,2)"))
                          .cast("double") / F.count(F.lit(1)), 6)
                  .alias("mean_value"))
             .collect()}
    assert got == batch

    # cross-batch emission: the operator's memory sink (stable name) must
    # hold more rows than users (cumulative updates from several batches)
    n_updates = spark.table("stream_result_user_stats_stateful").count()
    assert n_updates > len(got), (n_updates, len(got))


def test_windowed_append_respects_watermark(spark, split_events_dir):
    """Append mode only emits windows the watermark has closed — after
    availableNow drains everything, all-but-the-latest windows are out."""
    schema = spark.read.parquet(split_events_dir).schema
    # the split copy was written from the loader's output, so ts is already
    # a micros timestamp (no nanosAsLong step on re-read)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(split_events_dir))
    agg = (stream.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"))
           .agg(F.count(F.lit(1)).alias("n")))
    q = (agg.writeStream.format("memory").queryName("inc_windows")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    emitted = spark.table("inc_windows").count()
    total_windows = (spark.read.parquet(split_events_dir)
                     .select(F.date_trunc("hour", "ts")).distinct().count())
    # final watermark closes every window except those within 1h of max ts
    assert 0 < emitted < total_windows


def test_late_event_dropped_by_watermark(spark, tmp_path):
    """True late-data semantics: an event arriving in a LATER micro-batch
    with a timestamp far behind the watermark must be DROPPED — its
    window's count stays what the on-time data produced. File order is
    pinned via mtimes (FileStreamSource admits oldest-first)."""
    import time as _time

    d = str(tmp_path)
    ev = load_table(spark, SF, "events").select("ts", "value")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()

    early = ev.filter(F.col("ts") < F.lit(hi) - F.expr("INTERVAL 2 DAYS"))
    target_hour = early.select(
        F.date_trunc("hour", "ts").alias("h")).groupBy("h").count() \
        .orderBy("h").first()
    advance = ev.filter(F.col("ts") >= F.lit(hi) - F.expr("INTERVAL 2 DAYS"))
    late = spark.createDataFrame(
        [(target_hour["h"], 1.0)], "ts timestamp, value double")

    for i, df in enumerate((early, advance, late)):
        p = os.path.join(d, f"f{i}")
        df.coalesce(1).write.mode("overwrite").parquet(p)
        t = _time.time() - 300 + i * 60
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (t, t))

    schema = early.schema
    stream = (spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
              .parquet(os.path.join(d, "*")))
    agg = (stream.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"))
           .agg(F.count(F.lit(1)).alias("n")))
    q = (agg.writeStream.format("memory").queryName("late_drop")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3, n_batches

    got = {r["w"]["start"]: r["n"] for r in spark.table("late_drop").collect()}
    # the late row targeted an hour whose window closed in batch 2 — its
    # emitted count must equal the ON-TIME count, proving the drop
    assert got[target_hour["h"]] == target_hour["count"]


def test_session_window_merges_across_batches(spark, tmp_path):
    """Session windows whose events arrive in different micro-batches
    must merge into the same session state: the drained stream result
    equals the batch session_window aggregation exactly. Files are split
    in TIME ORDER (mtime-pinned) so the watermark advances monotonically
    and nothing is spuriously late — the realistic arrival pattern."""
    import time as _time

    d = str(tmp_path)
    ev = load_table(spark, SF, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 4
    for i in range(4):
        part = ev.filter(
            (F.col("ts") >= F.lit(lo + i * span))
            & (F.col("ts") <= F.lit(hi) if i == 3
               else F.col("ts") < F.lit(lo + (i + 1) * span)))
        p = os.path.join(d, f"f{i}")
        part.coalesce(1).write.mode("overwrite").parquet(p)
        t = _time.time() - 300 + i * 60
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (t, t))
    src = os.path.join(d, "*")
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    def sessions(df):
        return (df.filter(F.col("user_id") < 20)
                .withWatermark("ts", "1 hour")
                .groupBy("user_id",
                         F.session_window("ts", "30 minutes").alias("w"))
                .agg(F.count(F.lit(1)).alias("n")))

    q = (sessions(stream).writeStream.format("memory")
         .queryName("inc_sessions").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted((r["user_id"], r["w"]["start"], r["w"]["end"], r["n"])
                 for r in spark.table("inc_sessions").collect())
    batch_df = (spark.read.parquet(src)
                .filter(F.col("user_id") < 20)
                .groupBy("user_id",
                         F.session_window("ts", "30 minutes").alias("w"))
                .agg(F.count(F.lit(1)).alias("n")))
    # append mode withholds sessions not yet closed by the final
    # watermark (within 1h of max ts) — exclude them from the batch
    # expectation the same way
    import datetime
    wm = hi - datetime.timedelta(hours=1)
    batch = sorted((r["user_id"], r["w"]["start"], r["w"]["end"], r["n"])
                   for r in batch_df.collect() if r["w"]["end"] <= wm)
    assert got == batch


def test_window_chain_across_batches(spark, tmp_path):
    """Chained hourly→daily window aggregation (two stateful operators in
    one query) with time-ordered multi-batch arrival: the drained daily
    rows equal the batch daily aggregate under the same watermark cut
    (days whose end ≤ max ts − 1 h), and hourly partials produced in
    different micro-batches roll up into the same day."""
    import time as _time

    d = str(tmp_path)
    ev = load_table(spark, SF, "events")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 4
    for i in range(4):
        part = ev.filter(
            (F.col("ts") >= F.lit(lo + i * span))
            & (F.col("ts") <= F.lit(hi) if i == 3
               else F.col("ts") < F.lit(lo + (i + 1) * span)))
        p = os.path.join(d, f"f{i}")
        part.coalesce(1).write.mode("overwrite").parquet(p)
        t = _time.time() - 300 + i * 60
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (t, t))
    src = os.path.join(d, "*")
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    hourly = (stream.withWatermark("ts", "1 hour")
              .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
              .agg(F.count(F.lit(1)).alias("n")))
    daily = (hourly.groupBy(
                 F.window(F.window_time("w"), "1 day").alias("dw"),
                 "event_type")
             .agg(F.sum("n").cast("bigint").alias("n"))
             .select(F.col("dw.start").alias("day"), "event_type", "n"))
    q = (daily.writeStream.format("memory").queryName("inc_chain")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 3, n_batches

    got = {(r["day"], r["event_type"]): r["n"]
           for r in spark.table("inc_chain").collect()}
    import datetime as _dt
    cut = hi - _dt.timedelta(hours=1)
    want = {(r["day"], r["event_type"]): r["n"]
            for r in ev.groupBy(F.date_trunc("day", "ts").alias("day"),
                                "event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .filter(F.col("day") + F.expr("INTERVAL 1 DAY") <= F.lit(cut))
            .collect()}
    assert got == want


def test_stream_dedup_against_index_flags_planted_dup(spark, tmp_path):
    """The streaming exact gate must flag a streamed doc whose text
    already exists in the static index: doc 1 (md5-bucket < 80 → index)
    and doc 5 (bucket >= 80 → streamed batch) share text; doc 14
    (batch) is unique. Report: 2 new docs, 1 exact dup."""
    import pandas as pd

    from big_data_science_project_spark.streaming.events import (
        stream_dedup_against_index)

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = pd.DataFrame({
        "doc_id": pd.array([1, 5, 14], dtype="int64"),
        "text": [base, base, "a completely different document body"],
        "lang": ["en"] * 3, "source": ["s"] * 3,
        "n_chars": pd.array([len(base), len(base), 36], dtype="int64"),
    })
    d = str(tmp_path)
    docs.to_parquet(os.path.join(d, "documents.parquet"))
    rows = stream_dedup_against_index(spark, d).collect()
    assert len(rows) == 1
    assert rows[0].lang == "en"
    assert rows[0].n_new == 2
    assert rows[0].n_exact_dup == 1


def test_stream_near_index_flags_planted_near_dup(spark, tmp_path):
    """The streaming LSH near tier must catch a MUTATED clone across the
    index/batch split: doc 2 (bucket 30 → index) vs doc 8 (bucket 96 →
    streamed batch, one token changed); doc 14 (batch) is unrelated and
    must pass clean."""
    import pandas as pd

    from big_data_science_project_spark.streaming.events import (
        stream_dedup_near_index)

    base = ("the quick brown fox jumps over the lazy dog while the "
            "rain in spain falls mainly on the plain every single day")
    near = base.replace("lazy dog", "sleepy dog")
    docs = pd.DataFrame({
        "doc_id": pd.array([2, 8, 14], dtype="int64"),
        "text": [base, near, "unrelated short text"],
        "lang": ["en"] * 3, "source": ["s"] * 3,
        "n_chars": pd.array([len(base), len(near), 20], dtype="int64"),
    })
    d = str(tmp_path)
    docs.to_parquet(os.path.join(d, "documents.parquet"))
    got = {r.doc_id: r
           for r in stream_dedup_near_index(spark, d).collect()}
    assert set(got) == {8, 14}
    assert got[8].n_candidates >= 1
    assert got[8].n_verified >= 1 and got[8].best_jaccard >= 0.5
    assert got[14].n_candidates == 0 and got[14].best_jaccard is None


def test_stream_ingest_loop_refresh_gates_cross_batch_dup(spark, tmp_path):
    """The ingestion loop must close: a doc ADMITTED in batch 0 gates
    its duplicate in batch 1 (live index refresh via the foreachBatch
    re-read). Buckets: doc 1→78 (index), 5→86 & 23→85 (batch 0),
    14→99 & 25→93 (batch 1). Texts: doc 5 duplicates the index doc
    (gated in batch 0); doc 25 duplicates doc 23's NOVEL text — only
    the batch-0/batch-1 refresh can gate it; doc 14 is novel.
    Expect n_new=4, n_admitted=2 (docs 23 and 14), across 2 real
    micro-batches."""
    import pandas as pd

    import big_data_science_project_spark.streaming.events as ev

    idx_text = ("alpha beta gamma delta epsilon zeta eta theta iota "
                "kappa lambda mu nu xi omicron pi rho sigma tau")
    novel = ("one two three four five six seven eight nine ten eleven "
             "twelve thirteen fourteen fifteen sixteen")
    other = "completely separate words for the second novel document"
    docs = pd.DataFrame({
        "doc_id": pd.array([1, 5, 23, 14, 25], dtype="int64"),
        "text": [idx_text, idx_text, novel, other, novel],
        "lang": ["en"] * 5, "source": ["s"] * 5,
        "n_chars": pd.array([1] * 5, dtype="int64"),
    })
    d = str(tmp_path)
    docs.to_parquet(os.path.join(d, "documents.parquet"))
    rows = ev.stream_ingest_loop(spark, d).collect()
    assert len(rows) == 1
    assert (rows[0].n_new, rows[0].n_admitted) == (4, 2)
    n_batches = len([p for p in ev.LAST_QUERY.recentProgress
                     if p["numInputRows"] > 0])
    assert n_batches == 2, n_batches


def test_stream_lm_quality_matches_batch_twin(spark, lm_planted_dir):
    """The streaming LM gate must reproduce the batch scorer
    value-for-value through the artifact round-trip (train once to
    parquet, score the streamed batch in foreachBatch) — same shared
    planted corpus as the batch test (conftest.lm_planted_dir), so the
    twins can never drift apart."""
    import big_data_science_project_spark.streaming.events as ev
    from big_data_science_project_spark.operators.text import (
        text_lm_perplexity)

    got = sorted(map(tuple,
                     ev.stream_lm_quality(spark, lm_planted_dir).collect()))
    want = sorted(map(tuple,
                      text_lm_perplexity(spark, lm_planted_dir).collect()))
    assert got == want
    by_id = {r[0]: r for r in got}
    assert by_id[5][4] < by_id[8][4]  # in-distribution beats garbled
    assert by_id[18][4] >= by_id[8][4]  # unindexed lang ≥ garbled


def test_stream_ann_gate_flags_planted_cross_split_neardup(spark, tmp_path):
    """The streaming ANN gate must flag a streamed vector that
    near-duplicates an INDEX vector (planted across the md5-bucket
    split: vec 2 → bucket 30 = index, vec 5 → bucket 86 = batch, same
    direction + tiny noise → cosine ≈ 1), pass a random batch vector
    (vec 8) clean, and reproduce BOTH batch twins value-for-value
    through the artifact round-trip (assign/check is per-vector-vs-
    index with no cross-batch state, so the union over any micro-batch
    split equals the batch run — asserted here as stream == persisted
    == in-plan)."""
    import numpy as np
    import pandas as pd

    import big_data_science_project_spark.streaming.events as ev
    from big_data_science_project_spark.operators.similarity import (
        ann_incremental_assign, ann_incremental_persisted)

    rng = np.random.default_rng(7)
    vecs = {}
    for vid in (1, 2, 3, 4, 6, 7, 9, 10):  # buckets < 80 → index
        vecs[vid] = rng.normal(size=64).astype(np.float32)
    vecs[5] = (vecs[2] * 1.02                # bucket 86 → batch
               + rng.normal(scale=0.01, size=64)).astype(np.float32)
    vecs[8] = rng.normal(size=64).astype(np.float32)  # bucket 96 → batch
    ids = sorted(vecs)
    emb = pd.DataFrame({
        "vec_id": pd.array(ids, dtype="int64"),
        "embedding": [vecs[i].tolist() for i in ids],
        "label": pd.array([0] * len(ids), dtype="int32"),
    })
    d = str(tmp_path)
    emb.to_parquet(os.path.join(d, "embeddings.parquet"))

    got = sorted(map(tuple, ev.stream_ann_gate(spark, d).collect()))
    assert got == sorted(map(tuple,
                             ann_incremental_persisted(spark, d).collect()))
    assert got == sorted(map(tuple,
                             ann_incremental_assign(spark, d).collect()))
    by_id = {r[0]: r for r in got}
    assert set(by_id) == {5, 8}
    # (vec_id, centroid_id, n_cell_neighbors, best_cos, is_neardup)
    assert by_id[5][4] == 1 and by_id[5][3] > 0.9
    assert by_id[8][4] == 0


def test_stream_ingest_pipeline_matches_batch_twin(spark):
    """The live composed pipeline must reproduce the batch pipeline
    value-for-value through the artifact round-trip — they share every
    gate helper and the verdict assembly, and each gate is per-doc vs
    static index (no cross-batch state), so any micro-batch split
    unions to the batch result."""
    import big_data_science_project_spark.streaming.events as ev
    from big_data_science_project_spark.operators.ingest import (
        ingest_gate_pipeline)

    sf = "/root/testdata/sf0.001"
    got = sorted(map(tuple, ev.stream_ingest_pipeline(spark, sf).collect()))
    want = sorted(map(tuple, ingest_gate_pipeline(spark, sf).collect()))
    assert got == want and got


def test_stream_excise_readmission_and_gate_state(spark):
    """Streaming excision end-to-end (merge≡retrain, third use — on the
    gate itself): a doc admitted in batch 0 and excised in batch 1 is
    RE-ADMITTED in batch 2 (declared policy); the post-run bloom bitmap
    equals a from-scratch build over base ∪ surviving admissions — the
    excised digests' bits are gone unless a survivor shares them."""
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from big_data_science_project_spark.functions.bloom import bloom_build
    from big_data_science_project_spark.operators.curation import _bucket
    from big_data_science_project_spark.operators.dedup import INDEX_PCT
    from big_data_science_project_spark.sources.tables import load_table
    from big_data_science_project_spark.streaming.events import (
        STREAM_EXCISE_MOD, STREAM_EXCISE_RES, stream_ingest_excise_loop)

    sf = "/root/testdata/sf0.01"
    out = stream_ingest_excise_loop(spark, sf)
    report = {r.lang: r for r in out.collect()}
    st = out._excise_state

    docs = load_table(spark, sf, "documents")
    bk = _bucket(F.col("doc_id"))
    b0 = docs.filter((bk >= INDEX_PCT) & (bk < 90))
    take_dg = {r.dg for r in
               b0.filter(F.col("doc_id") % STREAM_EXCISE_MOD
                         == STREAM_EXCISE_RES)
               .select(F.md5("text").alias("dg")).collect()}
    assert take_dg, "fixture must plant a non-empty takedown set"
    assert sum(r.n_excised for r in report.values()) > 0

    gen_dir = f"{st['work']}/admitted/gen={st['gen']}"
    parts = {d: f"{gen_dir}/{d}" for d in os.listdir(gen_dir)
             if d.startswith("batch=")}
    assert set(parts) == {"batch=0", "batch=2"}
    # the rewrite generation carries its commit marker (torn-rewrite
    # recovery, ADVICE r13)
    from big_data_science_project_spark.streaming.events import \
        _GEN_MARKER
    assert os.path.exists(f"{gen_dir}/{_GEN_MARKER}")
    dg0 = {r.dg for r in
           spark.read.schema("dg string").parquet(parts["batch=0"])
           .collect()}
    dg2 = {r.dg for r in
           spark.read.schema("dg string").parquet(parts["batch=2"])
           .collect()}
    # excised from batch 0's partition, re-admitted in batch 2's
    assert not (take_dg & dg0)
    assert take_dg <= dg2

    # gate-state equality: rebuilt-then-grown bitmap == from-scratch
    survivors = (spark.table(st["base_tbl"]).select("dg")
                 .unionByName(spark.read.schema("dg string")
                              .parquet(f"{gen_dir}/batch=*")))
    fresh = bloom_build(survivors, "dg", num_bits=st["num_bits"],
                        k=st["bloom"].k)
    assert np.array_equal(st["bloom"].words, fresh.words)


def _ledger_c12(spark, path):
    """Bigram rows of a single-table ledger partition (w2 NOT NULL is
    the row-kind discriminator — events.py ledger header)."""
    from pyspark.sql import functions as F
    return (spark.read.parquet(path).filter(F.col("w2").isNotNull())
            .select("lang", "w1", "w2", F.col("n").alias("c12")))


def _ledger_wdoc(spark, path):
    """Per-token document-count rows of a ledger partition (w2 NULL)."""
    from pyspark.sql import functions as F
    return (spark.read.parquet(path).filter(F.col("w2").isNull())
            .select("lang", F.col("w1").alias("w"),
                    F.col("n").alias("doc_count")))


def test_stream_excise_lm_decrements_equal_retrain(spark):
    """The takedown trigger's (negative) LM ledger rows are the exact
    mergeable decrement: full-batch c12/wdoc plus the streamed signed
    counts == training from scratch on the survivors
    (decrement≡retrain for the mid-stream path)."""
    from pyspark.sql import functions as F

    from big_data_science_project_spark.operators.curation import _bucket
    from big_data_science_project_spark.operators.dedup import INDEX_PCT
    from big_data_science_project_spark.operators.text import (
        _lm_tables, _wdoc_counts)
    from big_data_science_project_spark.sources.tables import load_table
    from big_data_science_project_spark.streaming.events import (
        STREAM_EXCISE_MOD, STREAM_EXCISE_RES, stream_ingest_excise_loop)

    sf = "/root/testdata/sf0.01"
    st = stream_ingest_excise_loop(spark, sf)._excise_state
    # default COMPACT_EVERY: no fold ran, the takedown trigger's
    # partition is batch=1 of generation 0 (signed — negative counts)
    dec = f"{st['lm_root']}/gen=0/batch=1"

    docs = load_table(spark, sf, "documents")
    bk = _bucket(F.col("doc_id"))
    b0 = docs.filter((bk >= INDEX_PCT) & (bk < 90))
    take_pred = (F.col("doc_id") % STREAM_EXCISE_MOD
                 == STREAM_EXCISE_RES)
    surv = b0.filter(~take_pred)

    d12 = _ledger_c12(spark, dec).withColumnRenamed("c12", "d12")
    c12_dec = (_lm_tables(b0)[0]
               .join(d12, ["lang", "w1", "w2"], "left")
               .select("lang", "w1", "w2",
                       (F.col("c12") + F.coalesce("d12", F.lit(0)))
                       .cast("bigint").alias("c12"))
               .filter(F.col("c12") > 0))
    want12 = sorted(map(tuple, _lm_tables(surv)[0].collect()))
    assert sorted(map(tuple, c12_dec.collect())) == want12

    dwd = _ledger_wdoc(spark, dec).withColumnRenamed("doc_count", "dc")
    wdoc_dec = (_wdoc_counts(b0)
                .join(dwd, ["lang", "w"], "left")
                .select("lang", "w",
                        (F.col("doc_count") + F.coalesce("dc", F.lit(0)))
                        .cast("bigint").alias("doc_count"))
                .filter(F.col("doc_count") > 0))
    want_wd = sorted(map(tuple, _wdoc_counts(surv).collect()))
    assert sorted(map(tuple, wdoc_dec.collect())) == want_wd


def test_lm_ledger_fold_preserves_decrement_equiv_retrain(spark,
                                                          monkeypatch):
    """r12 verdict item 3 end-to-end: a multi-takedown burst with the
    fold forced on (COMPACT_EVERY=2) nets increment AND decrement
    partitions mid-stream; the folded ledger must equal training from
    scratch on the surviving add-row multiset — for the c12/wdoc
    tables AND for the LM scores derived from them — and the final
    generation must hold exactly one partition pair however many
    triggers ran (the bounded-growth claim)."""
    import os

    from pyspark.sql import functions as F

    import big_data_science_project_spark.streaming.events as ev
    from big_data_science_project_spark.operators.curation import _bucket
    from big_data_science_project_spark.operators.dedup import INDEX_PCT
    from big_data_science_project_spark.operators.text import (
        _lm_tables, _score_against_lm, _wdoc_counts)
    from big_data_science_project_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    monkeypatch.setattr(ev, "COMPACT_EVERY", 2)
    st = ev.stream_ingest_excise_loop(spark, sf,
                                      excise_splits=3)._excise_state

    # triggers: add, excise x3, add → the fenced start-of-trigger fold
    # fires at least twice mid-stream (gen >= 2 — the exact count
    # depends on how many takedown slices are non-empty at this sf;
    # empty slices write no partition), so decrement partitions really
    # fold mid-burst, and the sweep bounds the tail
    assert st["lm_gen"] >= 2
    gen_dir = f"{st['lm_root']}/gen={st['lm_gen']}"
    parts = sorted(d for d in os.listdir(gen_dir)
                   if d.startswith("batch="))
    assert len(parts) == 1  # bounded by a constant, not trigger count

    net12 = (_ledger_c12(spark, f"{gen_dir}/{parts[0]}")
             .filter(F.col("c12") > 0))
    netwd = (_ledger_wdoc(spark, f"{gen_dir}/{parts[0]}")
             .filter(F.col("doc_count") > 0))

    # survivor add-row multiset: (b0 \ take) ∪ batch-2 rows (the
    # re-upload re-adds the taken-down docs, fresh 90-99 alongside)
    docs = load_table(spark, sf, "documents")
    bk = _bucket(F.col("doc_id"))
    b0 = docs.filter((bk >= INDEX_PCT) & (bk < 90))
    take = b0.filter(F.col("doc_id") % ev.STREAM_EXCISE_MOD
                     == ev.STREAM_EXCISE_RES)
    surv = (b0.exceptAll(take)
            .unionByName(docs.filter(bk >= 90).unionByName(take)))

    want12 = sorted(map(tuple, _lm_tables(surv)[0].collect()))
    assert sorted(map(tuple, net12.collect())) == want12
    want_wd = sorted(map(tuple, _wdoc_counts(surv).collect()))
    assert sorted(map(tuple, netwd.collect())) == want_wd

    # and the user-visible claim: LM scores from the folded ledger ==
    # scores from a from-scratch survivor retrain (c1/vocab/gvocab
    # re-derive from the folded tables — LM-sized, never corpus)
    # deterministic probe slice (limit() without order would be
    # partition-layout-dependent)
    probe = docs.filter((bk < INDEX_PCT) & (F.col("doc_id") % 17 == 0))
    c1 = net12.groupBy("lang", "w1").agg(
        F.sum("c12").cast("bigint").alias("c1"))
    vocab = netwd.groupBy("lang").agg(
        F.countDistinct("w").alias("v"))
    gvocab = netwd.agg(F.countDistinct("w").alias("gv"))
    got = sorted(map(tuple, _score_against_lm(
        probe, net12, c1, vocab, gvocab).collect()))
    r12, r1, rv, rgv = _lm_tables(surv)
    want = sorted(map(tuple, _score_against_lm(
        probe, r12, r1, rv, rgv).collect()))
    assert got == want and got


# ---------------------------------------------------------------------------
# Store compaction (r11 verdict item 3): folding a generation's batch
# partitions into one partition in the next generation must leave the
# digest SET — and therefore the gate's bloom and every later
# admission decision — exactly as it was, while bounding the part
# count the per-batch unions and listings grow with.
# ---------------------------------------------------------------------------
def test_mid_stream_compaction_preserves_admissions(spark, monkeypatch):
    """Run the ingest loop over FOUR add batches so compaction (forced
    at COMPACT_EVERY=2) fires mid-stream with add batches still to
    come; the report and the final admitted-digest set must equal the
    uncompacted run's, and the final generation must hold exactly one
    partition however many batches ran."""
    import big_data_science_project_spark.streaming.events as ev
    from big_data_science_project_spark.operators.dedup import INDEX_PCT

    sf = "/root/testdata/sf0.01"
    splits = ((INDEX_PCT, 84), (84, 88), (88, 92), (92, 100))

    plain = ev.stream_ingest_loop(spark, sf, splits=splits)
    want = sorted(map(tuple, plain.collect()))
    assert want, "fixture must admit something"

    monkeypatch.setattr(ev, "COMPACT_EVERY", 2)
    compacted = ev.stream_ingest_loop(spark, sf, splits=splits)
    got = sorted(map(tuple, compacted.collect()))
    assert got == want  # every remaining batch admitted identically

    st, st0 = compacted._ingest_state, plain._ingest_state
    # compaction really ran mid-stream: batches 0+1 fold at the START
    # of batch 2 (fenced below its id), {fold, batch 2} at the start
    # of batch 3, and the end-of-stream sweep folds {fold, batch 3}
    assert st["gen"] == 3 and st0["gen"] == 0
    parts = ev._gen_parts(st["admitted_root"], st["gen"])
    assert len(parts) == 1  # bounded by a constant, not batch count
    plain_parts = ev._gen_parts(st0["admitted_root"], st0["gen"])
    assert len(plain_parts) == len(splits)

    def dgs(paths):
        return {r.dg for r in
                spark.read.schema("dg string").parquet(*paths).collect()}

    assert dgs(parts) == dgs(plain_parts)  # digest-set identity


def test_excise_loop_compaction_preserves_gate_state(spark, monkeypatch):
    """The excise loop with compaction forced on (COMPACT_EVERY=2)
    must produce the identical add/excise/re-add ledger AND the
    identical post-run gate: digest set equal to the uncompacted run's
    and bloom bitmap equal to a from-scratch build over
    base ∪ surviving admissions."""
    import numpy as np

    import big_data_science_project_spark.streaming.events as ev
    from big_data_science_project_spark.functions.bloom import bloom_build

    sf = "/root/testdata/sf0.01"
    plain = ev.stream_ingest_excise_loop(spark, sf)
    want = sorted(map(tuple, plain.collect()))
    st0 = plain._excise_state

    monkeypatch.setattr(ev, "COMPACT_EVERY", 2)
    out = ev.stream_ingest_excise_loop(spark, sf)
    got = sorted(map(tuple, out.collect()))
    assert got == want and got
    st = out._excise_state

    # excise bumped gen 0->1; the end-of-stream sweep folds batch 2's
    # add beside the rewritten batch 0 -> gen 2 (start-of-trigger
    # compaction is fenced below the active id, so the sweep is where
    # the final fold happens here)
    assert st["gen"] == st0["gen"] + 1
    parts = ev._gen_parts(f"{st['work']}/admitted", st["gen"])
    assert len(parts) == 1
    plain_parts = ev._gen_parts(f"{st0['work']}/admitted", st0["gen"])
    assert len(plain_parts) == 2  # batch=0 (rewritten) + batch=2

    def dgs(paths):
        return {r.dg for r in
                spark.read.schema("dg string").parquet(*paths).collect()}

    assert dgs(parts) == dgs(plain_parts)

    # gate-state identity through compaction: the live bloom (rebuilt
    # at excision, grown at batch 2, untouched by compaction) equals a
    # from-scratch build over base ∪ the COMPACTED store
    survivors = (spark.table(st["base_tbl"]).select("dg")
                 .unionByName(spark.read.schema("dg string")
                              .parquet(*parts)))
    fresh = bloom_build(survivors, "dg", num_bits=st["num_bits"],
                        k=st["bloom"].k)
    assert np.array_equal(st["bloom"].words, fresh.words)


def test_ingest_loop_restart_resumes_without_readmission(spark, tmp_path):
    """Restart recovery end-to-end: run the loop over the first two
    arrival files, then a second run RESUMES the same work dir with the
    later files — including a RE-DELIVERY of an already-processed
    bucket range (the crash-replay case recovery exists for). The
    resumed run must admit none of the first run's digests again, and
    its lifetime report must equal the single uninterrupted run's.
    This bites only through the _resume_floor fence: without a
    checkpoint the resumed run's foreachBatch ids restart at 0, and a
    raw before=batch_id fence would hide every prior-run partition
    from the exact-verify read — re-admitting the whole re-delivered
    range."""
    import big_data_science_project_spark.streaming.events as ev
    from big_data_science_project_spark.operators.curation import _bucket
    from big_data_science_project_spark.operators.dedup import INDEX_PCT
    from big_data_science_project_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    a_splits = ((INDEX_PCT, 84), (84, 88))
    b_splits = ((84, 92), (92, 100))  # (84,88) re-delivered on resume
    single = ev.stream_ingest_loop(spark, sf,
                                   splits=a_splits + b_splits)
    want = sorted(map(tuple, single.collect()))

    def dgs(paths):
        return {r.dg for r in
                spark.read.schema("dg string").parquet(*paths).collect()}

    work = str(tmp_path)
    ev.stream_ingest_loop(spark, sf, splits=a_splits,
                          work_dir=work).collect()
    a_root = f"{work}/admitted"
    a_dgs = dgs(ev._gen_parts(a_root, ev._cur_gen(a_root)))
    assert a_dgs, "run A must admit something"

    # the re-delivered range really carries run-A admissions — without
    # this overlap the no-readmission claim below would be vacuous
    docs = load_table(spark, sf, "documents")
    bk = _bucket(F.col("doc_id"))
    redelivered = {r.dg for r in
                   docs.filter((bk >= 84) & (bk < 88))
                   .select(F.md5("text").alias("dg")).collect()}
    assert redelivered & a_dgs

    resumed = ev.stream_ingest_loop(spark, sf, splits=b_splits,
                                    work_dir=work)
    got = sorted(map(tuple, resumed.collect()))
    st = resumed._ingest_state
    parts_b = [p for p in ev._gen_parts(st["admitted_root"], st["gen"])
               if int(p.rsplit("=", 1)[1]) >= 2]  # floor = 2 on resume
    assert parts_b, "resumed run must write its own partitions"
    # (a) nothing the first run admitted is admitted again
    assert not (a_dgs & dgs(parts_b))
    # (b) lifetime report (both runs' batches) == single-run report
    assert got == want and got


def test_compaction_retry_fence_invariants(spark, tmp_path):
    """The foreachBatch-retry hazard the fence exists for (ADVICE r12):
    compaction running for active batch B must (a) label its fold
    strictly below B even when an orphan batch=B partition from a
    failed earlier attempt sits in the generation, (b) leave that
    orphan out of the fold (the retry rewrites it), and (c) no-op on
    the retry itself — so the ``before=B`` earlier-read always sees
    every prior admission and the retry's own overwrite can never
    clobber the fold."""
    import big_data_science_project_spark.streaming.events as ev

    root = str(tmp_path / "store")

    def write(g, k, dgs):
        spark.createDataFrame([(d,) for d in dgs], "dg string") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(f"{root}/gen={g}/batch={k}")

    def dgs(paths):
        return {r.dg for r in
                spark.read.schema("dg string").parquet(*paths).collect()}

    write(0, 0, ["a", "b"])
    write(0, 1, ["c"])
    write(0, 2, ["x-partial"])  # orphan: batch 2's failed first attempt

    state = {"gen": 0}
    # start of batch 2 (the retry): fence at B=2
    parts = ev._gen_parts(root, 0, before=2)
    assert [p.rsplit("=", 1)[1] for p in parts] == ["0", "1"]
    ev._compact_gen(spark, root, state, before=2)
    assert state["gen"] == 1
    fold = ev._gen_parts(root, 1)
    # (a) label strictly below the active id, (b) orphan excluded
    assert [p.rsplit("=", 1)[1] for p in fold] == ["1"]
    assert dgs(fold) == {"a", "b", "c"}
    # batch 2's rewrite lands BESIDE the fold, not over it
    write(1, 2, ["d"])
    assert dgs(ev._gen_parts(root, 1, before=3)) == {"a", "b", "c", "d"}
    # (c) a second retry of batch 2 finds one fenced part — no-op
    ev._compact_gen(spark, root, state, before=2)
    assert state["gen"] == 1
    assert dgs(ev._gen_parts(root, 1)) == {"a", "b", "c", "d"}


def test_excise_loop_restart_recovery(spark, tmp_path):
    """A takedown delivered AFTER a driver restart must excise
    admissions made before it: run the loop's add phase alone, then a
    second run resuming the same work dir delivers the excise + re-add
    phases. The resumed run's lifetime ledger must equal the single
    uninterrupted run's, and the post-run bloom must equal a
    from-scratch build over base ∪ the surviving store — the recovery
    claim, end-to-end through the shared _resume_floor fence (the
    resumed run's ids continue above the prior run's, so its on-disk
    layout is batch-for-batch the single run's)."""
    import numpy as np

    import big_data_science_project_spark.streaming.events as ev
    from big_data_science_project_spark.functions.bloom import bloom_build

    sf = "/root/testdata/sf0.01"
    single = ev.stream_ingest_excise_loop(spark, sf)
    want = sorted(map(tuple, single.collect()))

    work = str(tmp_path)
    ev.stream_ingest_excise_loop(spark, sf, phases=(0,),
                                 work_dir=work).collect()
    resumed = ev.stream_ingest_excise_loop(spark, sf, phases=(1, 2),
                                           work_dir=work)
    got = sorted(map(tuple, resumed.collect()))
    assert got == want and got
    assert sum(r[3] for r in got) > 0  # the takedown really excised

    st = resumed._excise_state
    parts = ev._gen_parts(f"{work}/admitted", st["gen"])
    survivors = (spark.table(st["base_tbl"]).select("dg")
                 .unionByName(spark.read.schema("dg string")
                              .parquet(*parts)))
    fresh = bloom_build(survivors, "dg", num_bits=st["num_bits"],
                        k=st["bloom"].k)
    assert np.array_equal(st["bloom"].words, fresh.words)


def test_excise_restart_mid_burst_counts_against_preburst_store(
        spark, tmp_path):
    """ADVICE r13 (burst state on disk): a restart that splits a
    takedown BURST — run 1 ends after the burst's first slice, run 2
    delivers the second slice and the re-add — must produce the single
    uninterrupted run's ledger. Without the persisted pre-burst
    generation number, run 2's first excise trigger would open a NEW
    burst and snapshot the already-half-excised store, undercounting
    any slice-2 takedown row whose digest slice 1 already removed."""
    import big_data_science_project_spark.streaming.events as ev

    sf = "/root/testdata/sf0.01"
    single = ev.stream_ingest_excise_loop(spark, sf, excise_splits=2)
    want = sorted(map(tuple, single.collect()))

    work = str(tmp_path)
    # staged files with excise_splits=2: f0=add, f1=excise slice 0,
    # f2=excise slice 1, f3=re-add — the restart lands MID-burst
    ev.stream_ingest_excise_loop(spark, sf, excise_splits=2,
                                 phases=(0, 1), work_dir=work).collect()
    assert os.path.exists(f"{work}/burst.json"), \
        "run 1 must leave the open burst recorded on disk"
    resumed = ev.stream_ingest_excise_loop(spark, sf, excise_splits=2,
                                           phases=(2, 3), work_dir=work)
    got = sorted(map(tuple, resumed.collect()))
    assert got == want and got
    assert sum(r[3] for r in got) > 0
    # the re-add trigger closed the burst on disk too
    assert not os.path.exists(f"{work}/burst.json")


def test_torn_fold_recovery_falls_back_to_complete_generation(
        spark, tmp_path):
    """ADVICE r13 (medium): a crash mid-fold/rewrite leaves a partial
    generation G+1 with no commit marker. Recovery must (a) resume at
    the highest COMPLETE generation, (b) delete the trash so a redone
    fold can't merge stale partial partitions, and (c) skip individual
    torn batch partitions (no _SUCCESS; for LM pairs, either half
    missing) inside a complete generation."""
    import big_data_science_project_spark.streaming.events as ev

    root = str(tmp_path / "store")

    def write(g, k, dgs):
        spark.createDataFrame([(d,) for d in dgs], "dg string") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(f"{root}/gen={g}/batch={k}")

    write(0, 0, ["a"])
    write(0, 1, ["b"])
    # torn fold: gen=1 written but the crash hit before the marker
    write(1, 1, ["a", "b"])
    assert ev._cur_gen(root) == 0
    assert ev._recover_store(root) == 0
    assert not os.path.isdir(f"{root}/gen=1"), "trash gen not deleted"

    # completed fold: marker present -> it IS the current generation
    state = {"gen": 0}
    ev._compact_gen(spark, root, state)
    assert state["gen"] == 1
    assert ev._cur_gen(root) == 1 and ev._recover_store(root) == 1

    # (c) torn batch partition inside the current generation: strip
    # its _SUCCESS -> invisible to _gen_parts, generation still current
    write(1, 7, ["c"])
    os.remove(f"{root}/gen=1/batch=7/_SUCCESS")
    assert ev._gen_parts(root, 1) == [f"{root}/gen=1/batch=1"]
    assert ev._resume_floor(root, 1) == 2  # floor ignores the torn part

    # LM ledger completeness (r15 single-table layout): a torn write
    # (no _SUCCESS) is invisible exactly like a digest partition's
    lm = str(tmp_path / "lm")
    spark.createDataFrame([("en", "a", "b", 1), ("en", "a", None, 1)],
                          ev._LM_LEDGER_SCHEMA) \
        .write.mode("overwrite").parquet(f"{lm}/gen=0/batch=0")
    assert ev._gen_parts(lm, 0) == [f"{lm}/gen=0/batch=0"]
    os.remove(f"{lm}/gen=0/batch=0/_SUCCESS")
    assert ev._gen_parts(lm, 0) == []


def test_excise_loop_resumes_past_torn_fold(spark, tmp_path):
    """End-to-end torn-fold recovery: run the excise loop's add phase,
    plant a fake partial fold generation above the committed store
    (what a crash mid-_compact_gen leaves), then resume. The resumed
    run must clear the trash, rebuild its gate over the COMPLETE
    generation, and produce the single-run ledger — without the
    recovery fix the partial fold (here poisoned EMPTY) would erase
    every prior admission from the gate's earlier-read, re-admitting
    run 1's docs on re-upload."""
    import big_data_science_project_spark.streaming.events as ev

    sf = "/root/testdata/sf0.01"
    single = ev.stream_ingest_excise_loop(spark, sf)
    want = sorted(map(tuple, single.collect()))

    work = str(tmp_path)
    ev.stream_ingest_excise_loop(spark, sf, phases=(0,),
                                 work_dir=work).collect()
    root = f"{work}/admitted"
    # a torn fold: gen=1 exists, parquet half-written (empty dir with
    # an uncommitted partition), NO _GEN_COMPLETE marker
    os.makedirs(f"{root}/gen=1/batch=0", exist_ok=True)
    resumed = ev.stream_ingest_excise_loop(spark, sf, phases=(1, 2),
                                           work_dir=work)
    got = sorted(map(tuple, resumed.collect()))
    assert got == want and got


def test_excise_burst_split_invariant(spark):
    """A takedown burst staged as K=3 sequential triggers (each paying
    its own generation rewrite + bloom rebuild) must produce the exact
    ledger of the single batched trigger — the slices are disjoint and
    excisions precede adds within each trigger. This is the semantic
    floor for timing K=1 against K>1: the K runs are interchangeable
    in RESULT, differing only in cost."""
    import numpy as np

    from big_data_science_project_spark.functions.bloom import bloom_build
    from big_data_science_project_spark.streaming.events import (
        stream_ingest_excise_loop)

    sf = "/root/testdata/sf0.01"
    plain = stream_ingest_excise_loop(spark, sf)
    want = sorted(map(tuple, plain.collect()))
    burst = stream_ingest_excise_loop(spark, sf, excise_splits=3)
    got = sorted(map(tuple, burst.collect()))
    assert got == want and got

    # and the post-run gate is the same gate: bitmap identity with a
    # from-scratch build over base ∪ the burst run's surviving store
    st = burst._excise_state
    import big_data_science_project_spark.streaming.events as ev
    parts = ev._gen_parts(f"{st['work']}/admitted", st["gen"])
    survivors = (spark.table(st["base_tbl"]).select("dg")
                 .unionByName(spark.read.schema("dg string")
                              .parquet(*parts)))
    fresh = bloom_build(survivors, "dg", num_bits=st["num_bits"],
                        k=st["bloom"].k)
    assert np.array_equal(st["bloom"].words, fresh.words)
