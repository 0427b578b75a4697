"""Composed per-ingest gate pipeline — every admission gate the engine
implements, run over ONE batch from PERSISTED artifacts, one verdict
row per document (r8 verdict item 4: "a production ingest runs all
three gates per batch from persisted state").

The reference has no ingestion pipeline at all (its workload is
per-image cytometry, ``main.py:1-27``); this is mandate surface — the
LLM-training-data path the engine exists for. The gates composed here
are each individually value-oracled elsewhere; this query's oracle is
their composition, so a hash match proves the composed plan changes no
value of any part.

Per document (md5-bucket >= INDEX_PCT = the fresh batch; documents and
embeddings share the id space, so doc i's vector is vec i and both
fall on the same side of the split):
  - exact_dup       — md5 digest ∈ persisted index digests
  - n_candidates /
    n_verified /
    best_jaccard    — the LSH near tier vs the persisted bands/shingles
  - avg_nll_milli   — bigram-LM surprise vs the persisted LM tables
  - best_cos /
    is_neardup      — same-cell cosine vs the persisted IVF index
  - admitted        — passes every BINARY gate (exact, near-verified,
                      ANN near-dup); the LM score is reported raw — a
                      quality CUTOFF is a policy choice, not a property
                      of the corpus, so the pipeline surfaces the
                      signal and leaves thresholding to the caller.

SHUFFLE LEDGER at 100 TB — N batch-sized passes, ZERO index-sized
ones (every index side is consulted through a layout that already
matches its join, so per ingest the index is read, never moved):
  1. exact tier: batch digests exchange once into the BUCKETED digest
     table's layout (merge-hinted SMJ semi-join; the index scan reports
     its HashPartitioning from the file layout — no index exchange).
  2. near tier: one batch-sized shingle pass (the only text scan),
     batch bands exchange into the bucketed bands table's
     (band_id, band_key) layout, candidates (batch-scale, hot buckets
     capped at artifact-build time) exchange into the bucketed shingle
     table's doc_id layout for verification.
  3. LM gate: batch bigrams exchange into the bucketed c12 then c1
     layouts (the index-side frequent-history skew never moves);
     vocab/gvocab are per-language/1-row broadcasts.
  4. ANN gate: batch vectors assign map-only against the K-row
     codebook; the cell check joins on centroid_id, the persisted
     index's PARTITION key.
  5. verdict assembly: per-doc joins of the four batch-sized gate
     outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .curation import _bucket
from .dedup import (INDEX_PCT, _INCREMENTAL_SQL, _index_artifacts,
                    bucketed_digest_table, near_tier_vs_artifacts)
from .similarity import _ANN_INCREMENTAL_SQL, ann_incremental_persisted
from .text import _LM_PERPLEXITY_SQL, lm_artifacts, lm_score_vs_artifacts

QUERIES: dict = {}


def exact_gate(batch: DataFrame, base_dg: DataFrame) -> DataFrame:
    """Exact tier over the bucketed digest table: (doc_id, exact_dup=1)
    for batch docs whose digest is already indexed — merge-hinted so
    the bucketed side reads in place."""
    return (batch.select("doc_id", F.md5("text").alias("dg"))
            .join(base_dg.hint("merge"), "dg", "left_semi")
            .select("doc_id", F.lit(1).alias("exact_dup")))


def assemble_verdicts(near: DataFrame, exact: DataFrame, lm: DataFrame,
                      ann: DataFrame) -> DataFrame:
    """Per-doc verdict row from the four gate outputs — shared by the
    batch pipeline and its streaming twin (streaming/events.py) so the
    verdict schema and the admitted rule exist once."""
    return (near
            .join(exact, "doc_id", "left")
            .join(lm.select("doc_id", "avg_nll_milli"), "doc_id")
            .join(ann.select(F.col("vec_id").alias("doc_id"),
                             "best_cos", "is_neardup"),
                  "doc_id", "left")
            .select("doc_id",
                    F.coalesce("exact_dup", F.lit(0)).cast("bigint")
                    .alias("exact_dup"),
                    "n_candidates", "n_verified", "best_jaccard",
                    "avg_nll_milli", "best_cos", "is_neardup",
                    F.when((F.coalesce("exact_dup", F.lit(0)) == 0)
                           & (F.col("n_verified") == 0)
                           & (F.coalesce("is_neardup", F.lit(0)) == 0),
                           1).otherwise(0).cast("bigint")
                    .alias("admitted")))


def ingest_gate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch = (load_table(spark, sf_dir, "documents")
             .filter(_bucket(F.col("doc_id")) >= INDEX_PCT))

    exact = exact_gate(batch,
                       spark.table(bucketed_digest_table(spark, sf_dir)))
    near = near_tier_vs_artifacts(
        spark, batch, _index_artifacts(spark, sf_dir))
    lm = lm_score_vs_artifacts(spark, batch, lm_artifacts(spark, sf_dir))
    ann = ann_incremental_persisted(spark, sf_dir)
    return assemble_verdicts(near, exact, lm, ann)


_INGEST_PIPELINE_SQL = f"""
WITH ded AS ({_INCREMENTAL_SQL}),
lm AS ({_LM_PERPLEXITY_SQL}),
ann AS ({_ANN_INCREMENTAL_SQL})
SELECT d.doc_id, d.exact_dup, d.n_candidates, d.n_verified,
       d.best_jaccard, l.avg_nll_milli, a.best_cos, a.is_neardup,
       CAST(CASE WHEN d.exact_dup = 0 AND d.n_verified = 0
                  AND COALESCE(a.is_neardup, 0) = 0
            THEN 1 ELSE 0 END AS BIGINT) AS admitted
FROM ded d
JOIN lm l ON l.doc_id = d.doc_id
LEFT JOIN ann a ON a.vec_id = d.doc_id
"""

QUERIES["ingest_gate_pipeline"] = (ingest_gate_pipeline,
                                   _INGEST_PIPELINE_SQL)


# ---------------------------------------------------------------------------
# Unified cross-modality admission pipeline (r11 verdict item 6) — the
# shape a production corpus intake runs nightly: ONE operator takes the
# mixed-modality batch (text documents + image/audio/video clips, each
# family's planted fixture) and emits ONE verdict row per item with
# modality, winning tier, and the evidence behind it. Composition only:
# every per-modality gate keeps existing exactly as it is (text gates
# value-oracled by _INGEST_PIPELINE_SQL; media gates pinned by their
# planted-expectation tests), and tests/test_ingest_pipeline.py pins
# that this union changes no row of any of them.
#
# Unified schema:
#   modality        text | image | audio | video
#   item_id         doc_id / image_id / clip_id in the modality's space
#   tier            the CHEAPEST tier that caught the item —
#                   text:  exact | near | ann | admitted
#                   image: exact | phash | structural | admitted
#                   a/v:   exact | fingerprint | admitted
#   evidence_id     media: the index item the tier matched (null when
#                   admitted); text: null — the text gates measure
#                   against aggregate artifacts (bands, LM, IVF cells),
#                   not a single source row
#   evidence_milli  text: the winning tier's signal ×1000 (exact→1000,
#                   near→best_jaccard, ann→best_cos); media: null
#   admitted        1 iff no tier caught it (the text LM score stays a
#                   reported signal, not a cutoff — ingest_gate_pipeline
#                   policy)
#
# 100 TB shape: each sub-gate is batch-sized work against persisted or
# broadcast index state (their own shuffle ledgers); the union is a
# plan-level concatenation — no shuffle, no barrier. A deployment
# dispatches on a stored modality column (partition pruning), exactly
# this union read in reverse.
# ---------------------------------------------------------------------------
def _text_to_unified(text_verdicts: DataFrame) -> DataFrame:
    """Map ingest_gate_pipeline's per-doc verdict columns onto the
    unified row shape — shared by the batch gate and its streaming
    twin so the tier precedence and evidence encoding exist once."""
    is_near = F.col("n_verified") > 0
    is_ann = F.coalesce("is_neardup", F.lit(0)) == 1
    return text_verdicts.select(
        F.lit("text").alias("modality"),
        F.col("doc_id").cast("long").alias("item_id"),
        F.when(F.col("exact_dup") == 1, F.lit("exact"))
         .when(is_near, F.lit("near"))
         .when(is_ann, F.lit("ann"))
         .otherwise(F.lit("admitted")).alias("tier"),
        F.lit(None).cast("bigint").alias("evidence_id"),
        F.when(F.col("exact_dup") == 1, F.lit(1000))
         .when(is_near, F.round(F.col("best_jaccard") * 1000))
         .when(is_ann, F.round(F.col("best_cos") * 1000))
         .cast("bigint").alias("evidence_milli"))


def _media_to_unified(df: DataFrame, modality: str,
                      id_col: str) -> DataFrame:
    """Map a media gate's (id, tier, evidence_id) verdict onto the
    unified row shape."""
    return df.select(
        F.lit(modality).alias("modality"),
        F.col(id_col).cast("long").alias("item_id"),
        "tier",
        F.col("evidence_id").cast("bigint").alias("evidence_id"),
        F.lit(None).cast("bigint").alias("evidence_milli"))


def unified_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lazy import: operators/__init__ loads ingest before multimodal
    from .multimodal import (multimodal_audio_ingest_gate,
                             multimodal_ingest_dedup,
                             multimodal_video_ingest_gate)

    unified = (_text_to_unified(ingest_gate_pipeline(spark, sf_dir))
               .unionByName(_media_to_unified(
                   multimodal_ingest_dedup(spark, sf_dir),
                   "image", "image_id"))
               .unionByName(_media_to_unified(
                   multimodal_audio_ingest_gate(spark, sf_dir),
                   "audio", "clip_id"))
               .unionByName(_media_to_unified(
                   multimodal_video_ingest_gate(spark, sf_dir),
                   "video", "clip_id")))
    return unified.withColumn(
        "admitted",
        (F.col("tier") == "admitted").cast("bigint"))


QUERIES["unified_ingest_gate"] = (unified_ingest_gate, None)


# ---------------------------------------------------------------------------
# Driver-hashable companion to the unified gate (r12 verdict item 7):
# unified_ingest_gate is rows-only because the media tiers (SURF vote,
# MDCT landmarks, frame hashes) aren't DuckDB-expressible — but the
# planted mixed-fixture EXPECTATIONS are constants: which item each
# tier catches and which index item is its evidence are pinned by the
# per-gate pytest tests (tests/test_multimodal.py) and don't depend on
# sf_dir (the media fixtures are deterministic generators). This
# companion selects exactly the media verdict rows of the unified
# gate, and its oracle is a VALUES literal DERIVED FROM THE SAME
# PLANTED CONSTANTS — so the driver's rows+schema+hash compare turns
# the pytest pins into an independently-checked value oracle. Any
# drift in a gate's verdict (a tier stops catching its plant, an
# evidence id moves) now fails the driver gate, not just pytest.
# ---------------------------------------------------------------------------
def unified_media_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .multimodal import (multimodal_audio_ingest_gate,
                             multimodal_ingest_dedup,
                             multimodal_video_ingest_gate)

    return (_media_to_unified(multimodal_ingest_dedup(spark, sf_dir),
                              "image", "image_id")
            .unionByName(_media_to_unified(
                multimodal_audio_ingest_gate(spark, sf_dir),
                "audio", "clip_id"))
            .unionByName(_media_to_unified(
                multimodal_video_ingest_gate(spark, sf_dir),
                "video", "clip_id"))
            .select("modality", "item_id", "tier", "evidence_id"))


def _media_expect_sql() -> str:
    """The planted expectations as one VALUES literal, derived from the
    fixture constants (single source of truth with the generators):
    fresh items admitted with no evidence; each planted edit caught by
    the tier built for it with its source as evidence."""
    from . import multimodal as M

    rows: list[tuple] = []
    for i in range(M.INGEST_IMG_INDEX,
                   M.INGEST_IMG_INDEX + M.INGEST_IMG_FRESH):
        rows.append(("image", i, "admitted", None))
    rows += [("image", M.INGEST_IMG_OFFSET + 2, "exact", 2),
             ("image", M.INGEST_IMG_OFFSET + 5, "phash", 5),
             ("image", M.INGEST_IMG_OFFSET + 0, "structural", 0),
             ("image", M.INGEST_IMG_OFFSET + 1, "structural", 1)]
    for c in M.AUDIO_GATE_FRESH:
        rows.append(("audio", c, "admitted", None))
    rows += [("audio", M.AUDIO_GATE_OFFSET + s, "fingerprint", s)
             for s in (M.AUDIO_GATE_SHIFT_SRC, M.AUDIO_GATE_REENC_SRC)]
    rows.append(("audio", M.AUDIO_GATE_OFFSET + M.AUDIO_GATE_COPY_SRC,
                 "exact", M.AUDIO_GATE_COPY_SRC))
    for c in M.VIDEO_GATE_FRESH:
        rows.append(("video", c, "admitted", None))
    rows += [("video", M.VIDEO_GATE_OFFSET + s, "fingerprint", s)
             for s in (M.VIDEO_GATE_TRIM_SRC, M.VIDEO_GATE_BRIGHT_SRC)]
    rows.append(("video", M.VIDEO_GATE_OFFSET + M.VIDEO_GATE_COPY_SRC,
                 "exact", M.VIDEO_GATE_COPY_SRC))

    vals = ",\n  ".join(
        f"('{m}', {i}, '{t}', "
        + ("NULL" if e is None else str(e)) + ")"
        for m, i, t, e in rows)
    return f"""
SELECT modality, CAST(item_id AS BIGINT) AS item_id, tier,
       CAST(evidence_id AS BIGINT) AS evidence_id
FROM (VALUES
  {vals}) AS t(modality, item_id, tier, evidence_id)
"""


def _register_media() -> None:
    # bottom-of-module registration (the excision.py idiom): the SQL
    # needs multimodal's fixture constants, and multimodal imports
    # nothing from ingest, so this import is cycle-free
    QUERIES["unified_media_verdicts"] = (unified_media_verdicts,
                                         _media_expect_sql())


_register_media()
