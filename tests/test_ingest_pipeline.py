"""operators/ingest.py — the composed per-ingest gate pipeline: plan
shape (the shuffle-ledger claim: zero index-sized exchanges, index
layouts exploited) and verdict-flag consistency. Values are proven by
the composed DuckDB oracle (driver + parity suite); these tests pin the
SCALE claims the oracle can't see."""

from __future__ import annotations

import re

SF = "/root/testdata/sf0.001"

# artifact subdirs that are index-sized (or index-derived and growing)
# and must therefore never appear under a BroadcastExchange; vocab /
# gvocab (per-language / single-row) are legitimately broadcast-sized.
# The LM count tables c12 and c1 are checked more strictly below: they
# may not appear under a broadcast at all, reduced or not
_INDEX_SIZED = ("/digests", "/bands", "/shingles", "/assigned")


def _executed_plan(df):
    df.count()  # finalize the adaptive plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_composed_plan_exploits_every_index_layout(spark):
    """All five bucketed index tables (digests, bands, shingles, c12,
    c1) must be scanned with their bucketing USED — Spark prints
    'Bucketed: false (disabled by query planner)' when a layout exists
    but the join doesn't exploit it, which would mean the index side
    shuffles per ingest after all."""
    from big_data_science_project_spark.operators.ingest import (
        ingest_gate_pipeline)

    plan = _executed_plan(ingest_gate_pipeline(spark, SF))
    assert plan.count("Bucketed: true") >= 5, plan
    assert plan.count("Bucketed: false") == 0, plan


def test_composed_plan_never_broadcasts_an_index_side(spark):
    """Broadcasts in the composed plan must all be batch-sized or
    fixed-size (batch shingles/assignments, the per-doc gate outputs,
    vocab/gvocab) — never one of the index-sized artifacts."""
    from big_data_science_project_spark.operators.ingest import (
        ingest_gate_pipeline)

    plan = _executed_plan(ingest_gate_pipeline(spark, SF))
    lines = plan.splitlines()

    def indent(s: str) -> int:
        return len(s) - len(s.lstrip(" :+-"))

    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        # the exchange's SUBTREE: every following line strictly deeper
        # in the plan tree (a fixed window would leak into siblings)
        d = indent(line)
        sub_lines = [line]
        for nxt in lines[i + 1:]:
            if nxt.strip() and indent(nxt) <= d:
                break
            sub_lines.append(nxt)
        window = "\n".join(sub_lines)
        for sub in _INDEX_SIZED:
            if sub not in window:
                continue
            # an index-artifact SCAN inside a broadcast subtree is fine
            # only when the relation above it provably reduced to
            # batch/bounded size: an Aggregate, or a LeftSemi/LeftAnti
            # join (whose output is a subset of its LEFT — here the
            # batch side, e.g. the exact-tier verdict rows). A plain
            # inner/outer Join does NOT count: index⋈index output is
            # still index-sized and must never broadcast.
            upto = window.split(sub)[0]
            assert ("Aggregate" in upto or "LeftSemi" in upto
                    or "LeftAnti" in upto), (
                f"index artifact {sub} broadcast unreduced:\n{window}")
        # the c12 and c1 artifacts: raw paths end in /c12 or /c1,
        # bucketed copies live under c12_bkt_* or c1_bkt_*
        assert not re.search(r"/c12?\b|c12?_bkt", window), (
            f"LM count table under a broadcast:\n{window}")


def test_admitted_iff_every_binary_gate_passes(spark):
    from big_data_science_project_spark.operators.ingest import (
        ingest_gate_pipeline)

    rows = ingest_gate_pipeline(spark, SF).collect()
    assert rows, "batch split empty at sf0.001"
    for r in rows:
        want = int(r.exact_dup == 0 and r.n_verified == 0
                   and (r.is_neardup or 0) == 0)
        assert r.admitted == want, r
        assert r.avg_nll_milli is None or r.avg_nll_milli >= 0


# ---------------------------------------------------------------------------
# Unified cross-modality admission (r11 verdict item 6): composition
# must change no verdict of any per-modality gate, and the planted
# mixed fixture must land every tier where its own gate's tests pin it.
# ---------------------------------------------------------------------------
def test_unified_gate_equals_per_modality_gates(spark):
    from pyspark.sql import functions as F

    from big_data_science_project_spark.operators.ingest import (
        ingest_gate_pipeline, unified_ingest_gate)
    from big_data_science_project_spark.operators.multimodal import (
        multimodal_audio_ingest_gate, multimodal_ingest_dedup,
        multimodal_video_ingest_gate)

    uni = unified_ingest_gate(spark, SF).collect()
    got = {(r.modality, r.item_id):
           (r.tier, r.evidence_id, r.evidence_milli, r.admitted)
           for r in uni}
    assert len(got) == len(uni), "duplicate (modality, item) verdicts"
    assert {r.modality for r in uni} == {"text", "image", "audio",
                                         "video"}

    # independent re-derivation of the unified shape from each raw
    # gate output (test-side mapping, not the operator's). The milli
    # re-derivation must round HALF_UP like Spark's F.round — Python's
    # built-in round() is banker's (half-to-even) and would fail on a
    # correct value landing exactly on .5 (e.g. jaccard 1/16 -> 62.5).
    from decimal import ROUND_HALF_UP, Decimal

    def _milli(v):
        return int(Decimal(v * 1000).quantize(
            Decimal(1), rounding=ROUND_HALF_UP))

    want = {}
    for r in ingest_gate_pipeline(spark, SF).collect():
        if r.exact_dup == 1:
            tier, ev = "exact", 1000
        elif r.n_verified > 0:
            tier, ev = "near", _milli(r.best_jaccard)
        elif (r.is_neardup or 0) == 1:
            tier, ev = "ann", _milli(r.best_cos)
        else:
            tier, ev = "admitted", None
        want[("text", r.doc_id)] = (tier, None, ev,
                                    1 if tier == "admitted" else 0)
    for modality, df, idc in (
            ("image", multimodal_ingest_dedup(spark, SF), "image_id"),
            ("audio", multimodal_audio_ingest_gate(spark, SF),
             "clip_id"),
            ("video", multimodal_video_ingest_gate(spark, SF),
             "clip_id")):
        for r in df.collect():
            want[(modality, r[idc])] = (
                r.tier, r.evidence_id, None,
                1 if r.tier == "admitted" else 0)
    assert got == want

    # planted mixed-fixture expectations, cheapest tier each (the same
    # pins the per-gate tests carry, now proven through the union)
    from big_data_science_project_spark.operators import multimodal as M
    assert got[("audio",
                M.AUDIO_GATE_OFFSET + M.AUDIO_GATE_COPY_SRC)][0] == "exact"
    assert got[("audio", M.AUDIO_GATE_OFFSET
                + M.AUDIO_GATE_SHIFT_SRC)][0] == "fingerprint"
    assert got[("video",
                M.VIDEO_GATE_OFFSET + M.VIDEO_GATE_COPY_SRC)][0] == "exact"
    assert got[("video", M.VIDEO_GATE_OFFSET
                + M.VIDEO_GATE_TRIM_SRC)][0] == "fingerprint"
    assert got[("image",
                M.INGEST_IMG_OFFSET + 2)][0] == "exact"
    for (mod, _id), (tier, _e, _m, admitted) in got.items():
        assert admitted == (1 if tier == "admitted" else 0), (mod, _id)


def test_stream_unified_gate_matches_batch_twin(spark):
    """The live mixed-modality intake must reproduce the batch unified
    gate row-for-row: every per-modality gate screens each item against
    static index state only (no cross-batch coupling), so the two
    mtime-ordered mixed triggers union to the one-shot batch result —
    the stream_ingest_pipeline twin property, extended to all four
    modalities through the shared _text_to_unified/_media_to_unified
    mapping."""
    from big_data_science_project_spark.operators.ingest import (
        unified_ingest_gate)
    from big_data_science_project_spark.streaming.events import (
        stream_unified_ingest_gate)

    got = sorted(map(tuple,
                     stream_unified_ingest_gate(spark, SF).collect()))
    want = sorted(map(tuple, unified_ingest_gate(spark, SF).collect()))
    assert got == want and got
    # both files really carried a mixed batch: every modality appears
    # in each parity split of the staged item set
    mods = {m for m, *_ in got}
    assert mods == {"text", "image", "audio", "video"}
