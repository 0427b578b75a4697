"""Operator/query registry.

Each operator module defines ``QUERIES: dict[name, (callable, oracle_sql)]``
where the callable is ``(spark, sf_dir) -> DataFrame`` and ``oracle_sql`` is
an equivalent DuckDB SQL string (or ``None`` for non-SQL-expressible ops —
the driver then records a weaker rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# --- driver-window policy inputs (see collect_registry's ORDER note) ---
WINDOW_SIZE = 50
# stable cross-family canaries, verified every round
CANARIES = ("q01_pricing_summary", "q17_outlier_votes",
            "dedup_incremental", "ingest_gate_pipeline",
            "stream_hourly_by_type")
# modules touched by the CURRENT round's diff (r14: the generationed-
# store recovery + burst persistence + shared-pass LM ledger + the new
# streaming media-verdicts companion live in streaming/events.py; the
# salted image fresh-plant family in operators/multimodal.py; ingest
# re-exports the media oracle SQL) — their value oracles are mandatory
# window members this round. Update this tuple each round alongside
# the regenerated _window_history.py (tools/window_policy.py).
TOUCHED_MODULES = ("events", "multimodal", "ingest")
# SURGICAL tier for sub-module diffs: when a round edits a helper
# inside a large module, whole-module granularity can overflow the
# 50-slot window (r14: the _cell_check cogroup + _lloyd_assign kernel
# rewrites touch similarity/linear — 29 value oracles as modules, but
# only the 6 queries whose builders transitively reach the two
# changed functions could plausibly change results; all 29 + the rest
# of the registry still run through the builder selfcheck trio every
# round). List the REACH SET of such edits here; enumerate it by
# grepping the changed helper names through the module's query
# builders (and remember callers in OTHER modules — here the
# streaming/ingest gate twins — which usually already sit in
# TOUCHED_MODULES).
TOUCHED_QUERIES = ("ann_incremental_assign", "ann_incremental_persisted",
                   "ann_ivf_trained_topk", "ann_trained_sweep",
                   "dedup_recall_sweep_embedding", "ml_kmeans_lloyd",
                   # r14 optimization pass: the percentile shared-buffer
                   # rewrite (relational), the triangle gram kernel
                   # (linear: _partial_gram -> gram + pca), and the
                   # size-gated LM skew split (text _score_against_lm ->
                   # the in-plan trainers; its events/ingest callers are
                   # whole-module mandatory above, excision's rescore is
                   # not, so it lists here)
                   "q24_percentiles", "ml_gram_matrix", "ml_pca_spectrum",
                   "text_lm_perplexity", "lm_incremental_refresh",
                   "lm_excise_rescore",
                   # r14 optimization pass, tokenize-hoist reach set
                   # (text._lm_tables/_score_against_lm callers are
                   # already listed above or whole-module mandatory;
                   # these are the additional BPE pair-counter and
                   # dedup _shingles/_hashed_shingles_df reaches,
                   # enumerated by tracing the helpers through the
                   # query builders)
                   "text_bpe_merges", "text_bpe_encode",
                   "dedup_clusters", "dedup_containment",
                   "dedup_incremental", "dedup_incremental_persisted",
                   "dedup_incremental_recall", "dedup_lsh_hot_buckets",
                   "dedup_minhash_candidates", "dedup_minhash_verified",
                   "dedup_recall_sweep")


def collect_registry() -> tuple[dict[str, QueryFn], dict[str, str]]:
    """Merge every operator module's QUERIES into (queries, oracles).

    Pure plan builders are wrapped in ``plan_cached`` (sources.tables):
    their DataFrame is deterministic in (session, sf_dir), so repeated
    invocation — bench reps, driver correctness + smoke passes — reuses
    one logical plan instead of re-paying hundreds of Py4J expression
    round-trips. Modules whose builders have construction-time side
    effects (sink writes, streaming runs, data-source registration) are
    excluded, as is the export query's side-effect writer.
    """
    from . import (curation, dedup, excision, graph, ingest, linear,
                   multimodal, outlier, relational, segmentation,
                   similarity, text, timeseries)
    from ..streaming import events as streaming_events
    from ..sources import cells as cells_src
    from ..sources import cells_datasource as cells_ds
    from ..sources import sinks as sinks_src
    from ..sources.tables import plan_cached

    impure_modules = (streaming_events, sinks_src, cells_ds)
    # also impure by construction: text_udtf_chunk registers a UDTF +
    # temp view; ann_pq_topk collects the PQ codebook at build time —
    # leaving them unwrapped keeps bench reps honest about that cost
    # multimodal_png_roundtrip materializes per-image PNG files at
    # construction (mkdtemp + a collected write job) — plan-caching it
    # would silently skip that cost on repeat invocations
    # ann_incremental_assign / ann_ivf_trained_topk run the Lloyd's
    # codebook training (driver-looped collects) at construction —
    # plan-caching them would silently skip the training cost on bench
    # reps; the *_persisted variants amortize it BY DESIGN (write-once
    # artifacts), so they stay cached like dedup_incremental_persisted
    impure_names = {"multimodal_export", "multimodal_png_roundtrip",
                    "text_udtf_chunk",
                    "text_udtf_ngrams", "text_udtf_table_arg",
                    "ann_pq_topk", "ann_pq_refine", "ml_kmeans_lloyd",
                    "ml_adaboost_stumps",
                    "q69_sql_udf", "q71_skew_autosalt", "ann_recall_eval",
                    "ann_recall_sweep", "ann_trained_sweep", "ann_incremental_assign",
                    "ann_ivf_trained_topk",
                    "q72_session_variable"}

    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    module_of: dict[str, str] = {}
    for mod in (relational, outlier, dedup, similarity, linear, graph, text,
                curation, ingest, excision, timeseries, streaming_events,
                cells_src, segmentation, multimodal, sinks_src, cells_ds):
        for name, (fn, sql) in getattr(mod, "QUERIES", {}).items():
            if name in queries:
                raise ValueError(f"duplicate query name: {name}")
            if mod not in impure_modules and name not in impure_names:
                fn = plan_cached(fn)
            queries[name] = fn
            module_of[name] = mod.__name__.rsplit(".", 1)[-1]
            if sql is not None:
                oracles[name] = sql
    # Registry ORDER — the steady-state window POLICY (r13 verdict
    # item 2). The independent driver verifies the FIRST 50 entries
    # (rows + schema + value hash vs DuckDB). Rounds 1-10 checked a
    # fixed 50; r11-r13 rotated until every value oracle had been
    # driver-verified at least once. From r14 on the window is
    # COMPUTED, so it can neither ossify nor skip a changed module:
    #   1. the five stable cross-family canaries, always;
    #   2. MANDATORY: every value oracle implemented in a module the
    #      current round's diff touched (TOUCHED_MODULES below,
    #      maintained per round) — the queries whose results this
    #      round could plausibly have changed;
    #   3. refill to 50 with the LEAST-RECENTLY-verified oracles
    #      (operators/_window_history.py, regenerated from the
    #      committed CORRECTNESS_r*.json by tools/window_policy.py;
    #      never-verified names sort first as round 0).
    # Name-keyed consumers (tests, bench, selfcheck) are unaffected
    # by ordering. tests/test_doc_counts.py pins the invariants:
    # every touched-module oracle inside the first 50, refill strictly
    # least-recent-first, history table ⊆ registry.
    from ._window_history import LAST_VERIFIED

    mandatory = [n for n in CANARIES if n in oracles]
    mandatory += sorted(
        n for n in oracles
        if (module_of[n] in TOUCHED_MODULES or n in TOUCHED_QUERIES)
        and n not in mandatory)
    if len(mandatory) > WINDOW_SIZE:
        raise ValueError(
            f"window policy: {len(mandatory)} mandatory oracles exceed "
            f"the {WINDOW_SIZE}-slot driver window — split the round's "
            "touched-module set across rounds")
    refill = sorted(
        (n for n in oracles if n not in mandatory),
        key=lambda n: (LAST_VERIFIED.get(n, 0), n))
    front = mandatory + refill[:WINDOW_SIZE - len(mandatory)]
    missing = [n for n in front if n not in queries]
    if missing:
        raise ValueError(f"front-of-registry names not found: {missing}")
    ordered = {n: queries[n] for n in front}
    ordered.update(queries)  # existing keys keep their front position
    return ordered, oracles
