"""operators/excision.py: the retraction lifecycle. The fixture-scale
oracle (driver/selfcheck) proves decrement≡retrain on the real corpus;
these tests plant a corpus where the NON-MERGEABLE parts must visibly
change — an excised doc carrying a unique token (the vocabulary must
shrink: a stale carried-over vocab row would be invisible on a corpus
where every token survives) — and pin the per-family delete semantics.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

# planted ids (md5-bucket side precomputed): index-excised ids are
# bucket<80 AND doc_id%7==3 AND lang per row below; 5 is batch-side
_EXC_ID = 3          # excised: en, carries the unique token
_SRV_EN = (1, 2, 4)  # surviving en docs
_SRV_FR = 6          # untouched language (the carried-over branch)
_BATCH = 5           # bucket >= 80: the probe batch doc


@pytest.fixture(scope="module")
def excise_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("excise_fixture"))
    docs = pd.DataFrame([
        (_EXC_ID, "the quick zzzunique fox jumps over the lazy dog "
                  "again and again", "en"),
        (_SRV_EN[0], "the quick brown fox jumps over the lazy dog", "en"),
        (_SRV_EN[1], "a lazy dog sleeps while the quick fox runs", "en"),
        (_SRV_EN[2], "the fox and the dog share the quick meadow", "en"),
        (_SRV_FR, "le renard rapide saute par dessus le chien", "fr"),
        (_BATCH, "the quick fox jumps over the dog", "en"),
    ], columns=["doc_id", "text", "lang"])
    docs["source"] = "planted"
    docs["n_chars"] = docs["text"].str.len()
    docs.to_parquet(os.path.join(d, "documents.parquet"))
    # the ANN family needs an embeddings table; reuse the real fixture
    shutil.copy("/root/testdata/sf0.001/embeddings.parquet",
                os.path.join(d, "embeddings.parquet"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_vocab_decrement_drops_unique_token(spark, excise_dir):
    """The excised doc's unique token must LEAVE the vocabulary via the
    wdoc DECREMENT (no survivor-shard rescan): its (en, zzzunique) row
    reaches doc_count 0 and drops, shared tokens' doc counts decrement
    but survive, and the untouched language's rows pass through
    verbatim."""
    from big_data_science_project_spark.operators.excision import (
        excised_artifacts)
    from big_data_science_project_spark.operators.text import lm_artifacts

    x = excised_artifacts(spark, excise_dir)
    lm = lm_artifacts(spark, excise_dir)
    v_b = {r.lang: r.v for r in
           spark.read.parquet(f"{lm}/vocab").collect()}
    v_a = {r.lang: r.v for r in
           spark.read.parquet(f"{x}/vocab").collect()}
    assert v_a["en"] < v_b["en"]          # decremented branch shrank
    assert v_a["fr"] == v_b["fr"]         # untouched branch intact
    wd_b = {(r.lang, r.w): r.doc_count for r in
            spark.read.parquet(f"{lm}/wdoc").collect()}
    wd_a = {(r.lang, r.w): r.doc_count for r in
            spark.read.parquet(f"{x}/wdoc").collect()}
    assert wd_b[("en", "zzzunique")] == 1
    assert ("en", "zzzunique") not in wd_a          # reached zero → gone
    assert wd_a[("en", "the")] == wd_b[("en", "the")] - 1  # decremented
    assert wd_a[("fr", "renard")] == wd_b[("fr", "renard")]  # verbatim
    gv_b = spark.read.parquet(f"{lm}/gvocab").first().gv
    gv_a = spark.read.parquet(f"{x}/gvocab").first().gv
    assert gv_a < gv_b


def test_rescore_equals_retrain_on_survivors(spark, excise_dir):
    """decrement≡retrain, end to end on the planted corpus: scoring
    the batch against the DECREMENTED artifacts must equal training
    from scratch on the survivors."""
    from big_data_science_project_spark.operators.curation import _bucket
    from big_data_science_project_spark.operators.excision import (
        _doc_excised, lm_excise_rescore)
    from big_data_science_project_spark.operators.dedup import INDEX_PCT
    from big_data_science_project_spark.operators.text import (
        _lm_tables, _score_against_lm)
    from big_data_science_project_spark.sources.tables import load_table

    got = sorted(map(tuple, lm_excise_rescore(spark, excise_dir).collect()))
    docs = load_table(spark, excise_dir, "documents")
    bk = _bucket(F.col("doc_id"))
    surv = docs.filter((bk < INDEX_PCT) & ~_doc_excised())
    want = sorted(map(tuple, _score_against_lm(
        docs.filter(bk >= INDEX_PCT),
        *_lm_tables(surv)).collect()))
    assert got == want and len(got) == 1


def test_per_family_deletes(spark, excise_dir):
    """Row-level semantics: shingles/bands lose exactly the excised
    doc's rows; digests lose the excised doc's digest (unique text);
    c12 decrements — planted bigram ('the','quick') appears in both an
    excised and a surviving doc, so its row survives with a lower
    count, while ('quick','zzzunique') disappears."""
    from big_data_science_project_spark.operators.excision import (
        artifact_excise, excised_artifacts)

    rows = {r.artifact: r for r in
            artifact_excise(spark, excise_dir).collect()}
    assert rows["digests"].n_removed == 1
    assert rows["shingles"].n_removed == 1
    assert rows["bands"].n_removed > 0
    assert rows["lm_vocab"].n_removed == 0   # both langs still exist
    x = excised_artifacts(spark, excise_dir)
    c12 = {(r.lang, r.w1, r.w2): r.c12 for r in
           spark.read.parquet(f"{x}/c12").collect()}
    assert ("en", "quick", "zzzunique") not in c12
    assert c12[("en", "the", "quick")] >= 1
