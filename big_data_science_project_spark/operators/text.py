"""Text-analysis operators over the ``documents`` table (engine-mandated
LLM-data-pipeline surface; SURVEY.md Phase 5).

All tokenization/scoring stays JVM-side (split/regexp/higher-order array
functions) — no Python UDFs in any hot path, so every operator is
whole-stage-codegen'd and scales linearly with input splits.

LM scoring (``_score_against_lm``) has one plan: the batch joins the
history and bigram counts by two plain equi-joins. A reduce task of
those joins holds every batch bigram of one key, so a corpus with
million-occurrence histories (or over ~64 MiB of documents) is not a
supported workload; no fixture, test or registry query comes near it
(the largest history count is ~3.8k at sf0.1).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table

QUERIES: dict = {}

# tiny English stopword list used by the language-ID heuristic; kept short
# and mirrored verbatim in the oracle SQL
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def _tokens(col):
    return F.split(F.col(col), " ")


# ---------------------------------------------------------------------------
# token / length statistics per source
# ---------------------------------------------------------------------------
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens("text")
    return (
        d.select("source", "n_chars", F.size(toks).alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


QUERIES["text_token_stats"] = (text_token_stats, """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY source
""")


# ---------------------------------------------------------------------------
# quality scoring: length / mean token length / stopword ratio → per-row
# deterministic double score, bucketed for a stable aggregate output
# ---------------------------------------------------------------------------
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens("text")
    n_tok = F.size(toks).cast("double")
    sw_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t))).cast("double")
    mean_tok_len = (F.col("n_chars").cast("double") - (n_tok - 1)) / n_tok
    score = (
        F.when(n_tok >= 20, 0.4).otherwise(0.0)
        + F.when((mean_tok_len >= 3) & (mean_tok_len <= 10), 0.3).otherwise(0.0)
        + F.when((n_stop / n_tok) >= 0.05, 0.3).otherwise(0.0)
    )
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(score, 2).alias("quality"),
    )


QUERIES["text_quality"] = (text_quality, f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
         CAST(len(list_filter(string_split(text, ' '),
              x -> list_contains({list(STOPWORDS)!r}, x))) AS DOUBLE) AS n_stop,
         (CAST(n_chars AS DOUBLE) - (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_tok_len
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(ROUND(CASE WHEN n_tok >= 20 THEN 0.4 ELSE 0.0 END
           + CASE WHEN mean_tok_len BETWEEN 3 AND 10 THEN 0.3 ELSE 0.0 END
           + CASE WHEN n_stop / n_tok >= 0.05 THEN 0.3 ELSE 0.0 END, 2) AS DOUBLE)
         AS quality
FROM t
""")


# ---------------------------------------------------------------------------
# language-ID heuristic: stopword-hit ratio → 'en' / 'other'; judged
# against the labeled lang column
# ---------------------------------------------------------------------------
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens("text")
    sw_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))
    pred = F.when(
        n_stop.cast("double") / F.size(toks).cast("double") >= 0.03, "en"
    ).otherwise("other")
    return (
        d.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


QUERIES["lang_id"] = (lang_id, f"""
SELECT lang,
       CASE WHEN CAST(len(list_filter(string_split(text, ' '),
                 x -> list_contains({list(STOPWORDS)!r}, x))) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE) >= 0.03
            THEN 'en' ELSE 'other' END AS pred_lang,
       COUNT(*) AS n
FROM documents
GROUP BY 1, 2
""")


# ---------------------------------------------------------------------------
# document fingerprinting: md5 of normalized text (rolling-hash analogue;
# md5 is identical across engines so the fingerprint is portable)
# ---------------------------------------------------------------------------
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = F.substring(F.md5(F.lower(F.trim(F.col("text")))), 1, 16)
    return d.select("doc_id", fp.alias("fingerprint"))


QUERIES["doc_fingerprint"] = (doc_fingerprint, """
SELECT doc_id, SUBSTRING(md5(LOWER(TRIM(text))), 1, 16) AS fingerprint
FROM documents
""")


# ---------------------------------------------------------------------------
# rolling-hash fingerprint (Rabin-Karp over tokens): h ← (h·B + hash(t)) mod P
# as a single higher-order fold — order-sensitive, unlike the md5-of-text
# fingerprint above, so equal token sequences (not just equal strings)
# collide. Integer arithmetic is replayed exactly by the oracle.
# ---------------------------------------------------------------------------
_RH_B = 1000003
_RH_P = 2147483647  # h < P, B < 2^20 ⇒ h·B + t < 2^51: no bigint overflow


def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok_h = lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10) \
        .cast("bigint") % _RH_P
    fp = F.aggregate(
        _tokens("text"), F.lit(0).cast("bigint"),
        lambda acc, t: (acc * _RH_B + tok_h(t)) % _RH_P)
    return d.select("doc_id", fp.alias("rolling_fp"))


QUERIES["doc_rolling_fingerprint"] = (doc_rolling_fingerprint, f"""
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(string_split(text, ' '),
             t -> CAST(('0x' || SUBSTRING(md5(t), 1, 15)) AS BIGINT) % {_RH_P})),
         (acc, t) -> (acc * {_RH_B} + t) % {_RH_P}) AS rolling_fp
FROM documents
""")


# ---------------------------------------------------------------------------
# BPE-ish regex token count (word pieces / numbers / punctuation)
# ---------------------------------------------------------------------------
def regex_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n = F.size(F.expr(r"regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
    return (
        d.select("source", n.alias("n_pieces"))
        .groupBy("source")
        .agg(F.sum("n_pieces").cast("bigint").alias("total_pieces"),
             F.count(F.lit(1)).alias("n_docs"))
    )


QUERIES["regex_token_count"] = (regex_token_count, """
SELECT source,
       CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT)
         AS total_pieces,
       COUNT(*) AS n_docs
FROM documents
GROUP BY source
""")


# ---------------------------------------------------------------------------
# characteristic terms per document: TF/DF ranking (high term frequency in
# the doc, low document frequency in the corpus — the tf-idf ordering with
# an integer-exact rank key instead of a float idf, so the ranking is
# reproducible bit-for-bit in any engine with no libm dependence). The
# corpus-wide DF table is the classic two-level aggregate (distinct
# (doc,term) → count per term) with full map-side combine; the probe-doc
# filter prunes the TF side before the join.
# ---------------------------------------------------------------------------
TOP_TERMS_K = 3
TOP_TERMS_DOCS = 20


def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens("text")).alias("tok"))
    dfc = (tok.distinct()
           .groupBy("tok").agg(F.count(F.lit(1)).alias("df")))
    tf = (tok.filter(F.col("doc_id") < TOP_TERMS_DOCS)
          .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("tok"))
    return (
        tf.join(dfc, "tok")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_TERMS_K)
        .select("doc_id", "tok", "tf", "df", "rn")
    )


QUERIES["text_top_terms"] = (text_top_terms, f"""
WITH tok AS (
  SELECT doc_id, t.tok AS tok
  FROM documents, LATERAL unnest(string_split(text, ' ')) AS t(tok)
),
dfc AS (
  SELECT tok, COUNT(*) AS df
  FROM (SELECT DISTINCT doc_id, tok FROM tok) u
  GROUP BY tok
),
tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM tok WHERE doc_id < {TOP_TERMS_DOCS}
  GROUP BY doc_id, tok
)
SELECT doc_id, tok, tf, df, rn
FROM (
  SELECT t.doc_id, t.tok, t.tf, d.df,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id
                            ORDER BY t.tf DESC, d.df ASC, t.tok ASC) AS rn
  FROM tf t JOIN dfc d USING (tok)
) x
WHERE rn <= {TOP_TERMS_K}
""")


# ---------------------------------------------------------------------------
# corpus bigram counts — the n-gram LM / contamination-check primitive.
# Bigram construction is a map-side higher-order transform (no UDF, no
# shuffle); the only shuffle is the count aggregate, which map-side
# combines down to the bigram vocabulary, so shuffle volume is O(distinct
# bigrams), not O(corpus). The HAVING threshold bounds the result to the
# frequent head — the tail never leaves the executors.
# ---------------------------------------------------------------------------
BIGRAM_MIN_COUNT = 20


def text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # tokenize in its own projection (r14, same fix as _lm_tables):
    # `toks[i]` inside the lambda would re-run the splitter per bigram
    # POSITION — O(tokens²) per document
    toks = F.col("toks")
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(" ", toks[i], toks[i + 1]))
    bigrams = F.when(F.size(toks) >= 2, pairs) \
               .otherwise(F.array().cast("array<string>"))
    return (
        d.select(_tokens("text").alias("toks"))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= BIGRAM_MIN_COUNT)
    )


QUERIES["text_bigrams"] = (text_bigrams, f"""
SELECT bigram, COUNT(*) AS n
FROM (
  SELECT unnest(list_transform(
           generate_series(1, len(toks) - 1),
           i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM (SELECT string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 2
)
GROUP BY bigram
HAVING COUNT(*) >= {BIGRAM_MIN_COUNT}
""")


# ---------------------------------------------------------------------------
# within-document repetition metrics (Gopher-style quality gates):
# type-token ratio and repeated-bigram fraction, plus the filter flag a
# pipeline would gate on. ZERO shuffle — every metric is higher-order
# array arithmetic on the row (array_distinct / size), so at 100 TB this
# is a pure map pass over the corpus scan; no explode, no per-token rows.
# ---------------------------------------------------------------------------
REP_BIGRAM_MAX = 0.5
TTR_MIN = 0.2


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens("text")
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 2),
        lambda i: F.concat_ws(" ", toks[i], toks[i + 1]))
    bigrams = F.when(F.size(toks) >= 2, pairs) \
               .otherwise(F.array().cast("array<string>"))
    base = d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_types"),
        F.size(bigrams).alias("n_bigrams"),
        F.size(F.array_distinct(bigrams)).alias("n_distinct_bigrams"))
    ttr = F.col("n_types").cast("double") / F.col("n_tokens")
    rep = F.when(
        F.col("n_bigrams") > 0,
        F.lit(1.0) - F.col("n_distinct_bigrams").cast("double")
        / F.col("n_bigrams")).otherwise(F.lit(0.0))
    return base.select(
        "doc_id", "n_tokens",
        F.round(ttr, 6).alias("ttr"),
        F.round(rep, 6).alias("rep_bigram_frac"),
        ((rep > REP_BIGRAM_MAX) | (ttr < TTR_MIN)).cast("int").alias("flagged"))


QUERIES["text_repetition"] = (text_repetition, f"""
WITH base AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         len(list_distinct(toks)) AS n_types,
         CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END AS n_bigrams,
         CASE WHEN len(toks) >= 2 THEN len(list_distinct(list_transform(
             generate_series(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i + 1]))) ELSE 0 END
           AS n_distinct_bigrams
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
)
SELECT doc_id, n_tokens,
       ROUND(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
       ROUND(CASE WHEN n_bigrams > 0
             THEN 1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams
             ELSE 0.0 END, 6) AS rep_bigram_frac,
       CAST(CASE WHEN (CASE WHEN n_bigrams > 0
                  THEN 1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams
                  ELSE 0.0 END) > {REP_BIGRAM_MAX}
              OR (CAST(n_types AS DOUBLE) / n_tokens) < {TTR_MIN}
            THEN 1 ELSE 0 END AS INT) AS flagged
FROM base
""")


# ---------------------------------------------------------------------------
# Unigram log-probability scoring — the KenLM-style quality signal as a
# two-pass corpus job: pass 1 builds the vocabulary frequency table
# (shuffle = |vocab|, with map-side combine), pass 2 scores every token
# against it. At fixture scale the vocab broadcasts; at 100 TB it's a
# shuffle join on the token — still |corpus tokens| rows but each
# carrying an 8-byte logprob, and the vocab build amortizes over every
# downstream scoring run. Per-token logprobs are quantized to integer
# MICROS before summing (the integer-cents pattern): the sum is then
# order-independent and the DuckDB oracle reproduces it exactly — a
# float sum over a shuffled join would be partitioning-dependent.
# ---------------------------------------------------------------------------
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n_total"))
    lp = (vocab.crossJoin(F.broadcast(total))
          .select("tok",
                  F.expr("cast(round(ln(cnt / n_total) * 1000000, 0) as bigint)")
                   .alias("lp_micro")))
    return (toks.join(lp, "tok")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.round((F.sum("lp_micro") / 1e6) / F.count(F.lit(1)), 6)
                  .alias("avg_logprob")))


QUERIES["text_unigram_logprob"] = (text_unigram_logprob, """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
total AS (SELECT SUM(cnt) AS n_total FROM vocab),
lp AS (SELECT tok, CAST(ROUND(ln(cnt / n_total) * 1000000, 0) AS BIGINT)
              AS lp_micro
       FROM vocab, total)
SELECT doc_id, COUNT(*) AS n_tokens,
       ROUND((SUM(lp_micro) / 1e6) / COUNT(*), 6) AS avg_logprob
FROM toks JOIN lp USING (tok)
GROUP BY doc_id
""")


# ---------------------------------------------------------------------------
# Python UDTF (Spark 4) — the user-defined TABLE function surface: a
# @udtf class whose eval() yields 0..n rows per input row, registered
# and called from SQL via LATERAL. Arrow-batched (useArrow), so input
# columns arrive as Arrow batches even though eval runs per row. This
# demonstrates the API on a small slice (50 docs); the engine's HOT
# chunking path is curate_chunk — the same semantics as pure JVM
# sequence/explode/substring with zero Python — which is what runs at
# corpus scale (SURVEY.md §2.9: mapInPandas/explode are the UDTF
# analogues for fan-out). The UDTF exists for the cases built-ins can't
# express: per-row fan-out driven by imperative logic.
# ---------------------------------------------------------------------------
_UDTF_CHUNK_W = 80


def text_udtf_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id int, chunk string", useArrow=True)
    class ChunkDoc:
        def eval(self, doc_id: int, text: str):
            w = _UDTF_CHUNK_W
            for i in range(0, len(text), w):
                yield i // w, text[i:i + w]

    spark.udtf.register("chunk_doc", ChunkDoc)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql("""
      SELECT d.doc_id, c.chunk_id, c.chunk
      FROM documents d, LATERAL chunk_doc(d.doc_id, d.text) c
      WHERE d.doc_id < 50
    """)


QUERIES["text_udtf_chunk"] = (text_udtf_chunk, f"""
WITH starts AS (
  SELECT doc_id, text,
         unnest(generate_series(0, LENGTH(text) - 1, {_UDTF_CHUNK_W})) AS start
  FROM documents WHERE doc_id < 50 AND LENGTH(text) > 0)
SELECT doc_id, CAST(start / {_UDTF_CHUNK_W} AS INT) AS chunk_id,
       SUBSTRING(text, CAST(start + 1 AS INT), {_UDTF_CHUNK_W}) AS chunk
FROM starts
""")


# ---------------------------------------------------------------------------
# BM25 ranked retrieval — the classic search-scoring pipeline as one
# declarative corpus job. Two corpus passes: (1) per-doc length + the
# global (n_docs, avgdl) pair, (2) term frequencies for the QUERY terms
# only — the isin() filter runs map-side before any shuffle, so the tf
# table carries |matching tokens| rows, not the corpus. Document
# frequencies and the corpus stats broadcast onto the tf rows; per-term
# contributions are quantized to integer micros before the per-doc sum
# (the integer-cents pattern: order-independent, oracle-exact). Final
# top-k is TakeOrderedAndProject — no global sort. At 100 TB the only
# corpus-sized shuffle is the per-doc length aggregate, which any BM25
# engine needs once and then amortizes across every query.
# ---------------------------------------------------------------------------
BM25_TERMS = ("spark", "table", "hash", "window")
BM25_K1, BM25_B = 1.2, 0.75


def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (toks.filter(F.col("tok").isin(*BM25_TERMS))
          .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    contrib = F.expr(
        f"cast(round(ln((n_docs - df + 0.5) / (df + 0.5) + 1)"
        f" * tf * ({BM25_K1} + 1)"
        f" / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))"
        f" * 1000000, 0) as bigint)")
    return (tf.join(F.broadcast(dfreq), "tok")
            .join(dl, "doc_id")
            .crossJoin(F.broadcast(stats))
            .select("doc_id", contrib.alias("s_micro"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_terms"),
                 F.round(F.sum("s_micro") / 1e6, 6).alias("bm25"))
            .orderBy(F.desc("bm25"), "doc_id").limit(20))


_BM25_IN = ", ".join(f"'{t}'" for t in BM25_TERMS)

QUERIES["text_bm25_search"] = (text_bm25_search, f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
       WHERE tok IN ({_BM25_IN}) GROUP BY doc_id, tok),
dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
scored AS (
  SELECT tf.doc_id,
         CAST(ROUND(ln((n_docs - df + 0.5) / (df + 0.5) + 1)
              * tf * ({BM25_K1} + 1)
              / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
              * 1000000, 0) AS BIGINT) AS s_micro
  FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id), stats)
SELECT doc_id, COUNT(*) AS n_terms,
       ROUND(CAST(SUM(s_micro) AS BIGINT) / 1e6, 6) AS bm25
FROM scored GROUP BY doc_id
ORDER BY bm25 DESC, doc_id
LIMIT 20
""")


# ---------------------------------------------------------------------------
# Polymorphic Python UDTF (Spark 4): the output schema is DERIVED at
# plan time by a static analyze() from the constant n argument — the
# n-gram width chooses how many token columns exist. This is the one
# §2.9 surface element a fixed returnType can't express; eval() then
# yields one row per n-gram position with each token in its own column.
# Same registration caveat as text_udtf_chunk: plan-time side effects.
# ---------------------------------------------------------------------------
UDTF_NGRAM_N = 3
UDTF_NGRAM_DOCS = 20


def text_udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (IntegerType, LongType, StringType,
                                   StructType)
    from pyspark.sql.udtf import AnalyzeResult

    @udtf(useArrow=True)
    class NGramsUdtf:
        @staticmethod
        def analyze(doc_id, text, n):
            width = int(n.value)  # constant-foldable arg drives the schema
            schema = (StructType()
                      .add("doc_id", LongType())
                      .add("pos", IntegerType()))
            for i in range(width):
                schema = schema.add(f"g{i + 1}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, doc_id, text, n):
            toks = text.split(" ")
            for p in range(len(toks) - n + 1):
                yield (doc_id, p, *toks[p:p + n])

    spark.udtf.register("ngrams_udtf", NGramsUdtf)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(f"""
      SELECT g.*
      FROM documents d,
           LATERAL ngrams_udtf(d.doc_id, d.text, {UDTF_NGRAM_N}) g
      WHERE d.doc_id < {UDTF_NGRAM_DOCS}
    """)


QUERIES["text_udtf_ngrams"] = (text_udtf_ngrams, f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id < {UDTF_NGRAM_DOCS}),
p AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks) - {UDTF_NGRAM_N - 1})) AS p1
  FROM t WHERE len(toks) >= {UDTF_NGRAM_N})
SELECT doc_id, CAST(p1 - 1 AS INT) AS pos,
       {", ".join(f"toks[p1 + {i}] AS g{i + 1}"
                  for i in range(UDTF_NGRAM_N))}
FROM p
""")


# ---------------------------------------------------------------------------
# BPE merge steps — the tokenizer-training primitive: count adjacent
# symbol pairs over the word-frequency table (classic BPE trains on
# distinct words weighted by count, so the corpus collapses to the
# vocabulary before any pair work), pick the top merge, apply it, and
# recount. Two iterations run loop-free inside one plan: the 1-row top
# merge broadcasts back onto the vocabulary (crossJoin of a 1-row
# dimension), so no driver round-trip and no collect. At 100 TB the
# vocab table is the working set (≪ corpus) and each iteration is one
# ≤|vocab-pairs|-sized aggregate — which is why real BPE trainers also
# iterate on the word-count table, not raw text.
#
# Merge application is a deterministic double string-replace over the
# spaced symbol sequence (the second pass closes space-sharing adjacent
# occurrences); both engines implement the same left-to-right
# non-overlapping replace, so the oracle is value-exact. (Divergence
# note vs classic left-greedy BPE: an odd run like "a a a" merges the
# same pairs here, but pathological self-overlapping patterns could
# differ from HF-BPE's scan — the operator's rule is the one stated,
# and both engines agree on it.)
# ---------------------------------------------------------------------------
BPE_ITERS = 2


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    words = (d.select(F.explode(F.split("text", " ")).alias("w"))
             .filter(F.length("w") > 0)
             .groupBy("w").agg(F.count(F.lit(1)).alias("n")))
    # ' h e l l o ' — spaced symbol sequence with sentinel spaces
    seqs = words.select(
        F.concat(F.lit(" "),
                 F.expr(r"regexp_replace(w, '(.)', '$1 ')")).alias("seq"),
        "n").persist(StorageLevel.MEMORY_AND_DISK_DESER)  # vocab-sized; spill > recompute

    def pair_counts(sdf):
        # split in its own projection (r14, same fix as _lm_tables):
        # inlined in the lambda the splitter re-ran per symbol
        # POSITION — O(symbols²) per word
        sp = (sdf.select(F.split(F.trim(F.col("seq")), " ").alias("sp"),
                         "n")
              .filter(F.size("sp") >= 2))
        pairs = F.expr(
            "transform(sequence(0, size(sp) - 2),"
            " i -> struct(sp[i] as s1, sp[i + 1] as s2))")
        return (sp.select(F.explode(pairs).alias("p"), "n")
                .groupBy("p.s1", "p.s2")
                .agg(F.sum("n").cast("bigint").alias("pair_count")))

    def top1(counts):
        return (counts.orderBy(F.desc("pair_count"), "s1", "s2").limit(1))

    out = None
    cur = seqs
    for it in range(1, BPE_ITERS + 1):
        t = top1(pair_counts(cur)).select(
            F.lit(it).alias("iteration"), "s1", "s2", "pair_count")
        out = t if out is None else out.unionByName(t)
        if it < BPE_ITERS:
            tb = F.broadcast(t.select(F.col("s1").alias("m1"),
                                      F.col("s2").alias("m2")))
            pat = F.concat(F.lit(" "), F.col("m1"), F.lit(" "),
                           F.col("m2"), F.lit(" "))
            rep = F.concat(F.lit(" "), F.col("m1"), F.col("m2"), F.lit(" "))
            cur = (cur.crossJoin(tb)
                   .select(F.replace(F.replace("seq", pat, rep),
                                     pat, rep).alias("seq"), "n"))
    return out


QUERIES["text_bpe_merges"] = (text_bpe_merges, f"""
WITH words AS (
  SELECT w, COUNT(*) AS n FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE LENGTH(w) > 0 GROUP BY w),
seq0 AS (
  SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq, n FROM words),
pc1 AS (
  SELECT a[i] AS s1, a[i + 1] AS s2, CAST(SUM(n) AS BIGINT) AS pair_count
  FROM (SELECT string_split(trim(seq), ' ') AS a, n FROM seq0),
       LATERAL (SELECT unnest(generate_series(1, len(a) - 1)) AS i) g
  WHERE len(a) >= 2
  GROUP BY 1, 2),
t1 AS (
  SELECT 1 AS iteration, s1, s2, pair_count FROM pc1
  ORDER BY pair_count DESC, s1, s2 LIMIT 1),
seq1 AS (
  SELECT replace(replace(s.seq, ' ' || t.s1 || ' ' || t.s2 || ' ',
                         ' ' || t.s1 || t.s2 || ' '),
                 ' ' || t.s1 || ' ' || t.s2 || ' ',
                 ' ' || t.s1 || t.s2 || ' ') AS seq, s.n
  FROM seq0 s, t1 t),
pc2 AS (
  SELECT a[i] AS s1, a[i + 1] AS s2, CAST(SUM(n) AS BIGINT) AS pair_count
  FROM (SELECT string_split(trim(seq), ' ') AS a, n FROM seq1),
       LATERAL (SELECT unnest(generate_series(1, len(a) - 1)) AS i) g
  WHERE len(a) >= 2
  GROUP BY 1, 2),
t2 AS (
  SELECT 2 AS iteration, s1, s2, pair_count FROM pc2
  ORDER BY pair_count DESC, s1, s2 LIMIT 1)
SELECT * FROM t1 UNION ALL SELECT * FROM t2
""")


# ---------------------------------------------------------------------------
# BPE ENCODE — the other half of the tokenizer story: text_bpe_merges
# TRAINS the merge table; this applies it, which is what a training-
# data pipeline actually runs over every document (token counts drive
# packing and budgeting — curate_pack_sequences / curate_token_budget
# consume them). Merges are trained on the GLOBAL word distribution
# (identical chain to text_bpe_merges — the tokenizer is one model for
# the whole corpus) and applied to each LANGUAGE's word table; the
# report is per-language exact-integer compression: how many base
# symbols (characters) the corpus tokenizes into vs how many BPE
# tokens after BPE_ITERS merges.
#
# Shape: the merge chain is plan-only — each round's argmax pair is a
# one-row DataFrame crossJoin-broadcast into the next round's replace
# (no driver collect); applying a merge is a map-only string replace
# over the VOCAB-sized distinct-word table, never the corpus (the
# per-word results re-weight by word count at the end). At 100 TB the
# vocabulary is the small side by construction — this is exactly how
# production tokenizers amortize: tokenize the vocab, join counts.
# ---------------------------------------------------------------------------
def _bpe_spaced(words: DataFrame, *extra_cols: str) -> DataFrame:
    return words.select(
        *extra_cols,
        F.concat(F.lit(" "),
                 F.expr(r"regexp_replace(w, '(.)', '$1 ')")).alias("seq"),
        "n", F.length("w").cast("bigint").alias("n_symbols"))


def _bpe_apply(sdf: DataFrame, t: DataFrame) -> DataFrame:
    """Apply one trained merge (one-row (m1, m2)) to spaced ``sdf`` —
    the double replace handles overlapping occurrences, the trainer's
    convention."""
    tb = F.broadcast(t.select(F.col("s1").alias("m1"),
                              F.col("s2").alias("m2")))
    pat = F.concat(F.lit(" "), F.col("m1"), F.lit(" "),
                   F.col("m2"), F.lit(" "))
    rep = F.concat(F.lit(" "), F.col("m1"), F.col("m2"), F.lit(" "))
    cols = [c for c in sdf.columns if c != "seq"]
    return (sdf.crossJoin(tb)
            .select(F.replace(F.replace("seq", pat, rep),
                              pat, rep).alias("seq"), *cols))


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    lwords = (d.select("lang", F.explode(F.split("text", " ")).alias("w"))
              .filter(F.length("w") > 0)
              .groupBy("lang", "w").agg(F.count(F.lit(1)).alias("n")))
    gwords = lwords.groupBy("w").agg(F.sum("n").cast("bigint").alias("n"))
    gseqs = _bpe_spaced(gwords).persist(
        StorageLevel.MEMORY_AND_DISK_DESER)  # vocab-sized, read per round
    lseqs = _bpe_spaced(lwords, "lang")

    def pair_counts(sdf):
        # split in its own projection (r14, same fix as _lm_tables):
        # inlined in the lambda the splitter re-ran per symbol
        # POSITION — O(symbols²) per word
        sp = (sdf.select(F.split(F.trim(F.col("seq")), " ").alias("sp"),
                         "n")
              .filter(F.size("sp") >= 2))
        pairs = F.expr(
            "transform(sequence(0, size(sp) - 2),"
            " i -> struct(sp[i] as s1, sp[i + 1] as s2))")
        return (sp.select(F.explode(pairs).alias("p"), "n")
                .groupBy("p.s1", "p.s2")
                .agg(F.sum("n").cast("bigint").alias("pair_count")))

    for _ in range(BPE_ITERS):
        t = (pair_counts(gseqs)
             .orderBy(F.desc("pair_count"), "s1", "s2").limit(1))
        gseqs = _bpe_apply(gseqs, t)
        lseqs = _bpe_apply(lseqs, t)

    n_tok = F.size(F.split(F.trim("seq"), " ")).cast("bigint")
    return (lseqs
            .select("lang", "n", "n_symbols", n_tok.alias("n_tokens"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_distinct_words"),
                 F.sum("n").cast("bigint").alias("n_occurrences"),
                 F.sum(F.col("n") * F.col("n_symbols")).cast("bigint")
                 .alias("n_symbols"),
                 F.sum(F.col("n") * F.col("n_tokens")).cast("bigint")
                 .alias("n_bpe_tokens"))
            .withColumn("compression_micro",
                        F.expr("(1000000 * n_symbols) div n_bpe_tokens")
                        .cast("bigint")))


def _bpe_encode_sql() -> str:
    """Generated CTE chain: the trainer's global rounds (seq{i}, pc{i},
    t{i}) PLUS the per-language application chain (lseq{i}); unrolled
    for BPE_ITERS so the two oracles can never disagree on the merge
    order convention."""
    rep = ("replace(replace({src}.seq,"
           " ' ' || t.s1 || ' ' || t.s2 || ' ',"
           " ' ' || t.s1 || t.s2 || ' '),"
           " ' ' || t.s1 || ' ' || t.s2 || ' ',"
           " ' ' || t.s1 || t.s2 || ' ')")
    parts = [f"""
WITH lwords AS (
  SELECT lang, w, COUNT(*) AS n FROM (
    SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE LENGTH(w) > 0 GROUP BY lang, w),
words AS (SELECT w, CAST(SUM(n) AS BIGINT) AS n FROM lwords GROUP BY w),
seq0 AS (
  SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq, n FROM words),
lseq0 AS (
  SELECT lang, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq, n,
         CAST(LENGTH(w) AS BIGINT) AS n_symbols
  FROM lwords)"""]
    for i in range(1, BPE_ITERS + 1):
        parts.append(f""",
pc{i} AS (
  SELECT a[i] AS s1, a[i + 1] AS s2, CAST(SUM(n) AS BIGINT) AS pair_count
  FROM (SELECT string_split(trim(seq), ' ') AS a, n FROM seq{i - 1}),
       LATERAL (SELECT unnest(generate_series(1, len(a) - 1)) AS i) g
  WHERE len(a) >= 2
  GROUP BY 1, 2),
t{i} AS (
  SELECT s1, s2 FROM pc{i}
  ORDER BY pair_count DESC, s1, s2 LIMIT 1),
seq{i} AS (
  SELECT {rep.format(src='s')} AS seq, s.n FROM seq{i - 1} s, t{i} t),
lseq{i} AS (
  SELECT s.lang, {rep.format(src='s')} AS seq, s.n, s.n_symbols
  FROM lseq{i - 1} s, t{i} t)""")
    parts.append(f"""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
       CAST(SUM(n) AS BIGINT) AS n_occurrences,
       CAST(SUM(n * n_symbols) AS BIGINT) AS n_symbols,
       CAST(SUM(n * len(string_split(trim(seq), ' '))) AS BIGINT)
         AS n_bpe_tokens,
       CAST((1000000 * SUM(n * n_symbols))
            // SUM(n * len(string_split(trim(seq), ' '))) AS BIGINT)
         AS compression_micro
FROM lseq{BPE_ITERS}
GROUP BY lang""")
    return "".join(parts)


QUERIES["text_bpe_encode"] = (text_bpe_encode, _bpe_encode_sql())


# ---------------------------------------------------------------------------
# Inverted-index build — the retrieval-side complement of text_bm25_search:
# materialize per-term posting lists (document frequency, total term
# frequency, and the first POSTINGS_CAP doc ids in ascending order).
# Scale shape: one explode of the corpus into (term, doc) pairs, a
# per-(term, doc) partial count map-side, then ONE shuffle keyed by term
# — shuffle volume is the posting data itself, which is what an index
# build moves by definition. The stored posting list is capped
# (slice after sort_array), the cap a real index would page by; df/tf
# totals still cover every posting. Postings render as a joined string so
# the driver's hasher sees a scalar column, and ordering inside the list
# is ascending doc_id — deterministic under any partitioning.
# ---------------------------------------------------------------------------
POSTINGS_CAP = 8


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(_tokens("text")).alias("term"))
    per_doc = (tok.groupBy("term", "doc_id")
               .agg(F.count(F.lit(1)).alias("tf")))
    return (per_doc.groupBy("term")
            .agg(F.count(F.lit(1)).cast("bigint").alias("df"),
                 F.sum("tf").cast("bigint").alias("total_tf"),
                 F.concat_ws(
                     ",",
                     F.slice(F.sort_array(F.collect_list("doc_id")),
                             1, POSTINGS_CAP).cast("array<string>"))
                 .alias("postings_head")))


QUERIES["text_inverted_index"] = (text_inverted_index, f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
per_doc AS (
  SELECT term, doc_id, COUNT(*) AS tf FROM tok GROUP BY term, doc_id)
SELECT term,
       CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS total_tf,
       array_to_string(
         (list(doc_id ORDER BY doc_id))[1:{POSTINGS_CAP}], ',')
         AS postings_head
FROM per_doc
GROUP BY term
""")


# ---------------------------------------------------------------------------
# UDTF over a partitioned TABLE argument (Spark 4 §2.9 surface): the
# function consumes `TABLE(documents) PARTITION BY source` — the engine
# routes every row of one source to ONE UDTF instance, eval() folds
# order-insensitive partials (count/sum/min/max), terminate() emits the
# partition summary. This is the table-function analogue of
# applyInPandas: custom per-group logic whose grouping the SQL planner
# itself arranges (a hash exchange on the partition key feeds the UDTF —
# arbitrary scale-out across sources). Only commutative state is kept,
# so the result is row-arrival-order independent; the oracle is the
# plain GROUP BY the fold reimplements.
# ---------------------------------------------------------------------------
def text_udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType=("source string, n_docs bigint, total_chars bigint,"
                      " min_doc bigint, max_doc bigint"), useArrow=True)
    class SourceProfile:
        def __init__(self):
            self.src = None
            self.n = 0
            self.chars = 0
            self.lo = None
            self.hi = None

        def eval(self, row):
            self.src = row["source"]
            self.n += 1
            self.chars += row["n_chars"]
            d = row["doc_id"]
            self.lo = d if self.lo is None else min(self.lo, d)
            self.hi = d if self.hi is None else max(self.hi, d)

        def terminate(self):
            if self.src is not None:
                yield self.src, self.n, self.chars, self.lo, self.hi

    spark.udtf.register("source_profile", SourceProfile)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents")
    return spark.sql(
        "SELECT * FROM source_profile(TABLE(documents) PARTITION BY source)")


QUERIES["text_udtf_table_arg"] = (text_udtf_table_arg, """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc,
       MAX(doc_id) AS max_doc
FROM documents
GROUP BY source
""")


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes language classifier — a fully distributed
# train + score pipeline beside the rule-based lang_id heuristic:
# train on docs with doc_id % 5 != 0 (Laplace-smoothed token
# likelihoods + class priors), score the held-out fifth, emit the
# confusion matrix. Exactness: each log-likelihood ln((c+1)/(T+V)) and
# prior ln(n_lang/n_docs) is quantized to integer micros IMMEDIATELY
# after the single ln() (the text_unigram_logprob convention), so the
# per-doc score is an exact BIGINT sum — argmax with a lang tie-break is
# then bit-deterministic cross-engine. Scale shape: the model
# (langs × vocab counts) is a broadcast-sized table; scoring joins test
# tokens against it map-side after a langs-sized explode; nothing
# corpus-sized shuffles twice. Fixture labels are synthetic, so the
# matrix is near-uniform — the mechanics, not the accuracy, are under
# test.
# ---------------------------------------------------------------------------
def text_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 5 != 0)
    test = d.filter(F.col("doc_id") % 5 == 0)

    tr_tok = train.select("lang", F.explode(_tokens("text")).alias("tok"))
    counts = tr_tok.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("lang").agg(F.sum("c").alias("t"))
    vocab = tr_tok.select("tok").distinct().agg(
        F.count(F.lit(1)).alias("v"))
    priors = (train.groupBy("lang")
              .agg(F.count(F.lit(1)).alias("n_lang"))
              .crossJoin(F.broadcast(
                  train.agg(F.count(F.lit(1)).alias("n_tr"))))
              .select("lang", F.round(F.log(F.col("n_lang")
                                            / F.col("n_tr")) * 1e6)
                      .cast("bigint").alias("prior_micro")))

    te_tok = (test.select(F.col("doc_id"), F.col("lang").alias("true_lang"),
                          F.explode(_tokens("text")).alias("tok"))
              .groupBy("doc_id", "true_lang", "tok")
              .agg(F.count(F.lit(1)).alias("tf")))
    langs = priors.select(F.col("lang").alias("cl"), "prior_micro")
    scored = (te_tok.crossJoin(F.broadcast(langs))
              .join(F.broadcast(counts),
                    (F.col("cl") == counts.lang)
                    & (te_tok.tok == counts.tok), "left")
              .join(F.broadcast(totals), F.col("cl") == totals.lang)
              .crossJoin(F.broadcast(vocab))
              .select("doc_id", "true_lang", "cl", "prior_micro",
                      (F.col("tf")
                       * F.round(F.log((F.coalesce(F.col("c"), F.lit(0))
                                        + 1).cast("double")
                                       / (F.col("t") + F.col("v"))) * 1e6)
                       .cast("bigint")).alias("lp")))
    doc_scores = (scored.groupBy("doc_id", "true_lang", "cl", "prior_micro")
                  .agg(F.sum("lp").alias("ll"))
                  .select("doc_id", "true_lang", "cl",
                          (F.col("prior_micro") + F.col("ll"))
                          .alias("score")))
    pred = (doc_scores.withColumn(
        "rn", F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.desc("score"), "cl")))
        .filter(F.col("rn") == 1))
    return (pred.groupBy("true_lang", F.col("cl").alias("pred_lang"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")))


QUERIES["text_naive_bayes_langid"] = (text_naive_bayes_langid, """
WITH train AS (SELECT * FROM documents WHERE doc_id % 5 != 0),
test AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
tr_tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM train),
counts AS (SELECT lang, tok, COUNT(*) AS c FROM tr_tok GROUP BY 1, 2),
totals AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM counts GROUP BY 1),
vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM tr_tok),
priors AS (
  SELECT lang,
         CAST(ROUND(ln(CAST(COUNT(*) AS DOUBLE)
                       / (SELECT COUNT(*) FROM train)) * 1e6) AS BIGINT)
           AS prior_micro
  FROM train GROUP BY lang),
te_tok AS (
  SELECT doc_id, lang AS true_lang, unnest(string_split(text, ' ')) AS tok
  FROM test),
tf AS (SELECT doc_id, true_lang, tok, COUNT(*) AS tf
       FROM te_tok GROUP BY 1, 2, 3),
scored AS (
  SELECT f.doc_id, f.true_lang, p.lang AS cl, p.prior_micro,
         f.tf * CAST(ROUND(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
                              / (t.t + v.v)) * 1e6) AS BIGINT) AS lp
  FROM tf f
  CROSS JOIN priors p
  LEFT JOIN counts c ON c.lang = p.lang AND c.tok = f.tok
  JOIN totals t ON t.lang = p.lang
  CROSS JOIN vocab v),
doc_scores AS (
  SELECT doc_id, true_lang, cl,
         prior_micro + CAST(SUM(lp) AS BIGINT) AS score
  FROM scored GROUP BY doc_id, true_lang, cl, prior_micro),
pred AS (
  SELECT doc_id, true_lang, cl,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cl) AS rn
  FROM doc_scores)
SELECT true_lang, cl AS pred_lang, COUNT(*) AS n
FROM pred WHERE rn = 1
GROUP BY true_lang, cl
""")


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine similarity — the inverted-index counterpart of
# the dense ANN ladder: doc vectors are (term → tf·ln(N/df)) sparse
# maps, and the doc-doc dot product materializes through a TERM-keyed
# join (docs only meet on shared terms — the sparse-join identity that
# makes all-pairs text similarity feasible; blocked on source like the
# prefix-filter join). Weights are SUBLINEAR tf-idf,
# (1+ln(tf))*ln(N/df), quantized to integer MILLIS right after the
# ln()s — sublinear tf bounds wm by ~(1+ln 1e9)*ln(1e9)*1e3 < 5e5 at
# any corpus size, so wm^2 < 2.5e11 and even 1e5-shared-term dots stay
# far below 2^63 (linear-tf micro weights overflow BIGINT at
# tf*idf ~ 3e3: Spark would wrap silently where DuckDB raises). Dots
# and squared norms are exact BIGINT sums; the one float step is
# IEEE-correctly-rounded sqrt + division, bit-identical cross-engine. Output: global top-20 pairs by
# cosine with pinned tie-breaks.
# ---------------------------------------------------------------------------
SPARSE_TOPK = 20


def text_sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "source",
                   F.explode(_tokens("text")).alias("term"))
    tf = (tok.groupBy("doc_id", "source", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n"))
    w = (tf.join(F.broadcast(dfreq), "term")
         .crossJoin(F.broadcast(n_docs))
         .select("doc_id", "source", "term",
                 F.round((1 + F.log("tf"))
                         * F.log(F.col("n") / F.col("df"))
                         * 1e3).cast("bigint").alias("wm"))
         .filter(F.col("wm") != 0))
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("wm") * F.col("wm")).alias("n2"))
    dots = (w.alias("a").join(
        w.alias("b"),
        (F.col("a.term") == F.col("b.term"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.sum(F.col("a.wm") * F.col("b.wm")).alias("dot")))
    return (dots
            .join(norms.withColumnRenamed("doc_id", "doc_a")
                  .withColumnRenamed("n2", "na2"), "doc_a")
            .join(norms.withColumnRenamed("doc_id", "doc_b")
                  .withColumnRenamed("n2", "nb2"), "doc_b")
            .select("doc_a", "doc_b",
                    F.round(F.col("dot").cast("double")
                            / (F.sqrt(F.col("na2").cast("double"))
                               * F.sqrt(F.col("nb2").cast("double"))), 9)
                    .alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), "doc_a", "doc_b")
            .limit(SPARSE_TOPK))


QUERIES["text_sparse_cosine_topk"] = (text_sparse_cosine_topk, f"""
WITH tok AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
  FROM documents),
tf AS (SELECT doc_id, source, term, COUNT(*) AS tf
       FROM tok GROUP BY 1, 2, 3),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
nd AS (SELECT COUNT(*) AS n FROM documents),
w AS (
  SELECT doc_id, source, term,
         CAST(ROUND((1 + ln(tf)) * ln(CAST(n AS DOUBLE) / df) * 1e3)
              AS BIGINT) AS wm
  FROM tf JOIN dfreq USING (term), nd),
w2 AS (SELECT * FROM w WHERE wm != 0),
norms AS (SELECT doc_id, CAST(SUM(wm * wm) AS BIGINT) AS n2
          FROM w2 GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(a.wm * b.wm) AS BIGINT) AS dot
  FROM w2 a JOIN w2 b ON a.term = b.term AND a.source = b.source
                     AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       ROUND(CAST(dot AS DOUBLE)
             / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE))),
             9) AS cos_sim
FROM dots
JOIN norms na ON na.doc_id = doc_a
JOIN norms nb ON nb.doc_id = doc_b
ORDER BY cos_sim DESC, doc_a, doc_b
LIMIT {SPARSE_TOPK}
""")


# ---------------------------------------------------------------------------
# Bigram-LM perplexity scoring — the CCNet-style quality signal: train a
# language model on the EXISTING corpus, score each incoming document by
# how surprising the model finds it (high perplexity ⇒ boilerplate,
# garbled OCR, wrong-language, spam). Same index/batch split as the
# incremental dedup family (buckets 0..79 train, 80..99 score), so this
# is the quality gate that runs beside the dedup gate on every ingest.
#
# Model: per-language add-one-smoothed bigram LM —
#   P(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V_lang)
# with c(w1) the history count (bigrams starting at w1) and V_lang the
# index-side vocabulary size. Score: per-bigram negative log-likelihood,
# quantized to integer millis AFTER the single ln() (the established
# ln-then-round pattern from text_sparse_cosine_topk — everything the
# aggregates touch is BIGINT, so cross-engine equality is repr-exact);
# per-doc report = bigram count, total NLL, and avg NLL (trunc div,
# Spark `div` == DuckDB `//`) — avg NLL in nats IS log-perplexity, the
# monotone-equivalent ranking signal without a second float op.
#
# Shuffle ledger at 100 TB: tokenize/bigram explode is map-side; the LM
# build is two count aggregates on (lang, w1[, w2]) over the INDEX
# (persistable like the dedup artifacts); scoring shuffles batch
# bigrams against the LM tables on the same keys (equi-joins — the
# frequent-history skew on c(w1) rides AQE skew-join), then one doc_id
# aggregate. No all-pairs anything; the batch side is the only per-
# ingest text scan. Docs with < 2 tokens carry n_bigrams = 0 and NULL
# avg (no sentinel — the adpcm lesson).
# ---------------------------------------------------------------------------
_BIGRAMS_EXPR = (
    "CASE WHEN size(toks) >= 2 THEN "
    "transform(sequence(0, size(toks) - 2), "
    "i -> struct(toks[i] AS w1, toks[i + 1] AS w2)) "
    "ELSE array() END")

_BIGRAMS_DUCK = """
  CASE WHEN len(string_split(text, ' ')) >= 2 THEN
    list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
      i -> struct_pack(w1 := string_split(text, ' ')[i],
                       w2 := string_split(text, ' ')[i + 1]))
  ELSE [] END"""


def _lm_tables(idx: DataFrame
               ) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Train the per-language bigram LM over the index docs:
    (c12 bigram counts, c1 history counts, per-lang vocab sizes,
    1-row GLOBAL vocab size). c1 is derived from c12 — the history
    count is sum over w2 by construction — so the index text is
    bigram-exploded exactly once; the unigram pass for the vocab is
    the only other scan."""
    bigrams = F.explode(F.expr(_BIGRAMS_EXPR)).alias("b")
    # tokenize in its own projection (r14; same fix as the streaming
    # ledger's _LM_ROWS_EXPR): _BIGRAMS_EXPR references `toks` once per
    # bigram POSITION, and lambda-variable scopes block common-
    # subexpression elimination — with split() inlined in the lambda
    # body the tokenizer re-ran per position, O(tokens²) per document
    # (measured 2.7 s for the sf0.1 c12 aggregate alone; corpus-fatal
    # at 100 TB). Projected first, the split runs once per row and the
    # lambda does O(1) array indexing.
    ib = (idx.select("lang", _tokens("text").alias("toks"))
          .select("lang", bigrams)
          .select("lang", F.col("b.w1").alias("w1"),
                  F.col("b.w2").alias("w2")))
    c12 = ib.groupBy("lang", "w1", "w2").agg(
        F.count(F.lit(1)).alias("c12"))
    c1 = c12.groupBy("lang", "w1").agg(
        F.sum("c12").cast("bigint").alias("c1"))
    toks = idx.select("lang", F.explode(_tokens("text")).alias("w"))
    vocab = toks.groupBy("lang").agg(F.countDistinct("w").alias("v"))
    gvocab = toks.agg(F.countDistinct("w").alias("gv"))
    return c12, c1, vocab, gvocab


def _score_against_lm(batch: DataFrame, c12: DataFrame, c1: DataFrame,
                      vocab: DataFrame, gvocab: DataFrame) -> DataFrame:
    """Per-doc NLL report for ``batch`` against a trained LM — shared by
    the in-plan batch query and the streaming gate (which trains once to
    parquet artifacts and scores every micro-batch here).

    A language ABSENT from the index must score as maximally
    surprising, not perfect: its per-lang vocab is NULL, so the
    smoothing denominator falls back to the GLOBAL vocabulary size —
    every bigram is unseen-with-full-smoothing, NLL ≈ ln(V_global) per
    bigram (an earlier version fell back to V=1, which made p = 1 and
    ranked unindexed-language junk as the best doc in the batch).

    One batch scan and two count joins: c1 on (lang, w1), c12 on
    (lang, w1, w2)."""
    bigrams = F.explode(F.expr(_BIGRAMS_EXPR)).alias("b")
    # hoisted tokenize projection — see _lm_tables for why (O(tokens²)
    # per doc otherwise; the batch a gate scores can be corpus-sized)
    nb = (batch.select("doc_id", "lang", _tokens("text").alias("toks"))
          .select("doc_id", "lang", bigrams)
          .select("doc_id", "lang", F.col("b.w1").alias("w1"),
                  F.col("b.w2").alias("w2")))
    nb_c12 = (nb.join(c1, ["lang", "w1"], "left")
              .join(c12, ["lang", "w1", "w2"], "left"))
    # greatest(..., 1) guards the fully-empty-index degenerate case
    v_eff = F.greatest(F.coalesce("v", F.col("gv")), F.lit(1))
    p = ((F.coalesce("c12", F.lit(0)) + 1)
         / (F.coalesce("c1", F.lit(0)) + v_eff))
    # vocab is one row per LANGUAGE — broadcast-sized at any corpus
    # size, and joined on the most skewed key there is (every bigram
    # of a language shares it), so the hint is load-bearing: a
    # size-stat miss that shuffled this join would put each language's
    # entire batch in one partition
    scored = (nb_c12
              .join(F.broadcast(vocab), ["lang"], "left")
              .crossJoin(F.broadcast(gvocab))
              .select("doc_id",
                      F.round(-F.log(p) * 1e3).cast("bigint")
                      .alias("nll")))
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("nll").alias("nll_milli"))
    return (batch.select("doc_id", "lang")
            .join(per_doc, "doc_id", "left")
            .select("doc_id", "lang",
                    F.coalesce("n_bigrams", F.lit(0)).cast("bigint")
                    .alias("n_bigrams"),
                    F.coalesce("nll_milli", F.lit(0)).cast("bigint")
                    .alias("nll_milli"),
                    F.when(F.col("n_bigrams") > 0,
                           F.expr("nll_milli div n_bigrams"))
                    .cast("bigint").alias("avg_nll_milli")))


def text_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import _bucket
    from .dedup import INDEX_PCT

    d = load_table(spark, sf_dir, "documents")
    bucket = _bucket(F.col("doc_id"))
    c12, c1, vocab, gvocab = _lm_tables(d.filter(bucket < INDEX_PCT))
    return _score_against_lm(
        d.filter(bucket >= INDEX_PCT), c12, c1, vocab, gvocab)


def _wdoc_counts(docs: DataFrame) -> DataFrame:
    """(lang, w, doc_count): in how many documents of this language does
    token w appear — the mergeable/decrementable vocabulary unit shared
    by the artifact build, the incremental refresh, and excision (the
    three must count identically or decrement≢retrain)."""
    return (docs.select("lang", "doc_id",
                        F.explode(_tokens("text")).alias("w"))
            .distinct()
            .groupBy("lang", "w")
            .agg(F.count(F.lit(1)).cast("bigint").alias("doc_count")))


def lm_artifacts(spark: SparkSession, sf_dir: str) -> str:
    """Write-once LM artifacts (c12/c1/vocab/gvocab/wdoc parquet) per
    (session, sf_dir) — the quality-gate twin of the dedup family's
    ``_index_artifacts``, on the shared write-once lifecycle: the LM
    trains once over the existing corpus and every ingest re-reads the
    tables instead of re-counting."""
    from ..session import memo, scratch_dir
    from .curation import _bucket
    from .dedup import INDEX_PCT

    def build() -> str:
        root = scratch_dir(spark, "lm_artifacts_")
        idx = (load_table(spark, sf_dir, "documents")
               .filter(_bucket(F.col("doc_id")) < INDEX_PCT))
        c12, c1, vocab, gvocab = _lm_tables(idx)
        c12.write.mode("overwrite").parquet(f"{root}/c12")
        c1.write.mode("overwrite").parquet(f"{root}/c1")
        vocab.write.mode("overwrite").parquet(f"{root}/vocab")
        gvocab.write.mode("overwrite").parquet(f"{root}/gvocab")
        # per-(lang, token) DOCUMENT counts — the DECREMENTABLE
        # vocabulary representation (r10 verdict item 4). A distinct
        # token SET can union new tokens in (adds) but cannot answer
        # "does any survivor still use this token?" on a delete without
        # rescanning the language's survivor shard — at 100 TB that
        # scan dominates excise cost. doc_count is a plain sum, so adds
        # are union+re-sum and excision is subtract-D's-counts +
        # drop-zeros, both LM-sized merges exactly like c12; vocab
        # sizes re-derive as row counts per lang, the global vocab as
        # COUNT(DISTINCT w) over the vocab-sized table.
        _wdoc_counts(idx).write.mode("overwrite").parquet(f"{root}/wdoc")
        return root

    return memo(spark, ("lm_artifacts", sf_dir), build)


def lm_score_vs_artifacts(spark: SparkSession, batch: DataFrame,
                          root: str) -> DataFrame:
    """Score a batch against the persisted LM — shared by the streaming
    quality gate and the composed ingest pipeline (they must not drift).
    The two large LM tables read through BUCKETED layouts on their join
    keys (c12 on (lang, w1, w2), c1 on (lang, w1)) with merge hints, so
    per ingest only the batch bigrams shuffle — once into each layout —
    and the index-derived counts are never exchanged (they also carry
    the frequent-history skew, so keeping them in place sidesteps the
    c(w1) hot keys entirely on the index side); vocab (one row per
    language) and gvocab (one row) are legitimately broadcast-sized."""
    from .dedup import bucketed_artifact_table

    c12 = spark.table(bucketed_artifact_table(
        spark, root, "c12", ["lang", "w1", "w2"])).hint("merge")
    c1 = spark.table(bucketed_artifact_table(
        spark, root, "c1", ["lang", "w1"])).hint("merge")
    vocab = spark.read.parquet(f"{root}/vocab")
    gvocab = spark.read.parquet(f"{root}/gvocab")
    return _score_against_lm(batch, c12, c1, vocab, gvocab)


from ..operators.curation import _bucket_sql as _lm_bucket_sql  # noqa: E402
from ..operators.dedup import INDEX_PCT as _LM_INDEX_PCT  # noqa: E402


def _lm_perplexity_sql(split: int, idx_pred: str = "") -> str:
    """The full train-then-score statement at an arbitrary bucket
    split (train < split, score >= split): ``split=INDEX_PCT`` is the
    standard gate oracle; the incremental-refresh oracle uses the
    RETRAIN at split=90 — equality of the merged-counts plan against
    it is exactly the refresh correctness claim. ``idx_pred`` narrows
    the TRAINING side only (the excision oracle retrains on the
    survivors: decrement ≡ retrain is that equality)."""
    return f"""
WITH idx AS (
  SELECT * FROM documents WHERE {_lm_bucket_sql('doc_id')} < {split}
  {idx_pred}),
batch AS (
  SELECT * FROM documents WHERE {_lm_bucket_sql('doc_id')} >= {split}),
ib AS (
  SELECT lang, b.w1 AS w1, b.w2 AS w2
  FROM idx, LATERAL (SELECT unnest({_BIGRAMS_DUCK}, recursive := true)) b),
c12 AS (SELECT lang, w1, w2, COUNT(*) AS c12 FROM ib GROUP BY 1, 2, 3),
c1 AS (SELECT lang, w1, CAST(SUM(c12) AS BIGINT) AS c1
       FROM c12 GROUP BY 1, 2),
toks AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM idx),
vocab AS (SELECT lang, COUNT(DISTINCT w) AS v FROM toks GROUP BY lang),
gvocab AS (SELECT COUNT(DISTINCT w) AS gv FROM toks),
nb AS (
  SELECT doc_id, lang, b.w1 AS w1, b.w2 AS w2
  FROM batch, LATERAL (SELECT unnest({_BIGRAMS_DUCK}, recursive := true)) b),
scored AS (
  SELECT nb.doc_id,
         CAST(ROUND(-ln((COALESCE(c12.c12, 0) + 1)
                        / (COALESCE(c1.c1, 0)
                           + GREATEST(COALESCE(vocab.v, gvocab.gv), 1)))
                    * 1e3) AS BIGINT) AS nll
  FROM nb
  LEFT JOIN c12 ON c12.lang = nb.lang AND c12.w1 = nb.w1
               AND c12.w2 = nb.w2
  LEFT JOIN c1 ON c1.lang = nb.lang AND c1.w1 = nb.w1
  LEFT JOIN vocab ON vocab.lang = nb.lang
  CROSS JOIN gvocab),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(nll) AS nll_milli
  FROM scored GROUP BY 1)
SELECT b.doc_id, b.lang,
       CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(p.nll_milli, 0) AS BIGINT) AS nll_milli,
       CAST(CASE WHEN p.n_bigrams > 0
                 THEN p.nll_milli // p.n_bigrams END AS BIGINT)
         AS avg_nll_milli
FROM batch b LEFT JOIN per_doc p ON b.doc_id = p.doc_id
"""


_LM_PERPLEXITY_SQL = _lm_perplexity_sql(_LM_INDEX_PCT)

QUERIES["text_lm_perplexity"] = (text_lm_perplexity, _LM_PERPLEXITY_SQL)


# ---------------------------------------------------------------------------
# INCREMENTAL LM refresh — admitted docs update the persisted LM
# WITHOUT re-scanning the index text (r8 verdict item 5). Everything
# the model needs is mergeable: bigram counts are sums (partial batch
# counts unioned with the persisted c12 and re-aggregated — the q36
# incremental-maintenance pattern), c1 re-derives from the merged c12
# (sum-of-sums), and the vocabulary merges through wdoc — per-(lang,
# token) DOCUMENT counts, a plain sum like c12 (which is why
# lm_artifacts stores wdoc, not just the count v: a distinct-count is
# not mergeable, a doc count is — and the SAME representation
# decrements under excision). Split: buckets 80-89 are the docs a
# prior ingest ADMITTED (the ingest loop's batch 0), 90-99 the stream
# still to score.
#
# Correctness claim = the ORACLE: it RETRAINS from scratch over
# bucket < 90 (_lm_perplexity_sql(90)), while the Spark side only
# merges counts — a hash match proves merged scoring ≡ full-retrain
# scoring, value for value. Scale shape: the refresh re-aggregates
# LM-sized tables (vocab² bigram counts, never corpus text) plus one
# batch-sized text scan; a full retrain re-reads every index document.
# A deployment writes the merged tables back as the next artifact
# generation (pure count tables — the overwrite is idempotent) and
# re-buckets them with the same layouts the scorer reads.
# ---------------------------------------------------------------------------
LM_REFRESH_PCT = 90  # 80-89 = admitted batch, 90-99 = still streaming


def lm_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import _bucket
    from .dedup import INDEX_PCT

    root = lm_artifacts(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    bk = _bucket(F.col("doc_id"))
    admitted = d.filter((bk >= INDEX_PCT) & (bk < LM_REFRESH_PCT))
    rest = d.filter(bk >= LM_REFRESH_PCT)

    # partial counts from the admitted batch (one batch-sized scan)
    c12_b, c1_b, _, _ = _lm_tables(admitted)
    wdoc_b = _wdoc_counts(admitted)

    # merge with the persisted tables — LM-sized aggregations only,
    # and each merge aggregation exactly ONCE (r15; the old shape
    # re-derived c1 from the merged c12 and vocab/gvocab from a merged
    # wdoc, recomputing the big c12 union+agg and the wdoc union+agg a
    # second time each — 34 Exchanges / 20 scans in the plan).
    # The vocabulary merges through wdoc (per-(lang, w) doc counts):
    # union + re-sum, the same mergeable shape as c12 — and the SAME
    # artifact excision decrements, so adds and deletes are symmetric.
    c12_m = (spark.read.parquet(f"{root}/c12").unionByName(c12_b)
             .groupBy("lang", "w1", "w2")
             .agg(F.sum("c12").cast("bigint").alias("c12")))
    # c1 = Σ_w2 c12 commutes with the union-sum: Σ_w2(root + batch) =
    # Σ_w2 root + Σ_w2 batch = persisted c1 + the batch's own c1, and
    # the (lang, w1) key sets coincide because every count is positive
    # — so merge the two c1 tables directly instead of re-aggregating
    # the merged c12
    c1_m = (spark.read.parquet(f"{root}/c1").unionByName(c1_b)
            .groupBy("lang", "w1")
            .agg(F.sum("c1").cast("bigint").alias("c1")))
    # vocab sizes are KEY-SET facts: doc_count >= 1 in both the
    # persisted table and the batch counts, so the merged key set is
    # exactly the union's and the distinct counts read straight off
    # the union — no merge aggregation needed at all
    wdoc_u = spark.read.parquet(f"{root}/wdoc").unionByName(wdoc_b)
    vocab_m = wdoc_u.groupBy("lang").agg(F.countDistinct("w").alias("v"))
    gvocab_m = wdoc_u.agg(F.countDistinct("w").alias("gv"))

    return _score_against_lm(rest, c12_m, c1_m, vocab_m, gvocab_m)


QUERIES["lm_incremental_refresh"] = (lm_incremental_refresh,
                                     _lm_perplexity_sql(LM_REFRESH_PCT))
