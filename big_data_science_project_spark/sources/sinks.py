"""File-format sinks + re-read — the engine's S4/S6 surface (the
reference persists only driver-local JSON/CSV/PNG:
``outlier_detection.py:27-39``, ``canny_image_masking.ipynb`` cell 12,
``feature extraction.py:89-91``; here sinks are distributed writers).

Each registry query writes a real result to a scratch directory in the
target format, reads it back, and returns the re-read DataFrame — so the
DuckDB oracle (which computes the same result straight from the source
tables) verifies the full write→read round trip, including type
fidelity through the format.

Scale notes baked into the shapes:
- parquet sink writes ``partitionBy`` and the re-read filters on the
  partition column — the read plan shows ``PartitionFilters`` and scans
  one directory, the layout that makes 100 TB tables queryable.
- CSV/JSON round-trip uses decimal-derived doubles (exact in text) and
  explicit schemas on re-read — no inference jobs at scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.numeric import dsum, dsum_expr
from ..session import memo, scratch_dir
from .tables import load_table

QUERIES: dict = {}


def _dir(spark: SparkSession, tag: str, sf_dir: str) -> str:
    return memo(spark, ("sink", tag, sf_dir), lambda: os.path.join(
        scratch_dir(spark, f"sink_{tag}_"), "out"))


# ---------------------------------------------------------------------------
# CSV round trip: monthly revenue (exact decimal-derived doubles)
# ---------------------------------------------------------------------------
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    result = (
        o.groupBy(F.year("o_orderdate").alias("yr"))
        .agg(dsum("o_totalprice", "revenue"),
             F.count(F.lit(1)).alias("n_orders"))
    )
    path = _dir(spark, "csv", sf_dir)
    result.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema("yr int, revenue double, n_orders bigint") \
                .option("header", True).csv(path)


QUERIES["sink_csv_roundtrip"] = (sink_csv_roundtrip, f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
       {dsum_expr('o_totalprice')} AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY 1
""")


# ---------------------------------------------------------------------------
# JSON round trip: per-nation customer stats
# ---------------------------------------------------------------------------
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    result = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             dsum("c_acctbal", "total_acctbal"))
    )
    path = _dir(spark, "json", sf_dir)
    result.write.mode("overwrite").json(path)
    return spark.read.schema(
        "n_name string, n_customers bigint, total_acctbal double").json(path)


QUERIES["sink_json_roundtrip"] = (sink_json_roundtrip, f"""
SELECT n.n_name,
       COUNT(*) AS n_customers,
       {dsum_expr('c.c_acctbal')} AS total_acctbal
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
""")


# ---------------------------------------------------------------------------
# partitioned parquet + partition-pruned re-read: write orders
# partitioned by priority, read back ONE partition (the plan's
# PartitionFilters prove only that directory is scanned), aggregate.
# ---------------------------------------------------------------------------
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    path = _dir(spark, "parq", sf_dir)
    if not os.path.isdir(path):  # write once per (format, sf) — reads repeat
        (o.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
         .write.mode("overwrite").partitionBy("o_orderpriority").parquet(path))
    back = spark.read.parquet(path).filter(
        F.col("o_orderpriority") == "1-URGENT")
    return back.agg(
        F.count(F.lit(1)).alias("n_urgent"),
        dsum("o_totalprice", "urgent_revenue"))


QUERIES["sink_parquet_partitioned"] = (sink_parquet_partitioned, f"""
SELECT COUNT(*) AS n_urgent,
       {dsum_expr('o_totalprice')} AS urgent_revenue
FROM orders
WHERE o_orderpriority = '1-URGENT'
""")


# ---------------------------------------------------------------------------
# bucketed tables + shuffle-free join: lineitem and orders saved
# bucketed AND sorted by order key into the session catalog; the join of
# the two bucketed tables then plans as a sort-merge join with NO
# shuffle exchange on either side (asserted in tests/test_plans.py) —
# bucketing is how a 100 TB fact-fact join avoids re-shuffling
# terabytes on every query that joins on the bucket key.
# ---------------------------------------------------------------------------
N_BUCKETS = 8


def _ensure_bucketed(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    # identifier-safe, collision-free tag: lowercase alnum + a short path
    # hash (plain char-mapping would crash on hyphens, defeat the
    # lowercased catalog exists-check, and collide e.g. sf0.1 with sf0/1)
    import hashlib
    import re
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tag = re.sub(r"[^0-9a-z]+", "_", sf_dir.lower()).strip("_")[-40:] + "_" + digest
    li_tbl, o_tbl = f"li_bkt_{tag}", f"o_bkt_{tag}"
    existing = {t.name for t in spark.catalog.listTables()}
    if li_tbl not in existing:
        (load_table(spark, sf_dir, "lineitem")
         .select("l_orderkey", "l_extendedprice", "l_discount")
         .write.bucketBy(N_BUCKETS, "l_orderkey").sortBy("l_orderkey")
         # external-table path: never write into the caller's cwd warehouse
         .option("path", _dir(spark, f"bkt_li_{tag}", sf_dir))
         .mode("overwrite").saveAsTable(li_tbl))
    if o_tbl not in existing:
        (load_table(spark, sf_dir, "orders")
         .select("o_orderkey", "o_orderpriority")
         .write.bucketBy(N_BUCKETS, "o_orderkey").sortBy("o_orderkey")
         .option("path", _dir(spark, f"bkt_o_{tag}", sf_dir))
         .mode("overwrite").saveAsTable(o_tbl))
    return li_tbl, o_tbl


def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li_tbl, o_tbl = _ensure_bucketed(spark, sf_dir)
    li = spark.table(li_tbl)
    o = spark.table(o_tbl)
    return (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                  "revenue"))
    )


QUERIES["sink_bucketed_join"] = (bucketed_join, f"""
SELECT o.o_orderpriority,
       COUNT(*) AS n_lines,
       {dsum_expr('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
""")


# ---------------------------------------------------------------------------
# range-clustered sorted write: repartitionByRange + sortWithinPartitions
# puts globally-ordered, NON-OVERLAPPING key ranges in each output file —
# the layout that lets any min/max-pruning reader (parquet row-group
# stats, Delta/Iceberg file skipping) answer a key-range query by
# touching one file out of thousands. The query re-reads the files,
# reconstructs per-file [min,max] via the hidden _metadata.file_path
# column, and returns the count of OVERLAPPING file pairs — the oracle
# pins it to 0, so the hash-match proves the clustering property, and
# the row count proves the write lost nothing.
# ---------------------------------------------------------------------------
N_RANGE_FILES = 8


def sink_sorted_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    path = _dir(spark, "clustered", sf_dir)
    if not os.path.isdir(path):  # write once per sf — reads repeat
        (li.select("l_orderkey", "l_extendedprice")
         .repartitionByRange(N_RANGE_FILES, "l_orderkey")
         .sortWithinPartitions("l_orderkey")
         .write.mode("overwrite").parquet(path))
    back = spark.read.parquet(path).select(
        "l_orderkey", F.col("_metadata.file_path").alias("f"))
    ranges = back.groupBy("f").agg(F.min("l_orderkey").alias("mn"),
                                   F.max("l_orderkey").alias("mx"))
    a = ranges.select(F.col("f").alias("fa"), F.col("mn").alias("mna"),
                      F.col("mx").alias("mxa"))
    b = ranges.select(F.col("f").alias("fb"), F.col("mn").alias("mnb"),
                      F.col("mx").alias("mxb"))
    overlaps = (
        a.join(b, F.col("fa") < F.col("fb"))
        .filter(~((F.col("mxa") < F.col("mnb")) | (F.col("mxb") < F.col("mna"))))
        .agg(F.count(F.lit(1)).cast("bigint").alias("overlapping_files"))
    )
    return overlaps.crossJoin(back.agg(F.count(F.lit(1)).alias("n_rows")))


QUERIES["sink_sorted_clustered"] = (sink_sorted_clustered, """
SELECT CAST(0 AS BIGINT) AS overlapping_files,
       COUNT(*) AS n_rows
FROM lineitem
""")


# ---------------------------------------------------------------------------
# small-file compaction: the maintenance pass every long-lived 100 TB
# table needs. Streaming/CDC ingestion leaves thousands of KB-sized
# files; scans then pay one task + one open per file. The compactor
# re-reads the fragmented directory and rewrites it as a few
# right-sized files (here coalesce(N) — a NARROW dependency: readers
# concatenate input splits, no shuffle of the data). The query proves
# (a) the fragmented layout really was fragmented, (b) compaction hit
# the target file count, and (c) not a row or cent was lost — counts
# and the exact decimal revenue sum agree with the oracle's direct
# scan of the source table.
# ---------------------------------------------------------------------------
FRAG_FILES = 64
COMPACT_TARGET = 4


def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    frag = _dir(spark, "frag", sf_dir)
    compact = _dir(spark, "compact", sf_dir)
    if not os.path.isdir(frag):  # write once per sf — reads repeat
        o.repartition(FRAG_FILES).write.mode("overwrite").parquet(frag)
    if not os.path.isdir(compact):
        (spark.read.parquet(frag).coalesce(COMPACT_TARGET)
         .write.mode("overwrite").parquet(compact))

    def _layout(path: str, n_col: str, files_col: str, target: int):
        back = spark.read.parquet(path).select(
            "o_totalprice", F.col("_metadata.file_path").alias("f"))
        return back.agg(
            F.count(F.lit(1)).alias(n_col),
            (F.countDistinct("f") <= target).cast("int").alias(files_col),
            dsum("o_totalprice").alias(n_col + "_rev"))

    before = _layout(frag, "n_frag", "frag_small", COMPACT_TARGET)
    after = _layout(compact, "n_compact", "compact_ok", COMPACT_TARGET)
    return (before.crossJoin(after)
            .select("n_frag", "n_compact",
                    (F.lit(1) - F.col("frag_small")).alias("was_fragmented"),
                    "compact_ok",
                    (F.col("n_frag_rev") == F.col("n_compact_rev"))
                    .cast("int").alias("revenue_preserved")))


QUERIES["sink_compaction"] = (sink_compaction, """
SELECT COUNT(*) AS n_frag, COUNT(*) AS n_compact,
       CAST(1 AS INT) AS was_fragmented, CAST(1 AS INT) AS compact_ok,
       CAST(1 AS INT) AS revenue_preserved
FROM orders
""")


# ---------------------------------------------------------------------------
# schema evolution: a v1 writer (2 columns) and a v2 writer (adds a
# column) land in the same dataset directory; a mergeSchema read unions
# the generations, NULL-filling the missing column — how a long-lived
# parquet/Lakehouse table absorbs adding a field without rewriting
# history. The oracle reproduces the union with an explicit NULL cast.
# ---------------------------------------------------------------------------
EVOLVE_SPLIT_KEY = 7500


def sink_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    path = _dir(spark, "evolve", sf_dir)
    if not os.path.isdir(path):  # write once per sf — reads repeat
        (o.filter(F.col("o_orderkey") < EVOLVE_SPLIT_KEY)
         .select("o_orderkey", "o_totalprice")
         .write.mode("append").parquet(path))
        (o.filter(F.col("o_orderkey") >= EVOLVE_SPLIT_KEY)
         .select("o_orderkey", "o_totalprice", "o_orderpriority")
         .write.mode("append").parquet(path))
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return (back.groupBy(
                F.coalesce("o_orderpriority", F.lit("<v1>")).alias("prio"))
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("o_totalprice", "revenue")))


QUERIES["sink_schema_evolution"] = (sink_schema_evolution, f"""
WITH unioned AS (
  SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
  FROM orders WHERE o_orderkey < {EVOLVE_SPLIT_KEY}
  UNION ALL
  SELECT o_orderkey, o_totalprice, o_orderpriority
  FROM orders WHERE o_orderkey >= {EVOLVE_SPLIT_KEY}
)
SELECT COALESCE(o_orderpriority, '<v1>') AS prio, COUNT(*) AS n,
       {dsum_expr('o_totalprice')} AS revenue
FROM unioned
GROUP BY COALESCE(o_orderpriority, '<v1>')
""")


# ---------------------------------------------------------------------------
# dynamic partition overwrite: rewrite ONLY the partitions present in
# the incoming batch, leaving sibling partitions untouched — the
# idempotent daily-reload primitive for a partitioned 100 TB table
# (static overwrite mode would truncate the whole table). The query
# overwrites the '1-URGENT' partition with a deduplicated copy and
# proves both effects: URGENT rows replaced (count halves), every other
# partition byte-identical to the source.
# ---------------------------------------------------------------------------
def sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority")
    path = _dir(spark, "dynover", sf_dir)
    if not os.path.isdir(path):
        o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
        urgent_half = (o.filter((F.col("o_orderpriority") == "1-URGENT")
                                & (F.col("o_orderkey") % 2 == 0)))
        (urgent_half.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("o_orderpriority").parquet(path))
    back = spark.read.parquet(path)
    return (back.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 dsum("o_totalprice", "revenue")))


QUERIES["sink_dynamic_overwrite"] = (sink_dynamic_overwrite, """
SELECT o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
FROM orders
WHERE o_orderpriority != '1-URGENT' OR o_orderkey % 2 = 0
GROUP BY o_orderpriority
""")


# ---------------------------------------------------------------------------
# Z-order clustered write: interleave the bits of TWO normalized key
# columns into one z-value, then range-partition + sort by it. Each
# output file then covers a small rectangle in (orderkey, partkey)
# space, so min/max file skipping prunes range predicates on EITHER
# column — the property a 1-D sort (sink_sorted_clustered) only gives
# its sort column. This is the layout Delta/Iceberg OPTIMIZE ZORDER
# computes; here it is ~15 lines of Catalyst bit arithmetic. Key
# normalization to the 10-bit grid uses min/max collected driver-side
# (one tiny agg — index-build time). The oracle pins data preservation
# (count + exact revenue); tests/test_plans.py pins the 2-D pruning
# property via per-file _metadata bounding boxes.
# ---------------------------------------------------------------------------
Z_BITS = 10
Z_FILES = 16


def _zvalue(col_a, col_b):
    """Interleave Z_BITS of two already-normalized int columns: bit b of
    a → bit 2b, bit b of b → bit 2b+1."""
    z = F.lit(0).cast("bigint")
    for b in range(Z_BITS):
        z = (z
             + F.shiftleft(F.shiftright(col_a, b).bitwiseAND(F.lit(1)), 2 * b)
             + F.shiftleft(F.shiftright(col_b, b).bitwiseAND(F.lit(1)),
                           2 * b + 1))
    return z


def _norm_grid(col, lo: int, hi: int):
    """Scale [lo, hi] onto the 0..2^Z_BITS-1 grid (integer arithmetic)."""
    span = max(hi - lo, 1)
    return ((col - F.lit(lo)).cast("bigint")
            * F.lit((1 << Z_BITS) - 1) / F.lit(span)).cast("bigint")


def sink_zorder_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice")
    path = _dir(spark, "zorder", sf_dir)
    if not os.path.isdir(path):  # write once per sf — reads repeat
        lo_o, hi_o, lo_p, hi_p = li.agg(
            F.min("l_orderkey"), F.max("l_orderkey"),
            F.min("l_partkey"), F.max("l_partkey")).first()
        z = _zvalue(_norm_grid(F.col("l_orderkey"), lo_o, hi_o),
                    _norm_grid(F.col("l_partkey"), lo_p, hi_p))
        (li.withColumn("zval", z)
         .repartitionByRange(Z_FILES, "zval")
         .sortWithinPartitions("zval")
         .drop("zval")
         .write.mode("overwrite").parquet(path))
    back = spark.read.parquet(path)
    return back.agg(F.count(F.lit(1)).alias("n_rows"),
                    dsum("l_extendedprice", "revenue"))


QUERIES["sink_zorder_clustered"] = (sink_zorder_clustered, f"""
SELECT COUNT(*) AS n_rows,
       {dsum_expr('l_extendedprice')} AS revenue
FROM lineitem
""")


# ---------------------------------------------------------------------------
# ORC round trip — the third columnar format beside parquet (ORC is
# built into Spark; the Hive-ecosystem interchange format). Same
# contract as the CSV/JSON sinks: write a real aggregate, read it back
# through the format, and let the oracle certify the values survived —
# including DATE and DOUBLE fidelity through ORC's type system. The
# re-read supplies no schema: ORC is self-describing (schema in the
# footer like parquet), which is exactly what the text formats above
# cannot do.
# ---------------------------------------------------------------------------
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    result = (
        li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"),
             dsum("l_extendedprice", "total_price"),
             F.max(F.col("l_shipdate").cast("date")).alias("last_ship")))
    path = _dir(spark, "orc", sf_dir)
    result.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


QUERIES["sink_orc_roundtrip"] = (sink_orc_roundtrip, f"""
SELECT l_returnflag, COUNT(*) AS n,
       {dsum_expr('l_extendedprice')} AS total_price,
       CAST(MAX(l_shipdate) AS DATE) AS last_ship
FROM lineitem
GROUP BY l_returnflag
""")
