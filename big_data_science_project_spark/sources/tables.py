"""Parquet table access for the star-schema + events/documents/embeddings
fixtures (TESTDATA.md).

Equivalent of the reference's scan layer (scifio ``spark.read.format(...)``
at ``/root/reference/main.py:19``) for the relational surface: plain
``spark.read.parquet`` so Catalyst gets vectorized scans, predicate pushdown
and column pruning for free. At 100 TB the same call reads a partitioned
directory tree; nothing here assumes single files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import memo

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to plain TIMESTAMP (UTC instant) whatever the
    writer emitted. TIMESTAMP(NANOS) scans as long under
    spark.sql.legacy.parquet.nanosAsLong → truncate to micros (same as
    DuckDB's nanos→TIMESTAMP conversion; integer `div` — double division
    would lose precision on epoch-nano magnitudes >2^53). timestamp[us]
    without tz would scan as TIMESTAMP_NTZ, which unix_micros/watermarks
    reject → inference is disabled in configure_reads so it arrives as
    TIMESTAMP already; the NTZ cast here is a belt-and-braces no-op path
    (exact under the UTC session timezone)."""
    for f in df.schema.fields:
        if f.name != "ts":
            continue
        if isinstance(f.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def configure_reads(spark: SparkSession) -> None:
    """Runtime-set (not only in our session factory): the driver passes its
    own SparkSession. nanosAsLong lets TIMESTAMP(NANOS) fixtures scan at
    all; inferTimestampNTZ=false keeps tz-less parquet timestamps as
    instants (TIMESTAMP) so event-time ops (unix_micros, watermarks,
    window()) behave identically across writer generations."""
    def configure() -> None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled",
                       "false")
        # Pin the session timezone: the NTZ→TIMESTAMP fallback cast in
        # normalize_event_ts and string rendering of event-time results
        # are only oracle-exact (DuckDB runs in UTC) when the Spark
        # session is UTC too — a driver-supplied session may carry any
        # local zone.
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    memo(spark, "reads_configured", configure)


def literal_table(spark: SparkSession, rows: list[tuple],
                  schema: str) -> DataFrame:
    """``rows`` (typed by ``schema``, e.g. ``"m bigint, eps double"``) as
    a plan literal. ``createDataFrame`` over a Python list plans a scan
    of an RDD made for that call, so a persist above it never matches
    the cache entry an earlier call registered; a literal plan is the
    same on every call and the cache manager reuses one entry."""
    fields = [f.strip().split(None, 1) for f in schema.split(",")]
    return spark.range(1).select(F.inline(F.array(*[
        F.struct(*[F.lit(v).cast(t).alias(n)
                   for v, (n, t) in zip(row, fields)])
        for row in rows])))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Driver-side PLAN memo (not a data cache): the returned DataFrame is
    an immutable logical plan, so each (session, dir, table) needs exactly
    one ``spark.read.parquet`` — repeated construction otherwise re-lists
    the path and re-reads parquet footers on the driver for every query,
    pure per-query latency. Fixtures are read-only, so no invalidation is
    needed."""
    configure_reads(spark)
    return memo(spark, ("table", sf_dir, name), lambda: normalize_event_ts(
        spark.read.parquet(f"{sf_dir}/{name}.parquet")))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so operators can use spark.sql(...) freely."""
    for n in (names or TABLES):
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
