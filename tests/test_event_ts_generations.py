"""normalize_event_ts property: the same logical events rows written by
three parquet writer generations — TIMESTAMP(NANOS) (scans as long under
nanosAsLong), tz-less micros (would scan as NTZ if inference were on),
and TIMESTAMP micros UTC — must normalize to identical instants, even
when the driver-supplied session starts in a non-UTC zone (the
UTC-pinning path in configure_reads). VERDICT r2 item 8: this is the one
piece of timestamp logic previously exercised only implicitly.

Runs over the full sf0.1 events fixture (100k rows), not a toy frame.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from big_data_science_project_spark.session import release
from big_data_science_project_spark.sources.tables import (
    configure_reads,
    normalize_event_ts,
)

SF_DIR = "/root/testdata/sf0.1"

GENERATIONS = {
    "nanos_as_long": pa.timestamp("ns"),
    "ntz_micros": pa.timestamp("us"),
    "utc_micros": pa.timestamp("us", tz="UTC"),
}


@pytest.fixture(scope="module")
def generation_files(tmp_path_factory):
    base = tmp_path_factory.mktemp("events_gen")
    src = pq.read_table(f"{SF_DIR}/events.parquet")
    ts_us = src.column("ts").cast(pa.timestamp("us"))
    paths = {}
    for name, typ in GENERATIONS.items():
        tbl = src.set_column(src.schema.get_field_index("ts"), "ts",
                             ts_us.cast(typ))
        p = str(base / f"{name}.parquet")
        pq.write_table(tbl, p)
        paths[name] = p
    truth = sorted(zip(src.column("event_id").to_pylist(),
                       ts_us.cast(pa.int64()).to_pylist()))
    return paths, truth


@pytest.mark.parametrize("gen", sorted(GENERATIONS))
def test_generation_normalizes_to_same_instants(spark, generation_files, gen):
    paths, truth = generation_files
    configure_reads(spark)
    df = normalize_event_ts(spark.read.parquet(paths[gen]))
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(
        (r["event_id"], r["us"]) for r in
        df.select("event_id", F.unix_micros("ts").alias("us")).collect())
    assert got == truth, f"{gen}: instants diverge from writer ground truth"


def test_utc_pinning_under_foreign_session_zone(spark, generation_files):
    """A driver session in a non-UTC zone must still yield the same
    instants (configure_reads pins the session zone to UTC)."""
    paths, truth = generation_files
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    # simulate a fresh driver-supplied session: configure_reads is
    # memoized per session, and this test models the first load
    release(spark)
    try:
        configure_reads(spark)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        df = normalize_event_ts(spark.read.parquet(paths["nanos_as_long"]))
        got = sorted(
            (r["event_id"], r["us"]) for r in
            df.select("event_id", F.unix_micros("ts").alias("us")).collect())
        assert got == truth
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
