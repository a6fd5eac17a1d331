"""Property test pinning ``events.ts`` ingestion semantics.

The testdata writes ``ts`` as parquet TIMESTAMP(MICROS), which Spark reads
as TIMESTAMP_NTZ; NANOS files from other writers surface as bigint nanos
under the legacy flag or as TIMESTAMP_NTZ. Whatever dtype this
platform's Spark build surfaces (or native TIMESTAMP), the loader
must produce microsecond values identical to DuckDB's ``epoch_us`` read
of the same file — i.e. floor truncation of nanoseconds, never rounding.
This is the regression test for the round-2 platform drift that broke
every ``unix_micros(ts)`` call (VERDICT r2 item 1).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_quickstart_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_events_ts_is_timestamp_type(spark):
    df = load_table(spark, SF_DIR, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType), (
        "loader must normalize events.ts to TimestampType "
        f"(got {df.schema['ts'].dataType}) — withWatermark and unix_micros "
        "both require it"
    )


def test_events_ts_matches_duckdb_epoch_us_exactly(spark, duck):
    spark_rows = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", F.unix_micros("ts").alias("us"))
        .orderBy("event_id")
        .collect()
    )
    duck_rows = duck.execute(
        "SELECT event_id, epoch_us(ts) FROM events ORDER BY event_id"
    ).fetchall()
    assert len(spark_rows) == len(duck_rows)
    mismatches = [
        (s.event_id, s.us, d[1])
        for s, d in zip(spark_rows, duck_rows)
        if s.us != d[1]
    ]
    assert not mismatches, (
        f"{len(mismatches)} ns→µs truncation mismatches vs DuckDB; "
        f"first: {mismatches[0]} (floor semantics required, not rounding)"
    )
