"""Shuffle-partition policies of ``session.get_spark``: batch exchanges
start at the data-sized count, streaming state gets one partition per
core, and a checkpoint keeps the count it was created with. A checkpoint
written under Spark's default checkpoint manager restarts under the
engine's. Also the harness's timeout contract (a query that does not
drain is stopped and raises instead of returning a partial sink)."""

from __future__ import annotations

import os
import re
import sys
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from flink_quickstart_spark import get_spark
from flink_quickstart_spark.api import (
    StreamExecutionEnvironment,
    TumblingEventTimeWindows,
)
from flink_quickstart_spark.sources.tables import load_table
from flink_quickstart_spark.streaming import harness
from tests.conftest import SF_DIR

DATA_SIZED = 8
CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
)


@pytest.fixture
def sized(spark):
    """The shared session re-fetched through ``get_spark`` with a
    data-sized count of 8; its conf is restored afterwards."""
    saved = {k: spark.conf.get(k, None) for k in CONFS}
    try:
        yield get_spark(app_name="fqs-tests", shuffle_partitions=DATA_SIZED)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _windowed(ds):
    """The quickstart job: watermarked, keyed, tumbling event-time sums."""
    return (
        ds.assign_timestamps_and_watermarks("ts", "10 minutes")
        .key_by("event_type")
        .window(TumblingEventTimeWindows.of("10 minutes"), time_col="ts")
        .aggregate(n=F.count(F.lit(1)), total=F.round(F.sum("value"), 4))
        .map("event_type", "n", "total", ws=F.unix_micros(F.col("window.start")))
        .to_df()
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _drain(df, name: str, ckpt: str) -> StreamingQuery:
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow query did not drain"
    return q


def _half_source(spark, tmp_path):
    """The events before their median timestamp as a parquet source.
    Returns the windowed stream over it and a callback that appends the
    other half and returns the batch twin's rows of the whole source."""
    src = str(tmp_path / "src")
    events = load_table(spark, SF_DIR, "events")
    ts_us = F.unix_micros("ts")
    cut = events.agg(F.percentile_approx(ts_us, 0.5)).first()[0]
    events.where(ts_us < cut).coalesce(1).write.parquet(src)
    env = StreamExecutionEnvironment.get_execution_environment(spark)

    def append_rest():
        events.where(ts_us >= cut).coalesce(1).write.mode("append").parquet(src)
        return _rows(_windowed(env.read_parquet(src)))

    return _windowed(env.parquet_stream(src, events.schema)), append_rest


def _state_partitions(q: StreamingQuery) -> set[int]:
    return {
        op.numShufflePartitions
        for p in q.recentProgress
        for op in p.stateOperators
    }


def _first_exchange_partitions(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"Exchange hashpartitioning\(.*, (\d+)\),", plan)
    assert m, plan
    return int(m.group(1))


def test_stream_state_one_partition_per_core_batch_keeps_data_sized(
    sized, tmp_path
):
    spark = sized
    src = str(tmp_path / "src")
    events = load_table(spark, SF_DIR, "events")
    events.coalesce(1).write.parquet(src)
    env = StreamExecutionEnvironment.get_execution_environment(spark)

    name = f"par_{uuid.uuid4().hex[:8]}"
    q = _drain(
        _windowed(env.parquet_stream(src, events.schema)),
        name,
        str(tmp_path / "ckpt"),
    )
    assert _state_partitions(q) == {spark.sparkContext.defaultParallelism}

    batch_twin = _windowed(env.read_parquet(src))
    assert _first_exchange_partitions(batch_twin) == DATA_SIZED
    assert _rows(spark.table(name)) == _rows(batch_twin)


def test_checkpoint_keeps_its_recorded_partition_count(sized, tmp_path):
    """A checkpoint created at 8 partitions (the count before streaming
    moved to one per core) restarts at 8 and still equals the batch twin."""
    spark, ckpt = sized, str(tmp_path / "ckpt")
    stream, append_rest = _half_source(spark, tmp_path)
    name = f"ckpt_{uuid.uuid4().hex[:8]}"

    per_core = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(DATA_SIZED))
    try:
        first = _drain(stream, name, ckpt)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", per_core)
    assert _state_partitions(first) == {DATA_SIZED}

    twin = append_rest()
    restarted = _drain(stream, name, ckpt)
    assert _state_partitions(restarted) == {DATA_SIZED}
    assert _rows(spark.table(name)) == twin


def _temp_files(ckpt: str) -> dict[str, int]:
    """Temp files per state partition of operator 0."""
    state = os.path.join(ckpt, "state", "0")
    return {
        p: sum(".tmp" in f for f in os.listdir(os.path.join(state, p)))
        for p in os.listdir(state)
        if p.isdigit()
    }


def test_checkpoint_of_spark_default_manager_restarts(sized, tmp_path):
    """A checkpoint written under Spark's default (FileContext-based)
    checkpoint manager, as every local checkpoint was before the engine
    picked the FileSystem-based one, restarts under the engine's manager.

    Before each restart the last commit-log entry is removed, as a crash
    after the state upload would leave it, so the restart re-executes
    that batch and re-uploads a state version that already exists. The
    engine's manager keeps the existing zip; the second restart loads
    that kept version back. Before the first restart, partition 0 also
    loses that version's checksum file, as a crash between the zip's
    rename and its checksum file's would leave it: the re-upload creates
    no checksum for a zip that has none (Spark's
    ``fileChecksum.skipCreationIfFileMissingChecksum``), so the kept zip
    never meets a checksum of another attempt. The output still equals
    the batch twin.

    Each refused re-upload leaves its temp files behind (the zip's and
    the checksum file's, each with a ``.crc`` sidecar); the counts are
    pinned as shipped."""
    spark, ckpt = sized, str(tmp_path / "ckpt")
    stream, append_rest = _half_source(spark, tmp_path)
    name = f"fc_{uuid.uuid4().hex[:8]}"

    key = "spark.sql.streaming.checkpointFileManagerClass"
    engine = spark.conf.get(key)
    spark.conf.unset(key)
    try:
        _drain(stream, name, ckpt)
    finally:
        spark.conf.set(key, engine)

    twin = append_rest()
    commits = os.path.join(ckpt, "commits")
    p0 = os.path.join(ckpt, "state", "0", "0")
    for restart in (1, 2):
        last = max(int(f) for f in os.listdir(commits) if f.isdigit())
        for f in (str(last), f".{last}.crc"):
            os.remove(os.path.join(commits, f))
        checksum = f"{last + 1}.zip.crc"
        if restart == 1:
            for f in (checksum, f".{checksum}.crc"):
                os.remove(os.path.join(p0, f))
        restarted = _drain(stream, name, ckpt)
        assert restarted.recentProgress[0].batchId == last
        assert _rows(spark.table(name)) == twin
        assert os.path.exists(os.path.join(p0, checksum)) == (restart == 2)
        temps = _temp_files(ckpt)
        assert temps.pop("0") == 4 * restart - 2
        assert set(temps.values()) == {4 * restart}


@pytest.mark.parametrize("sink", ["memory", "parquet", "example"])
def test_harness_timeout_stops_query_and_raises(spark, tmp_path, monkeypatch, sink):
    running = {q.id for q in spark.streams.active}
    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda self, t=None: False)
    stream = harness.events_stream(spark, SF_DIR)
    with pytest.raises(TimeoutError):
        if sink == "memory":
            harness.run_to_memory(stream, query_name=f"to_{uuid.uuid4().hex[:8]}")
        elif sink == "parquet":
            harness.write_stream_parquet(
                stream, str(tmp_path / "out"), str(tmp_path / "ckpt")
            )
        else:
            # the shipped streaming example must not read a partial sink
            from examples import streaming_window_job

            monkeypatch.setattr(
                sys, "argv", ["streaming_window_job", SF_DIR, str(tmp_path / "out")]
            )
            # the shared session, not get_spark's unsized defaults on it
            monkeypatch.setattr(streaming_window_job, "get_spark", lambda **_: spark)
            streaming_window_job.main()
    assert {q.id for q in spark.streams.active} <= running
