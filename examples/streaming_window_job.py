"""A complete streaming job: file-source stream → watermark → tumbling
window aggregate → parquet sink with checkpoint, bounded by availableNow
(swap the trigger for ``processingTime`` in production).

Flink original shape [PK]::

    env.addSource(source)
       .assignTimestampsAndWatermarks(strategy)
       .keyBy(e -> e.type)
       .window(TumblingEventTimeWindows.of(Time.minutes(10)))
       .aggregate(new CountSum())
       .addSink(sink)

Run: ``python examples/streaming_window_job.py [sf_dir] [out_dir]``
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from flink_quickstart_spark import get_spark
from flink_quickstart_spark.streaming.harness import (
    events_stream,
    write_stream_parquet,
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="win_job_")
    spark = get_spark(app_name="streaming-window-job")
    spark.sparkContext.setLogLevel("ERROR")

    stream = events_stream(spark, sf_dir)
    windowed = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_v"))
        .select("w.start", "w.end", "event_type", "n", "sum_v")
    )
    # stops the query and raises TimeoutError if it does not drain, so
    # a partial sink is never read
    write_stream_parquet(windowed, out, out + "_ckpt")
    result = spark.read.parquet(out)
    print(f"windows written: {result.count()} -> {out}")
    result.orderBy(F.col("n").desc()).show(10, truncate=False)


if __name__ == "__main__":
    main()
