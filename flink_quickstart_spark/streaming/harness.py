"""Structured Streaming harness.

Reference lifecycle [PK]: a Flink quickstart job builds a DataStream DAG
and ``env.execute()``s it against unbounded sources. Our engine's twin:
``readStream`` file sources → the SAME DataFrame transformations used in
batch → ``writeStream`` with ``availableNow`` (bounded replay) for tests
or ``processingTime`` triggers in production.

The central correctness tool is :func:`run_stream_equivalent`: run a query
builder in batch AND as a stream over the same parquet directory, then
compare results — Spark guarantees window/agg semantics are identical, so
any drift is an engine bug or a non-replayable query shape. This replaces
Flink's harness-based operator tests (SURVEY.md §5.2).

No Kafka jar ships in this container (SURVEY.md §2.A7); Kafka is a
deploy-time ``--packages`` dependency and the directory-monitoring file
source is the test-time streaming source.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_quickstart_spark.sources.tables import load_table


def _scratch(*parts: str) -> str:
    d = os.path.join(tempfile.gettempdir(), "fqs_scratch", *parts)
    os.makedirs(d, exist_ok=True)
    return d


def table_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Any testdata table as a file-source stream with the same schema
    (and, for events, ts normalization) as the batch loader (A6:
    directory-monitoring source, Flink ``readFile(...,
    PROCESS_CONTINUOUSLY)`` analog)."""
    batch = load_table(spark, sf_dir, table)
    # The file source monitors a DIRECTORY; testdata is one file per table
    # in a shared dir, so stage a scratch dir containing only this table's
    # file (symlink — no copy). In production this is the landing dir.
    src_dir = _scratch("stream_src", os.path.basename(sf_dir.rstrip("/")), table)
    link = os.path.join(src_dir, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/{table}.parquet", link)
    reader = spark.readStream.schema(
        spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(src_dir)
    # Mirror load_table's ts normalization so stream and batch schemas are
    # identical and withWatermark sees TimestampType (it rejects NTZ).
    ts_dtype = dict(raw.dtypes).get("ts")
    if ts_dtype == "bigint":
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_dtype == "timestamp_ntz":
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    assert raw.schema == batch.schema, "stream/batch schema drift"
    return raw


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """The ``events`` table as a file-source stream (see table_stream)."""
    return table_stream(spark, sf_dir, "events", max_files_per_trigger)


def _await_drained(q, timeout_s: int = 120) -> None:
    """Wait for an availableNow query to drain its source; on timeout stop
    it and raise ``TimeoutError`` rather than let the caller read a
    partial sink while the query keeps running."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not drain within {timeout_s} s"
        )


def run_to_memory(
    df: DataFrame, query_name: str | None = None, output_mode: str = "append"
) -> DataFrame:
    """Drain a streaming DataFrame through an availableNow trigger into a
    memory sink; returns the sink contents as a batch DataFrame (A11).
    Raises ``TimeoutError`` (query stopped) if it does not drain."""
    spark = df.sparkSession
    name = query_name or f"q_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", _scratch("ckpt", name))
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)
    return spark.table(name)


def run_stream_equivalent(
    spark: SparkSession,
    sf_dir: str,
    transform,
    output_mode: str = "complete",
    watermark: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run ``transform(events_df) -> DataFrame`` in batch and as a stream
    over the same data; returns (batch_result, stream_result) for
    equality assertion by the caller."""
    batch_df = transform(load_table(spark, sf_dir, "events"))
    stream_in = events_stream(spark, sf_dir)
    if watermark:
        stream_in = stream_in.withWatermark("ts", watermark)
    stream_df = transform(stream_in)
    return batch_df, run_to_memory(stream_df, output_mode=output_mode)


def write_stream_parquet(
    df: DataFrame, out_dir: str, checkpoint: str | None = None
) -> None:
    """A9 streaming file sink: exactly-once via checkpoint WAL + atomic
    task commits. availableNow-bounded for tests; raises ``TimeoutError``
    (query stopped) if it does not drain."""
    q = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint or _scratch("ckpt", uuid.uuid4().hex[:8]))
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q)


def foreach_batch_with_late_side_output(
    df: DataFrame,
    ts_col: str,
    lateness: str,
    on_time_sink,
    late_sink,
):
    """G-1 mitigation: Spark drops late rows silently and has no Flink-
    style side outputs. This wrapper runs BEFORE the watermarked agg:
    within each micro-batch, rows older than (max seen ts − lateness) are
    routed to ``late_sink`` (quarantine) and the rest to ``on_time_sink``.

    State is the running max event time, kept per-batch via the batch's
    own max — a conservative (per-batch, not global) watermark proxy that
    never misroutes an on-time row.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        row = batch_df.agg(F.max(ts_col).alias("m")).collect()[0]
        if row.m is None:
            return
        cutoff = F.lit(row.m) - F.expr(f"INTERVAL {lateness}")
        on_time_sink(batch_df.where(F.col(ts_col) >= cutoff), batch_id)
        late_sink(batch_df.where(F.col(ts_col) < cutoff), batch_id)

    return df.writeStream.foreachBatch(handle)


def _write_epoch(df: DataFrame, batch_id: int, out_dir: str) -> None:
    """Write ``df`` as the ``out_dir/batch_id=<n>/`` partition by
    dynamic overwrite: a re-delivered epoch replaces its own partition
    and never duplicates rows."""
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def idempotent_foreach_batch(out_dir: str):
    """I13 exactly-once custom sink: epoch-partitioned overwrite.

    Spark's foreachBatch gives at-least-once delivery — after a failure,
    the SAME batch_id may be re-delivered with the same data. Writing to
    ``out_dir/batch_id=<n>/`` with dynamic partition overwrite makes the
    replay idempotent: a re-delivered epoch atomically replaces its own
    partition and never duplicates rows (the standard Spark recipe for
    transactional-sink semantics without a transactional store; Flink's
    analog is the two-phase-commit sink).

    Returns a handler for ``df.writeStream.foreachBatch(...)``.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _write_epoch(batch_df, batch_id, out_dir)

    return handle


def foreach_batch_index_query(
    index_path: str,
    out_dir: str,
    k: int = 3,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Online retrieval over a PERSISTED vector index (r8): each
    micro-batch of query vectors runs :func:`ivf_query_index` against
    the build-once IVF index and lands its top-k matches in an
    epoch-partitioned sink (idempotent replay, same recipe as
    :func:`idempotent_foreach_batch`).

    This is the streaming face of the K4c production shape: the index
    is built once offline; the stream pays only the per-batch probe —
    an O(n_clusters) centroid load plus a partition-pruned member scan
    per epoch — so the enrichment cost scales with query throughput,
    not corpus size. Exactly the stream-static join Flink users run
    against an external ANN service, expressed engine-side with no
    extra infrastructure.

    Returns a handler for ``df.writeStream.foreachBatch(...)``; the
    equivalence to the batch answer is pinned in
    tests/test_streaming_r8.py.
    """
    from flink_quickstart_spark.operators.similarity import ivf_query_index

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        matches = ivf_query_index(
            batch_df.sparkSession,
            index_path,
            batch_df.select(id_col, vec_col),
            k=k,
            n_probe=n_probe,
            id_col=id_col,
            vec_col=vec_col,
        )
        _write_epoch(matches, batch_id, out_dir)

    return handle


def foreach_batch_ingest_admission(
    store_path: str,
    corpus_path: str,
    flagged_dir: str,
    admitted_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
):
    """Streaming ADMISSION gate over the persisted minhash signature
    store (r9 — the ingest twin of :func:`foreach_batch_index_query`,
    VERDICT r8 #2): each micro-batch of documents is near-dup-checked
    against the corpus AND every previously admitted batch, flagged
    pairs land in an epoch-partitioned sink, and the surviving documents
    are ADMITTED — their signatures upserted into the store
    (operators/dedup.minhash_upsert_store) and their text appended to
    ``{admitted_dir}`` — so batch N+1 dedups against batch N without any
    rebuild. This is the day-2 lifecycle of a 100 TB corpus: the store
    grows by appends, per-batch cost ∝ batch (signature agg +
    bucket-pruned band join + point-fetched exact verify), and the
    corpus body is never rescanned.

    Exactly-once discipline: the flagged sink and the admitted table are
    epoch-partitioned dynamic overwrites (idempotent replay). For the
    STORE upsert there are two layouts:

    - **epoch-partitioned store** (built with
      ``minhash_build_store(..., epoch_partitioned=True)`` — the
      recommended streaming layout, r10): the upsert is a dynamic
      overwrite of the batch's own ``(_hmod, _epoch=batch_id)``
      partitions, so a replayed epoch REPLACES its first attempt —
      exactly-once BY LAYOUT, with no crash window anywhere between
      the three writes (each is independently idempotent). The
      ``_last_admitted_batch`` marker remains as a skip-work
      optimization and an observability probe, but correctness no
      longer depends on it (crash-injection pinned in
      tests/test_streaming_r10.py).
    - **flat store**: append guarded by the marker (monotonic batch ids
      per checkpoint). Marker written after the upsert: a crash between
      the two re-appends on replay — duplicate band rows are
      semantically harmless for candidate generation, which dedups, and
      cost only storage (the historical r9 caveat; build the store
      epoch-partitioned to close it).

    streamed == batch-incremental is pinned in tests/test_streaming_r9.py.
    """
    from flink_quickstart_spark.operators.dedup import (
        minhash_ingest_neardup,
        minhash_upsert_store,
    )
    from flink_quickstart_spark.operators.iterative import _release

    marker = os.path.join(store_path, "_last_admitted_batch")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        from flink_quickstart_spark.operators.maintenance import (
            read_store_rows,
        )

        meta = read_store_rows(store_path, "meta")[0]
        epoch_store = bool(getattr(meta, "epoch_partitioned", False))
        # one materialization: the batch feeds the prune-set collection,
        # the band join, the exact verify, and the admission anti-join
        batch = batch_df.localCheckpoint(eager=True)
        try:
            corpus = spark.read.parquet(corpus_path).select(id_col, text_col)
            if os.path.isdir(admitted_dir) and any(
                f.endswith(".parquet")
                for _, _, fs in os.walk(admitted_dir)
                for f in fs
            ):
                # STRICTLY EARLIER epochs only (partition-pruned): a
                # REPLAYED epoch must not see its own first-attempt
                # admissions as corpus, or within-batch pairs would
                # appear that the original run never checked —
                # replay-idempotence would break
                corpus = corpus.unionByName(
                    spark.read.parquet(admitted_dir)
                    .where(F.col("batch_id") < batch_id)
                    .select(id_col, text_col)
                )
            # on an epoch store, probe STRICTLY EARLIER epochs only —
            # the store-side twin of the admitted_dir filter above: a
            # replayed epoch must not candidate-match its own
            # first-attempt signatures (replay-determinism)
            pairs = minhash_ingest_neardup(
                spark, store_path, batch, corpus,
                id_col=id_col, text_col=text_col, threshold=threshold,
                before_epoch=(int(batch_id) + 1) if epoch_store else None,
            ).localCheckpoint(eager=True)
            try:
                _write_epoch(pairs, batch_id, flagged_dir)
                admitted = batch.join(
                    pairs.select(F.col("new_id").alias(id_col)).distinct(),
                    id_col,
                    "left_anti",
                )
                _write_epoch(admitted, batch_id, admitted_dir)
                last = -1
                if os.path.exists(marker):
                    with open(marker) as fh:
                        last = int(fh.read().strip() or -1)
                if epoch_store:
                    # replay-safe regardless of the marker: the upsert
                    # dynamically overwrites this epoch's partitions
                    # (epochs are 1-based: _epoch=0 is the base corpus)
                    if batch_id >= last:
                        minhash_upsert_store(
                            spark, store_path, admitted,
                            id_col=id_col, text_col=text_col,
                            epoch=int(batch_id) + 1,
                        )
                elif batch_id > last:
                    minhash_upsert_store(
                        spark, store_path, admitted,
                        id_col=id_col, text_col=text_col,
                    )
                if batch_id > last:
                    tmp = marker + ".tmp"
                    with open(tmp, "w") as fh:
                        fh.write(str(batch_id))
                    os.replace(tmp, marker)
            finally:
                _release(pairs)
        finally:
            _release(batch)

    return handle


def foreach_batch_mv_refresh(mv_path: str):
    """STREAMING MATERIALIZED-VIEW maintenance (r10): a foreachBatch
    handler folding each micro-batch into an EPOCH-PARTITIONED MV
    store (operators/matview.mv_build(..., epoch_partitioned=True)) —
    the continuously-served dashboard aggregate of a 100 TB pipeline.

    Exactly-once BY LAYOUT, the same design the admission gate's epoch
    store uses: each micro-batch's partial aggregates are written as
    the batch's OWN ``(_gmod, _epoch = batch_id + 1)`` partitions via
    dynamic overwrite (the base owns epoch 0), so a replayed
    micro-batch REPLACES its first attempt — no marker, no crash
    window, and per-batch cost is pure batch (the store is never even
    read on the write path). Readers merge epochs on read
    (matview.mv_read); a maintenance window folds epochs back with
    matview.compact_mv. streamed == batch-incremental and
    replay-idempotence are pinned in tests/test_matview_stream_r10.py.
    """
    from flink_quickstart_spark.operators.matview import mv_refresh

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            # empty micro-batch: no epoch partition is written, and a
            # later replay of a non-empty attempt still lands in its
            # own epoch — nothing to guard
            return
        mv_refresh(
            batch_df.sparkSession, mv_path, batch_df, epoch=int(batch_id) + 1
        )

    return handle
