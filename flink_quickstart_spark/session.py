"""SparkSession factory.

Centralizes every config the engine depends on. Notable and load-bearing:

- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the testdata ``events.ts``
  column is parquet TIMESTAMP(MICROS, not UTC-adjusted), which Spark reads
  as TimestampNTZ and ``sources.tables`` casts to TimestampType. The flag
  matters for TIMESTAMP(NANOS) files from other writers, which Spark 4.x
  refuses to read natively: with it they arrive as bigint nanoseconds and
  ``sources.tables`` converts them with exact integer division
  (``ts DIV 1000``), matching DuckDB's ns→µs truncation bit-for-bit.
- ``spark.sql.session.timeZone=UTC`` — deterministic timestamp rendering;
  the oracle engine (DuckDB) is timezone-naive.
- AQE on (skew-join splitting, runtime coalescing, broadcast demotion) —
  the 100 TB path leans on it; harmless at test scale.
- Arrow enabled — every Pandas-UDF exchange is columnar.

Shuffle partitions follow two policies (docs/SCALE_DESIGN.md):

- **Batch** starts every exchange at a data-sized count (~128 MB of
  input per partition, ``shuffle_partitions_for_bytes``), held in
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``; with
  AQE coalescing on, that is the count Spark plans with, and AQE
  coalesces from it at run time.
- **Streaming** gets one partition per core: ``spark.sql.shuffle.partitions``
  is set to ``defaultParallelism``. Streaming runs with AQE off, so a
  stateful operator's partition count is this value, frozen in the
  checkpoint when the query first starts, and every partition costs one
  task plus one state-store load and commit per micro-batch. A query
  restarted from an older checkpoint keeps the count it recorded.

Streaming checkpoints (offset, commit and source logs, RocksDB
snapshot uploads, ``_spark_metadata``) go through Spark's
``CheckpointFileManager``; the factory picks
``FileSystemBasedCheckpointFileManager``. Spark's default, the
FileContext-based manager, looks up the link status of each rename's
source and destination, which on a Spark without ``libhadoop`` forks
``readlink`` (about 52 forks per live micro-batch, at 3–4 ms of CPU
each); on a local disk it buys no atomicity over the FileSystem-based
manager. The two differ only on ``overwriteIfPossible=True``, which
Spark's contract makes best effort and which the FileSystem-based
manager does not honour on ``file:``: a re-executed RocksDB batch keeps
the state version its first attempt uploaded (docs/SCALE_DESIGN.md,
"Checkpoint writes without shell forks").

At 100 TB on a real cluster the same factory applies; only the batch
count (which the sizing clamps at 4096) and executor sizing change, both
env-overridable here, and the streaming count follows the cluster's
cores.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)


def shuffle_partitions_for_bytes(
    total_input_bytes: int, min_partitions: int = 8, max_partitions: int = 4096
) -> int:
    """Size shuffle partitions to the data: ~128 MB of input per
    partition, clamped. At sf0.1 (~50 MB) this yields the floor (8); at
    100 TB it hits the cap and AQE coalesces from there. Scheduling
    overhead of oversized partition counts on small inputs measured ~40%
    of headline runtime (BENCH: 4.37 s @32 → 3.13 s @8, sf0.1)."""
    target = total_input_bytes // (128 * 1024 * 1024)
    return max(min_partitions, min(max_partitions, int(target)))


def dir_bytes(path: str) -> int:
    """Total bytes under a directory (for shuffle sizing)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


# --- tracked operator persists (r13, VERDICT r12 #2/#8 + ADVICE) -----
#
# A few operators persist() a corpus-scale intermediate that feeds 3+
# consumers inside one query (the r12 repeated-subtree elimination:
# shingle tables, the pareto per-customer aggregate). Those entries are
# session-lifetime by default — correct under LRU + disk spill, and the
# right §5 trade versus recomputing three shuffles — but a long-lived
# session invoking the operators over CHANGING inputs accumulates one
# CacheManager entry per distinct input plan, without bound. The seam
# below tracks every such persist so a host application (or a test) can
# release them all once the results are materialized:
#
#     from flink_quickstart_spark.session import release_tracked_persists
#     n_released = release_tracked_persists()
#
# Releasing is SAFE at any point — an unpersisted DataFrame recomputes
# from lineage — it only forfeits the intra-query reuse if called
# mid-query. bench/verify never call it (timing is unaffected).

_TRACKED_PERSISTS: list = []


def tracked_persist(df, storage_level=None):
    """persist() a DataFrame and register it for bulk release via
    :func:`release_tracked_persists`. Operators use this for their
    multi-consumer materializations instead of a bare ``persist`` so
    the session-lifetime cache growth has an explicit drain point."""
    from pyspark.storagelevel import StorageLevel

    df = df.persist(storage_level or StorageLevel.MEMORY_AND_DISK)
    _TRACKED_PERSISTS.append(df)
    return df


def release_tracked_persists() -> int:
    """Unpersist every operator-tracked cache entry; returns how many
    were released. Idempotent; safe while queries are not mid-flight
    (a released entry silently recomputes if re-read)."""
    n = 0
    for df in _TRACKED_PERSISTS:
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — dying session: best-effort
            pass
    _TRACKED_PERSISTS.clear()
    return n


# --- driver fast-path budgets (docs/SCALE_DESIGN.md, operating envelope)
#
# Small inputs cost a distributed step its fixed per-job overhead, so
# these sites run the same algorithm on the driver over an Arrow collect
# when the observed size (edges, distinct words, store rows) fits; each
# budget keeps the driver's working set ≤ ~64 MB. 0 disables a site.

DRIVER_BUDGETS: dict[str, int] = {
    "connected_components": 2_000_000,
    "pagerank": 4_000_000,
    "bpe": 2_000_000,
    "store_write": 200_000,
}


def fits_driver(site: str, n: int | None) -> bool:
    """True iff ``n`` (the site's observed size, None = unknown) fits
    ``DRIVER_BUDGETS[site]``. Logs the decision at DEBUG."""
    budget = DRIVER_BUDGETS[site]
    ok = n is not None and 0 < budget and n <= budget
    _log.debug(
        "driver budget site=%s budget=%d observed=%s path=%s",
        site, budget, n, "driver" if ok else "distributed",
    )
    return ok


FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "flink-quickstart-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``shuffle_partitions`` is the BATCH count every batch exchange starts
    at before AQE coalesces it (stored as
    ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``); it
    defaults to ``$SPARK_GRAFT_SHUFFLE_PARTITIONS`` or 32, and callers that
    know their input pass ``shuffle_partitions_for_bytes(...)``.

    ``spark.sql.shuffle.partitions`` is set to ``defaultParallelism``, the
    STREAMING state count: streaming runs with AQE off, the checkpoint
    freezes the count, and each partition costs one task plus one
    state-store commit per micro-batch. Checkpoints created under another
    count keep their recorded one.

    ``spark.sql.streaming.checkpointFileManagerClass`` is the
    FileSystem-based manager, which writes each checkpoint file without
    forking ``readlink``. One DEBUG record names the manager the session
    holds (``extra_conf`` can override it).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    # Spark's 1 GiB local-mode default driver heap causes TaskMemoryManager
    # page-allocation stalls under concurrent jobs even at bench scale
    # (observed at sf0.1); only effective at JVM launch, ignored afterwards.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(shuffle_partitions),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Manifest snapshot reads (operators/maintenance.py read_store)
        # hand Spark an EXPLICIT leaf-file list; above this threshold
        # Spark launches a distributed listing job over the paths (one
        # task per path), which for already-resolved file paths is pure
        # job-scheduling overhead — measured 1.06 s -> 0.67 s per
        # mv_read on a 192-file store (OPTIMIZATION_r12.md). Driver-side
        # status of O(10k) paths is microseconds on local FS and one
        # LIST per prefix on an object store; beyond ~10k paths the
        # distributed job earns its keep again, hence the raised (not
        # unbounded) threshold.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Streaming: RocksDB state store scales to out-of-heap state sizes
        # (jar verified present in /opt/spark/jars). HDFS-backed default
        # would OOM at 100 TB-scale keyed state.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.checkpointFileManagerClass", FS_CHECKPOINT_MANAGER)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
    )
    _log.debug(
        "checkpoint manager class=%s",
        spark.conf.get("spark.sql.streaming.checkpointFileManagerClass"),
    )
    return spark
