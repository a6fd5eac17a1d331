"""Testdata table loaders.

The canonical input catalog: TPC-H-ish star schema + an ``events`` stream
table + LLM-pipeline tables (``documents``, ``embeddings``), one parquet
file per table per scale factor (TESTDATA.md).

``events.ts`` in the testdata fixtures is parquet TIMESTAMP(MICROS) without
UTC adjustment, which Spark reads as ``TimestampNTZType``. A TIMESTAMP(NANOS)
file from another writer is read differently by different Spark builds, so
``load_table`` dispatches on the dtype it actually observes:

- ``TimestampNTZType`` (the fixtures; also NANOS files on current builds,
  already floor-truncated to µs by the reader): cast to ``TimestampType``.
  Under the pinned UTC session timezone this is wall-clock preserving, so
  values match DuckDB's read bit-for-bit.
- ``LongType`` (a NANOS file with
  ``spark.sql.legacy.parquet.nanosAsLong=true`` honored): exact integer
  division ``ts DIV 1000`` → ``timestamp_micros``. Double division
  (``ts/1000``) would be WRONG: 1.7e18 does not fit a double mantissa, so
  the rounded result drifts ±1µs from DuckDB's truncation.
- ``TimestampType``: already normalized, pass through.

At scale these loaders are the single choke point for scan hygiene:
everything downstream composes on the returned DataFrames, so filter/
column pushdown reaches the parquet reader via Catalyst automatically.
"""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Tiny dimensions that should always be broadcast in joins (row counts at
# sf1.0 remain O(10^2): region=5, nation=25, supplier/part grow slowly).
BROADCAST_DIMS = ("region", "nation", "supplier")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; normalizes ``events.ts`` to TimestampType."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        dtype = df.schema["ts"].dataType
        if isinstance(dtype, T.LongType):
            # Exact ns→µs truncation, matching DuckDB's TIMESTAMP_NS→µs read.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(dtype, T.TimestampNTZType):
            # Reader already floor-truncated ns→µs; wall-clock-preserving
            # cast under the pinned UTC session timezone.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> SimpleNamespace:
    """Load every table as an attribute namespace: ``t.lineitem`` etc."""
    return SimpleNamespace(
        **{name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
    )


_ROW_GROUP_CACHE: dict[tuple, int] = {}


def _parquet_row_groups(path: str) -> int:
    """Total parquet row groups behind ``path`` (file or directory) —
    the number of independently scannable units, i.e. the scan's real
    parallelism ceiling. Driver-side footer reads, cached per
    (path, mtime, size) so a file regenerated at the same path within
    one driver process invalidates the entry (r13, ADVICE r12)."""
    import os

    import pyarrow.parquet as pq

    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        key = (path, None, None)
    if key in _ROW_GROUP_CACHE:
        return _ROW_GROUP_CACHE[key]

    files = (
        [path]
        if os.path.isfile(path)
        else sorted(
            os.path.join(r, f)
            for r, _d, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        )
    )
    total = 0
    for f in files:
        try:
            total += pq.ParquetFile(f).metadata.num_row_groups
        except Exception:  # noqa: BLE001 — unreadable footer: assume 1
            total += 1
    _ROW_GROUP_CACHE[key] = max(1, total)
    return _ROW_GROUP_CACHE[key]


def spread_unsplittable(
    df: DataFrame, sf_dir: str, name: str = "documents"
) -> DataFrame:
    """Guide §2.5 'one huge unsplittable file': a parquet scan exposes
    at most one task per ROW GROUP, so a table stored as few row groups
    runs effectively single-threaded into any explode-heavy pipeline
    regardless of core count (the bench testdata is one row group per
    table — measured 4.6 s → 1.1 s on q_text_langid_ngram at sf0.1).
    Repartition to the cluster's parallelism ONLY when the input's row
    groups fall short of it; at real scale (many files / row groups)
    this is a plan no-op, so no corpus-byte shuffle is ever added on a
    cluster. Scheme-qualified paths (s3a://, hdfs://) skip the local
    footer probe and are returned unchanged."""
    if "://" in sf_dir and not sf_dir.startswith("file:"):
        return df
    cores = df.sparkSession.sparkContext.defaultParallelism
    if _parquet_row_groups(f"{sf_dir}/{name}.parquet") >= cores:
        return df
    return df.repartition(cores)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so ``spark.sql`` is first-class."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
