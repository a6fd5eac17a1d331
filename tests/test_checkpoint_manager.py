"""The checkpoint manager ``get_spark`` picks for streaming checkpoints.

A ``get_spark`` session writes its checkpoint files through Spark's
FileSystem-based manager, which renames without forking ``readlink``,
instead of Spark's default, the FileContext-based manager. Both are
driven here on the same local disk, so every boundary the engine's
manager keeps is pinned against the manager it replaces, and the one it
does not keep (``overwriteIfPossible=True`` onto an existing file) is
pinned as it is.
"""

from __future__ import annotations

import logging
import os

import pytest
from py4j.protocol import Py4JJavaError

from flink_quickstart_spark import get_spark
from flink_quickstart_spark.session import FS_CHECKPOINT_MANAGER

KEY = "spark.sql.streaming.checkpointFileManagerClass"
FC_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _create(spark, path: str):
    """``CheckpointFileManager.create`` as a streaming query calls it."""
    jvm = spark._jvm
    return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(path),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )


@pytest.fixture(params=[FS_CHECKPOINT_MANAGER, FC_CHECKPOINT_MANAGER])
def manager(spark, tmp_path, request):
    """A manager on ``tmp_path``: the engine's (the session as
    ``get_spark`` built it) or Spark's default (the conf unset)."""
    engine = spark.conf.get(KEY)
    if request.param == FC_CHECKPOINT_MANAGER:
        spark.conf.unset(KEY)
    try:
        fm = _create(spark, str(tmp_path))
    finally:
        spark.conf.set(KEY, engine)
    assert fm.getClass().getName() == request.param
    return spark._jvm, fm


def _write(jvm, fm, path: str, data: bytes, overwrite: bool) -> None:
    out = fm.createAtomic(jvm.org.apache.hadoop.fs.Path(path), overwrite)
    out.write(bytearray(data))
    out.close()


def _read(path) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def test_session_picks_the_filesystem_manager(spark, tmp_path, caplog):
    batch_parts = spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    caplog.set_level(logging.DEBUG, logger="flink_quickstart_spark.session")
    assert get_spark(app_name="fqs-tests", shuffle_partitions=int(batch_parts)) is spark

    assert spark.conf.get(KEY) == FS_CHECKPOINT_MANAGER
    assert _create(spark, str(tmp_path)).getClass().getName() == FS_CHECKPOINT_MANAGER
    decisions = [r.args for r in caplog.records if r.msg.startswith("checkpoint manager")]
    assert decisions == [(FS_CHECKPOINT_MANAGER,)]


def test_create_atomic_boundary_semantics(manager, tmp_path):
    jvm, fm = manager
    name = fm.getClass().getName()
    target = tmp_path / "commit"

    # a new file lands with its .crc sidecar and no temp file left over
    _write(jvm, fm, str(target), b"old", overwrite=False)
    assert _read(target) == b"old"
    assert sorted(os.listdir(tmp_path)) == [".commit.crc", "commit"]

    # no overwrite onto an existing file: FileAlreadyExistsException, old
    # bytes in place (how the offset and commit logs detect a batch that
    # another run already wrote)
    with pytest.raises(Py4JJavaError) as err:
        _write(jvm, fm, str(target), b"new", overwrite=False)
    exists = jvm.java.lang.Class.forName("org.apache.hadoop.fs.FileAlreadyExistsException")
    assert exists.isInstance(err.value.java_exception)
    assert _read(target) == b"old"

    # cancel leaves neither the file nor its temp file
    out = fm.createAtomic(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "cancelled")), False)
    out.write(bytearray(b"partial"))
    out.cancel()
    assert not [f for f in os.listdir(tmp_path) if "cancelled" in f]

    # overwriteIfPossible is best effort in Spark's contract. `file:` is
    # served by a FileSystem whose two-argument rename refuses an existing
    # destination, so only the FileContext path (delete, then rename)
    # replaces the file; the FileSystem-based manager keeps the old bytes
    # and raises nothing. The one such write a RocksDB query makes is a
    # state version re-uploaded when a batch re-executes after a crash;
    # tests/test_streaming_parallelism.py drives that restart.
    _write(jvm, fm, str(target), b"newer", overwrite=True)
    replaced = name == FC_CHECKPOINT_MANAGER
    assert _read(target) == (b"newer" if replaced else b"old"), name
