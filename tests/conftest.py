from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

from flink_quickstart_spark import get_spark  # noqa: E402
from flink_quickstart_spark.session import (  # noqa: E402
    dir_bytes,
    shuffle_partitions_for_bytes,
)
from flink_quickstart_spark.sources.tables import TABLE_NAMES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # batch plans start at the data-sized count, as on every engine entry
    # point (bench.py, tools/); streaming gets one partition per core
    s = get_spark(
        app_name="fqs-tests",
        shuffle_partitions=shuffle_partitions_for_bytes(dir_bytes(SF_DIR)),
    )
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()
