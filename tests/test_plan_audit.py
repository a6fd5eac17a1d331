"""The plan-audit gate's detectors must actually detect — each one is
exercised against a planted defect and a clean counterpart, so the
"0 findings across 221 keys" result is evidence, not vacuity."""

from __future__ import annotations

import contextlib
import io
import re
from pathlib import Path

from pyspark.sql import functions as F

from tools.plan_audit import (
    MATERIALIZE_ALLOWED,
    audit_materialization,
    audit_plan,
    audit_unbroadcast_dims,
)

SF = "/root/testdata/sf0.001"


def _simple_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_unbroadcast_dim_detector_fires_on_planted_smj(spark):
    n = spark.read.parquet(f"{SF}/nation.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bad = c.join(n, c.c_nationkey == n.n_nationkey)
        assert audit_unbroadcast_dims(_simple_plan(bad)) == [
            "unbroadcast-tiny-dim"
        ]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    good = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    assert audit_unbroadcast_dims(_simple_plan(good)) == []


def test_unbroadcast_dim_detector_ignores_aggregated_dim_side(spark):
    """A join side that AGGREGATES nation first is no longer dim-sized
    by construction — the detector must not flag structural sides."""
    n = spark.read.parquet(f"{SF}/nation.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        agg = n.groupBy("n_regionkey").agg(
            F.count(F.lit(1)).alias("n_nations")
        )
        j = c.join(agg, c.c_nationkey == agg.n_regionkey)
        assert audit_unbroadcast_dims(_simple_plan(j)) == []
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_global_window_detector_fires_and_clears(spark):
    from pyspark.sql import Window

    c = spark.read.parquet(f"{SF}/customer.parquet")
    bad = c.select(
        "c_custkey", F.row_number().over(Window.orderBy("c_custkey")).alias("rn")
    )
    assert any(
        f.startswith("global-window") for f in audit_plan(_formatted_plan(bad))
    )
    good = c.select(
        "c_custkey",
        F.row_number()
        .over(Window.partitionBy("c_nationkey").orderBy("c_custkey"))
        .alias("rn"),
    )
    assert audit_plan(_formatted_plan(good)) == []


def test_materialization_scanner_state_is_current():
    """Every waiver matches a real site and no unwaived sites exist —
    the scanner runs against the actual package tree."""
    pkg = Path(__file__).resolve().parents[1] / "flink_quickstart_spark"
    findings, waived = audit_materialization(pkg)
    assert findings == []
    # every waiver is exercised by >= 1 real site (no stale waivers);
    # one waiver may cover several sites in the same function
    used = {
        re.sub(r":\d+ \[(.+)\] \.(\w+)\(\).*", r":\1:\2", w)
        for w in waived
    }
    assert used == set(MATERIALIZE_ALLOWED)


def test_materialization_scanner_fires_on_planted_collect(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "bad.py").write_text(
        "def hot_path(df):\n    return [r.x for r in df.collect()]\n"
    )
    (pkg / "ok.py").write_text(
        "from pyspark.sql import functions as F\n"
        "def fine(df):\n    return df.select(F.first('x'))\n"
    )
    findings, waived = audit_materialization(pkg)
    assert findings == ["bad.py:2 [hot_path] .collect()"]
    assert waived == []


# the store writer, plus the corpus-scale IVF/IVFPQ build and retrain
# writes that keep an unshuffled chain (a repartition on cluster_id
# would cap a corpus write at n_clusters tasks)
_WRITER_CHAIN_SITES = {
    ("maintenance.py", "write_partitioned"),
    ("similarity.py", "ivf_build_index"),
    ("similarity.py", "ivf_retrain_index"),
    ("quantization.py", "ivfpq_build_index"),
    ("quantization.py", "ivfpq_retrain_index"),
}


def test_store_writer_chains_only_at_named_sites():
    """DataFrameWriter ``.partitionBy(`` appears only in the store writer
    and the four corpus-scale sites: every other partitioned store write
    goes through ``maintenance.write_partitioned``. Window specs
    (``Window.partitionBy``) are not writers."""
    import ast

    ops = Path(__file__).resolve().parents[1] / "flink_quickstart_spark" / "operators"
    sites = set()
    for py in sorted(ops.glob("*.py")):
        tree = ast.parse(py.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "partitionBy"
                ):
                    continue
                root = node.func.value
                while isinstance(root, (ast.Attribute, ast.Call)):
                    root = root.value if isinstance(root, ast.Attribute) else root.func
                if not (isinstance(root, ast.Name) and root.id == "Window"):
                    sites.add((py.name, fn.name))
    assert sites == _WRITER_CHAIN_SITES
