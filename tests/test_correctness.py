"""Every registered sql-oracle key must match DuckDB exactly at sf0.001.

This mirrors the driver's t2 gate (which runs at sf0.01 — run
``python tools/verify_local.py`` for the full-size check); the comparison
here is STRICTER than the driver's order-insensitive hash: exact value
equality after column-name sort + row sort.
"""

from __future__ import annotations

import pytest

from flink_quickstart_spark.plans import load_all, registry
from tests.conftest import SF_DIR
from tools.verify_local import normalize

load_all()
ALL_KEYS = sorted(registry.REGISTRY)


@pytest.mark.parametrize("key", ALL_KEYS)
def test_query_matches_oracle(key, spark, duck):
    spec = registry.REGISTRY[key]
    # The registry has been 100% sql-oracled since round 3; a missing
    # oracle is a REGRESSION (an accidentally dropped oracle must fail
    # the gate loudly, not silently weaken it to a rows-only check —
    # VERDICT r6 #3).
    assert spec.oracle is not None, (
        f"{key} has no sql oracle — every registered key requires one; "
        "genuinely non-SQL-expressible ops must be argued in the "
        "registry spec, not defaulted"
    )
    sdf = spec.builder(spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(spec.oracle)
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    sc, sr = normalize(list(sdf.columns), srows)
    oc, orr = normalize(ocols, orows)
    assert sc == oc, f"column names differ: spark={sc} duck={oc}"
    assert len(sr) == len(orr), f"row count differs: spark={len(sr)} duck={len(orr)}"
    diffs = [(a, b) for a, b in zip(sr, orr) if a != b]
    assert not diffs, f"{len(diffs)} rows differ; first: spark={diffs[0][0]} duck={diffs[0][1]} cols={sc}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"l_returnflag", "l_linestatus", "sum_qty", "count_order"}


def test_contract_shape():
    import __spark_entry__ as e

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 20


def test_never_sampled_keys_sort_first(monkeypatch):
    """The driver samples queries() in order: no key a committed
    CORRECTNESS_r*.json has sampled may sort ahead of a key none has,
    including one registered last."""
    import json
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    sampled = {
        key
        for path in repo.glob("CORRECTNESS_r*.json")
        for key in json.loads(path.read_text())
    }
    assert sampled, "no committed CORRECTNESS_r*.json found"
    fresh = "q_zz_never_sampled"
    monkeypatch.setitem(
        registry.REGISTRY,
        fresh,
        registry.QuerySpec(name=fresh, builder=lambda spark, sf: None, oracle=None),
    )
    order = list(registry.queries())
    never = [k for k in order if k not in sampled]
    assert fresh in never
    assert order[: len(never)] == never, order[: len(never) + 5]
