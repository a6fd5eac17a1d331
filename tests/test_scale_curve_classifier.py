"""Regression locks for the registry tools' shared measurement loop
(tools/sweep.py) and the scaling probes built on it (tools/scale_curve.py).

- Crash classification (VERDICT r5 item #3): only the repo's explicit
  broadcast-budget guard counts as a designed refusal at the big scale
  factor — every other exception is a crash that must fail the probe.
  Round 5's broadcast OOM was mislabeled "guarded" by a charitable
  catch-all; these tests make that class of misclassification
  impossible to reintroduce silently.
- ``measure``: the observed row count equals ``collect()``, a budget
  refusal is ``guarded``, and side-effect probes are timed only.
- ``open_session`` runs the session's first job, so the first key's
  cold time does not carry it.
- Grading: every status in the committed curve and decade records
  re-derives from the recorded seconds.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))

import scale_curve as sc  # noqa: E402
import sweep  # noqa: E402

from tests.conftest import SF_DIR  # noqa: E402

classify = sweep.classify


def test_only_budget_guard_counts_as_designed_refusal():
    # the ONE designed refusal: operators/similarity's fail-fast guard
    guard = ValueError(
        "brute_knn: corpus projection estimated at ~3000 MiB in memory "
        "exceeds the broadcast budget of 2048 MiB."
    )
    assert classify(guard) == "guarded"

    # everything else is a crash — including the r5 broadcast OOM shape
    class Py4JJavaError(Exception):
        pass

    oom = Py4JJavaError(
        "An error occurred while calling o123.collectToPython.\n"
        ": org.apache.spark.SparkException: Not enough memory to build "
        "and broadcast the table to all worker nodes."
    )
    assert classify(oom) == "error"
    assert classify(ValueError("events table is empty")) == "error"
    assert classify(RuntimeError("broadcast budget")) == "error"
    assert classify(KeyError("q_missing")) == "error"


def test_message_alone_cannot_fake_the_guard():
    """The guard check is type AND message: a Java-side error whose text
    happens to contain the phrase must still be a crash."""

    class Py4JJavaError(Exception):
        pass

    assert classify(Py4JJavaError("...exceeds the broadcast budget of...")) == "error"


def test_probe_config_is_coherent():
    """r7: every documented-superlinear waiver must actually be probed
    (a waiver on an unprobed key is dead evidence), and component-probe
    names must not shadow registry keys (the main loop resolves
    COMPONENT_PROBES first). The decade key sets and output laws obey
    the same rules."""
    from flink_quickstart_spark.plans import load_all, registry

    load_all()
    probed = set(sc.DEFAULT_KEYS)
    decade = set().union(*sc.DECADE_KEYS.values())
    assert set(sc.DECADE_KEYS) == set(sc.DECADE_DIRS)
    for key in sc.DOCUMENTED_SUPERLINEAR:
        assert key in probed, f"waiver for unprobed key: {key}"
    for key in sc.DECADE_OUTPUT_LAWS:
        assert key in decade, f"output law for a key no decade probes: {key}"
    for name in sc.COMPONENT_PROBES:
        assert name not in registry.REGISTRY, f"component probe shadows registry key: {name}"
        assert name in probed, f"component probe not in DEFAULT_KEYS: {name}"
    # registry keys in the probe sets must exist
    for key in (probed | decade) - set(sc.COMPONENT_PROBES):
        assert key in registry.REGISTRY, f"probe references unknown key: {key}"
    for tier, keys in sc.DECADE_KEYS.items():
        assert len(keys) == len(set(keys)), f"duplicate key in decade set {tier}"


def test_measure_rows_guard_and_side_effect_probe(spark):
    from flink_quickstart_spark.plans import load_all, registry

    load_all()
    builder = registry.REGISTRY["q_agg_group"].builder
    rec = sweep.measure(spark, builder, SF_DIR, runs=1)
    assert rec["status"] == "ok", rec
    assert rec["rows"] == len(builder(spark, SF_DIR).collect()) > 0
    assert 0 <= rec["best"] <= rec["cold"]

    def refused(spark, sf):
        raise ValueError("corpus exceeds the broadcast budget of 1 MiB")

    guarded = sweep.measure(spark, refused, SF_DIR)
    assert guarded["status"] == "guarded" and "broadcast budget" in guarded["err"]

    def broken(spark, sf):
        return spark.sql("SELECT * FROM no_such_table_anywhere")

    assert sweep.measure(spark, broken, SF_DIR)["status"] == "error"

    calls = []

    def side_effect(spark, sf):
        calls.append(sf)

    probe = sweep.measure(spark, side_effect, SF_DIR, runs=2)
    assert probe["status"] == "ok" and probe["rows"] is None
    assert probe["best"] <= probe["cold"] and len(calls) == 3


def test_open_session_runs_the_first_job(spark, monkeypatch):
    """``spark.range(1).count()`` runs inside ``open_session``: two jobs,
    as AQE runs the partial aggregate's map stage as a job of its own.
    The session is a stub over the shared one, so the ERROR log level it
    sets does not leak into later tests."""
    levels: list[str] = []
    stub = SimpleNamespace(
        range=spark.range, sparkContext=SimpleNamespace(setLogLevel=levels.append)
    )
    monkeypatch.setattr(sweep, "get_spark", lambda **_: stub)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    assert sweep.open_session("sweep-test", SF_DIR)[0] is stub
    assert len(set(tracker.getJobIdsForGroup()) - before) == 2
    assert levels == ["ERROR"]


def _point(rec: dict, sec_field: str, failed_status: str) -> dict:
    """A measure() point rebuilt from a record: ok with the recorded
    seconds, else failed with ``failed_status``."""
    if sec_field in rec:
        return {"status": "ok", "best": rec[sec_field]}
    return {"status": failed_status, "err": rec.get("err", "")}


def _failure(rec: dict) -> str:
    return "guarded" if rec.get("status") == "guarded" else "error"


def _curve_points(rec: dict):
    fit, xl = rec.get("fit"), rec.get("xl")
    return (
        _point(rec, "sf0.1_sec", "error"),
        _point(rec, "sf1_sec", _failure(rec)),
        None if fit is None else _point(fit, "sf0.01_sec", "error"),
        None if xl is None else _point(xl, "sf3_sec", _failure(xl)),
    )


def test_curve_statuses_rederive_from_recorded_seconds():
    keys = json.loads((REPO / "SCALE_CURVE_r11.json").read_text())["keys"]
    assert len(keys) == 92
    got = {key: sc.grade_curve(key, *_curve_points(rec))["status"] for key, rec in keys.items()}
    assert got == {key: rec["status"] for key, rec in keys.items()}


@pytest.mark.parametrize(
    "record, n_keys",
    [("SCALE_TEXT_DECADE_r11.json", 22), ("SCALE_RELATIONAL_DECADE_r11.json", 21)],
)
def test_decade_statuses_rederive_from_recorded_seconds(record, n_keys):
    keys = json.loads((REPO / record).read_text())["keys"]
    assert len(keys) == n_keys
    got = {
        key: sc.grade_decade(
            key, _point(rec, "sf1_sec", "error"), _point(rec, "decade_sec", _failure(rec))
        )["status"]
        for key, rec in keys.items()
    }
    assert got == {key: rec["status"] for key, rec in keys.items()}


def test_linear_at_bound_rule_stays_in_the_decade():
    """e ≥ 1 over a decade needs a written output law; a curve segment
    at the same exponent (q_fn_math's r23 3.53, e23 1.15) stays ok."""
    assert sc.grade_curve(
        "q_fn_math",
        {"status": "ok", "best": 1.0},
        {"status": "ok", "best": 10.25},
        None,
        {"status": "ok", "best": 36.18},
    )["status"] == "ok"
    undocumented = sc.grade_decade(
        "q_fn_math", {"status": "ok", "best": 1.0}, {"status": "ok", "best": 10.5}
    )
    assert undocumented["status"] == "linear_at_bound_undocumented"
    law = sc.grade_decade(
        "q_window_session", {"status": "ok", "best": 1.0}, {"status": "ok", "best": 10.5}
    )
    assert law["status"] == "linear_at_bound" and law["output_law"]
