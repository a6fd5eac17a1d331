"""Self-test of the benchmark: short smoke runs at sf0.001.

    python3 perfbench/selftest.py            # both workloads
    python3 -m pytest perfbench/selftest.py  # same checks under pytest

For every workload, with ``--trace 0`` and ``--trace 1``, checks that the
last output line has exactly the contract's keys, that every metric named
in ``BENCHMARK.json`` is printed with its unit, and that no operation
failed (``error_rate`` 0). Also checks that a directory holding only
``BENCHMARK.json`` and the benchmark fails fast without printing a result.
Takes about four minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

WORKLOADS = ("batch_sql", "stream_window")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def smoke(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=180,
    )


def check_run(workload: str, trace: int) -> None:
    proc = smoke(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, result
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1
    wanted = spec()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, (m["name"], got)


def test_metric_tables_match_spec():
    s = spec()
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in s["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in s["workloads"]} == set(WORKLOADS)


def test_smoke_end_to_end():
    for w in WORKLOADS:
        check_run(w, 0)


def test_smoke_traced():
    for w in WORKLOADS:
        check_run(w, 1)


def test_fails_without_engine():
    iso = os.path.join(run.RUNS_DIR, "selftest-isolated")
    shutil.rmtree(iso, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(iso, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), iso)
        proc = smoke("batch_sql", 0, cwd=iso)
        assert proc.returncode != 0
        assert not proc.stdout.strip()
    finally:
        shutil.rmtree(iso, ignore_errors=True)


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}", flush=True)
