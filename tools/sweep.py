"""The per-key measurement loop every registry tool shares, and the
all-keys sweep built on it.

One mechanism per concern:

- ``open_session`` — ``load_all``, a ``get_spark`` whose batch shuffle
  count is sized for the largest directory the tool will read, the
  ERROR log level, and the session's first job, so the first key's
  ``cold`` does not carry that one-off set-up;
- ``measure`` — one cold run plus ``runs`` timed runs of a builder,
  consumed by ``consume``: an in-plan ``DataFrame.observe`` row count
  followed by a noop write, so the whole plan runs inside the JVM and
  no result row reaches the driver;
- ``classify`` — only the fail-fast broadcast-budget ``ValueError`` is a
  designed refusal (``guarded``); every other exception is an ``error``;
- ``load_stamp`` / ``merged`` / ``write_json`` — the machine-load stamp,
  the ``--keys`` re-run merge, and the one JSON writer;
- ``explain`` — the formatted (or simple) plan text of a DataFrame.

``tools/scale_curve.py`` (scaling curve and decade probes),
``tools/plan_report.py`` and ``tools/plan_audit.py`` run on these.

Run:
  ``python tools/sweep.py [--sf DIR] [--keys k1,k2] [--runs N] [--json OUT]``
      completion + timing sweep over every registry key (or ``--keys``).
      Each key records status, rows, cold and best seconds; ``--runs``
      adds timed runs after the cold one (best = cold when 0). With
      ``--keys`` and an existing ``--json`` the run merges into it.
  ``python tools/sweep.py --explain DIR [--sf DIR] [--keys k1,k2]``
      writes each key's formatted physical plan to ``DIR/<key>.txt``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from flink_quickstart_spark import get_spark  # noqa: E402
from flink_quickstart_spark.plans import load_all, registry  # noqa: E402
from flink_quickstart_spark.session import (  # noqa: E402
    dir_bytes,
    shuffle_partitions_for_bytes,
)

SF_DEFAULT = "/root/testdata/sf0.1"
METHOD = (
    "cold run + min of the timed runs per key; each run consumed by "
    "DataFrame.observe(count) + a noop write (the whole plan runs in the "
    "JVM, no collect()); probes returning None are timed only"
)


def classify(e: Exception) -> str:
    """ONLY the repo's explicit budget guard (the fail-fast ValueError
    from operators/similarity._collect_corpus) is a designed refusal at
    scale. Anything else — Py4JJavaError, OOM, analysis error, any other
    ValueError — is an error: a broadcast OOM once read as "guarded"
    under a catch-all. Locked by tests/test_scale_curve_classifier.py."""
    if isinstance(e, ValueError) and "broadcast budget" in str(e):
        return "guarded"
    return "error"


def open_session(app_name: str, sized_for: str):
    """The tools' session preamble. Returns ``(spark, sizing)`` where
    ``sizing`` is the self-describing harness config every record
    carries (a number that moves with sizing must carry its sizing).
    The session's first job runs here: it costs about 3 s once per JVM,
    which the first key's ``cold`` would otherwise carry."""
    load_all()
    sized_bytes = dir_bytes(sized_for)
    parts = shuffle_partitions_for_bytes(sized_bytes)
    spark = get_spark(app_name=app_name, shuffle_partitions=parts)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    print(
        f"shuffle_partitions={parts} "
        f"(sized for {sized_for} = {sized_bytes / 1e6:.0f} MB)"
    )
    return spark, {
        "shuffle_partitions": parts,
        "sized_for_sf": sized_for,
        "sized_for_bytes": sized_bytes,
    }


def consume(df) -> int | None:
    """Run ``df`` to completion engine-side and return its row count;
    ``None`` for side-effect probes that return no DataFrame."""
    if df is None:
        return None
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
        "noop"
    ).mode("overwrite").save()
    return obs.get["rows"]


def measure(spark, builder, sf: str, runs: int = 0) -> dict:
    """``{"status": "ok", "cold", "best", "rows"}`` for one builder at
    one scale factor — ``best`` is the minimum over ``runs`` timed runs
    after the cold one, and equals ``cold`` when ``runs`` is 0 — or
    ``{"status": classify(e), "err"}`` when any run raises."""
    try:
        t0 = time.perf_counter()
        rows = consume(builder(spark, sf))
        cold = best = time.perf_counter() - t0
        for _ in range(runs):
            t0 = time.perf_counter()
            consume(builder(spark, sf))
            best = min(best, time.perf_counter() - t0)
    except Exception as e:  # noqa: BLE001 — classified, the loop goes on
        return {"status": classify(e), "err": str(e)[:200]}
    return {"status": "ok", "cold": round(cold, 3), "best": round(best, 3), "rows": rows}


def explain(df, mode: str = "formatted") -> str:
    """The plan text ``df.explain(mode)`` prints."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def load_stamp() -> dict:
    """Machine-load self-description: a run started with load-15 above
    half the cores flags itself not trend-comparable."""
    cpus = os.cpu_count() or 1
    load = os.getloadavg()
    flagged = load[2] > cpus / 2
    if flagged:
        print(
            f"WARNING: load15={load[2]:.1f} > {cpus}/2 at start — timings "
            "will not be comparable across rounds; re-run on an idle "
            "machine for trend-grade numbers"
        )
    return {
        "loadavg_at_start": [round(x, 2) for x in load],
        "cpus": cpus,
        "load_flagged": flagged,
    }


def select_keys(ap, keys_arg: str | None, known, default) -> list[str]:
    """``--keys`` as a list (default when absent); unknown keys are a
    usage error."""
    if not keys_arg:
        return list(default)
    keys = [k.strip() for k in keys_arg.split(",") if k.strip()]
    unknown = [k for k in keys if k not in known]
    if unknown:
        ap.error(f"unknown --keys: {','.join(unknown)}")
    return keys


def merged(path: str, results: dict, known) -> dict:
    """``results`` over the entries of an existing record at ``path`` (a
    ``--keys`` re-run); entries for keys no longer in ``known`` are
    dropped so stale rows cannot inflate totals."""
    prior = {}
    if Path(path).exists():
        prior = json.loads(Path(path).read_text()).get("keys", {})
    out = {k: v for k, v in prior.items() if k in known}
    out.update(results)
    return out


def write_json(path: str, meta: dict, results: dict) -> None:
    meta = {
        **meta,
        "loadavg_at_end": [round(x, 2) for x in os.getloadavg()],
        "keys": results,
    }
    Path(path).write_text(json.dumps(meta, indent=1, sort_keys=True))
    print(f"wrote {path}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=SF_DEFAULT)
    ap.add_argument("--keys", default=None)
    ap.add_argument("--runs", type=int, default=0)
    ap.add_argument("--json", default=None)
    ap.add_argument(
        "--explain", default=None, metavar="DIR",
        help="write each key's formatted plan to DIR/<key>.txt instead "
        "of running it",
    )
    args = ap.parse_args()

    spark, sizing = open_session("sweep", args.sf)
    keys = select_keys(ap, args.keys, registry.REGISTRY, registry.REGISTRY)

    if args.explain:
        out_dir = Path(args.explain)
        out_dir.mkdir(parents=True, exist_ok=True)
        n_err = 0
        for key in keys:
            try:
                text = explain(registry.REGISTRY[key].builder(spark, args.sf))
            except Exception as e:  # noqa: BLE001 — record, keep going
                text = f"ERROR building/explaining {key}: {e}\n"
                n_err += 1
            (out_dir / f"{key}.txt").write_text(text)
        print(f"wrote {len(keys)} plans to {out_dir} ({n_err} errors)")
        return 1 if n_err else 0

    stamp = load_stamp()
    results: dict[str, dict] = {}
    for key in keys:
        spark.sparkContext.setJobDescription(f"sweep:{key}")
        load1 = round(os.getloadavg()[0], 2)
        rec = measure(spark, registry.REGISTRY[key].builder, args.sf, args.runs)
        if rec["status"] == "ok":
            rec["load1_at_start"] = load1
            print(f"ok {key}: {rec['rows']} rows ({rec['best']}s, cold {rec['cold']}s)")
        else:
            print(f"{rec['status'].upper()} {key}: {rec['err'][:160]}")
        results[key] = rec
    spark.sparkContext.setJobDescription(None)

    if args.keys and args.json:
        results = merged(args.json, results, registry.REGISTRY)
    counts = {
        f"n_{s}": sum(v["status"] == s for v in results.values())
        for s in ("ok", "guarded", "error")
    }
    print(
        f"\n== sweep: {counts['n_ok']} ok, {counts['n_guarded']} guarded, "
        f"{counts['n_error']} failed (of {len(results)} keys, sf={args.sf}) =="
    )
    if args.json:
        write_json(
            args.json,
            {"sf": args.sf, "runs": args.runs, "method": METHOD,
             **sizing, **stamp, **counts},
            results,
        )
    return 1 if counts["n_error"] else 0


if __name__ == "__main__":
    sys.exit(main())
