"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column
names, and exact values (column-name-sorted, row-sorted) — STRICTER than
the driver's order-insensitive value hash: if this passes, any sane hash
matches.

Usage:
    python tools/verify_local.py [--sf /root/testdata/sf0.01] [--keys k1,k2] [-v]
    python tools/verify_local.py --analyze   # all-keys analysis sweep, no exec

``--analyze`` is the environment-drift guard (verdict r2 "What's
missing" #3): for EVERY registry key it builds the DataFrame and forces
Catalyst analysis (``.schema``) — no execution, seconds for 129 keys —
and runs ``EXPLAIN`` on every oracle SQL in DuckDB. The round-2 failure
class (a platform change to parquet timestamp ingestion breaking 14+
keys at analysis time) is caught here before handoff.
"""

from __future__ import annotations

import argparse
import datetime as dt
import math
import sys
import time
from decimal import Decimal
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

def _table_pattern(sf: str, t: str) -> str:
    """DuckDB read pattern for a table: the canonical testdata tables
    are single files, but staged replicas (tools/make_sf.py) are Spark
    output DIRECTORIES — glob their part files."""
    p = Path(sf) / f"{t}.parquet"
    return f"{p}/*.parquet" if p.is_dir() else str(p)


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v):
    """Canonicalize a cell value for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:  # engines disagree on -0.0 vs +0.0 after round()
            return repr(0.0)
        return repr(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "asDict"):  # pyspark Row (struct col)
        return tuple(sorted((k, canon(x)) for k, x in v.asDict().items()))
    return v


def normalize(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return cols, out


def _session(app_name: str, sf: str):
    """Engine session whose batch plans start at the data-sized shuffle
    count the driver's gate uses (``__spark_entry__`` sizes the same way)."""
    from flink_quickstart_spark import get_spark
    from flink_quickstart_spark.session import dir_bytes, shuffle_partitions_for_bytes

    return get_spark(
        app_name=app_name,
        shuffle_partitions=shuffle_partitions_for_bytes(dir_bytes(sf)),
    )


def analyze_sweep(sf: str) -> int:
    """Force Catalyst analysis of every registry key (no execution) and
    DuckDB EXPLAIN of every oracle. Returns the number of failures."""
    import __spark_entry__ as entrymod

    spark = _session("verify-analyze", sf)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{_table_pattern(sf, t)}')"
        )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    t0, n_fail = time.time(), 0
    for key, builder in qs.items():
        try:
            _ = builder(spark, sf).schema  # forces full analysis
        except Exception as e:  # noqa: BLE001
            print(f"ANALYZE-FAIL {key}: {type(e).__name__}: {e}")
            n_fail += 1
        if key in oracles:
            try:
                con.execute(f"EXPLAIN {oracles[key]}")
            except Exception as e:  # noqa: BLE001
                print(f"ORACLE-FAIL {key}: {type(e).__name__}: {e}")
                n_fail += 1
    print(
        f"== analyze sweep: {len(qs)} keys, {len(oracles)} oracles, "
        f"{n_fail} failures ({time.time() - t0:.1f}s) =="
    )
    return n_fail


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--keys", default=None)
    ap.add_argument("-v", "--verbose", action="store_true")
    ap.add_argument(
        "--analyze",
        action="store_true",
        help="analysis-only sweep over ALL keys (environment-drift guard)",
    )
    ap.add_argument(
        "--json",
        default=None,
        help="also write per-key results as JSON to this path",
    )
    args = ap.parse_args()

    if args.analyze:
        return 1 if analyze_sweep(args.sf) else 0

    import __spark_entry__ as entrymod

    spark = _session("verify-local", args.sf)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{_table_pattern(args.sf, t)}')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    keys = args.keys.split(",") if args.keys else list(qs)

    # Warm the session BEFORE the timed loop: JVM JIT, codegen, Arrow
    # init, and every table's parquet footer — otherwise whichever keys
    # happen to run first absorb ~5 s of one-off cost and the per-key
    # timing trend gate (tests/test_bench_regression.py) misreads a
    # registry reorder as a 40× regression (r6 episode: the driver-order
    # change moved never-sampled keys to the front and the old first
    # keys' warm-up cost moved with the position, not the key).
    from flink_quickstart_spark.sources.tables import load_table

    for t in TABLES:
        load_table(spark, args.sf, t).limit(1).collect()
    spark.range(1_000_000).selectExpr("sum(id)").toPandas()
    # spin up the Python/Arrow worker pool — mapInPandas keys otherwise
    # pay worker-fork + Arrow-init on first use
    spark.range(64).mapInPandas(lambda it: it, "id long").collect()

    n_pass = n_fail = n_rows_only = 0
    results: dict[str, dict] = {}
    for key in keys:
        t0 = time.time()
        try:
            sdf = qs[key](spark, args.sf)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {key}: spark error: {type(e).__name__}: {e}")
            results[key] = {"status": "fail", "err": f"spark {type(e).__name__}: {e}"}
            n_fail += 1
            continue
        if key not in oracles:
            # the registry has been 100% sql-oracled since round 3 — a
            # key arriving here means an oracle was DROPPED; that must
            # fail the gate, not silently demote to a rows-only check
            # (VERDICT r6 #3)
            print(f"FAIL {key}: no sql oracle (registry contract is 100% oracled)")
            results[key] = {"status": "fail", "err": "missing sql oracle"}
            n_fail += 1
            continue
        try:
            cur = con.execute(oracles[key])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {key}: duckdb error: {type(e).__name__}: {e}")
            results[key] = {"status": "fail", "err": f"duckdb {type(e).__name__}: {e}"}
            n_fail += 1
            continue

        sc, sr = normalize(scols, srows)
        oc, orr = normalize(ocols, orows)
        if not sr and not orr:
            # Matching-but-empty is a VACUOUS pass — flag it loudly so a
            # query shape that selects nothing at this SF gets redesigned
            # (this caught the original all-nations-have-customers
            # q_except).
            print(f"WARN {key}: both sides EMPTY — hash match is vacuous")
        status, detail = "PASS", ""
        if sc != oc:
            status, detail = "FAIL", f"columns spark={sc} duck={oc}"
        elif len(sr) != len(orr):
            status, detail = "FAIL", f"rowcount spark={len(sr)} duck={len(orr)}"
        elif sr != orr:
            status = "FAIL"
            diffs = [(i, a, b) for i, (a, b) in enumerate(zip(sr, orr)) if a != b]
            detail = f"{len(diffs)} differing rows; first: spark={diffs[0][1]} duck={diffs[0][2]} (cols {sc})"
        if status == "PASS":
            n_pass += 1
            results[key] = {
                "status": "pass",
                "rows": len(sr),
                "secs": round(time.time() - t0, 2),
            }
            if args.verbose:
                print(f"PASS {key}: {len(sr)} rows ({time.time() - t0:.2f}s)")
        else:
            n_fail += 1
            results[key] = {"status": "fail", "err": detail}
            print(f"FAIL {key}: {detail}")

    # Timing policy (uniform across ALL keys — ADVICE r6: a first-5-only
    # hot re-time made the evidence methodologically inconsistent and
    # could mask a regression landing in those slots): every passing
    # key is re-timed once on the now-hot session; `secs` = min(cold,
    # hot) for every key, with both raw values recorded (`secs_cold`,
    # `secs_hot`) so the trend gate can choose a consistent series.
    # This also absorbs the positional artifact — the first keys run
    # while codegen/Arrow caches are coldest, so without the re-time a
    # registry reorder reads as a fake per-key regression.
    if not args.keys and n_fail == 0:
        for key in keys:
            if results.get(key, {}).get("status") != "pass":
                continue
            t0 = time.time()
            qs[key](spark, args.sf).collect()
            hot = round(time.time() - t0, 2)
            results[key]["secs_cold"] = results[key]["secs"]
            results[key]["secs_hot"] = hot
            results[key]["secs"] = min(results[key]["secs"], hot)

    print(
        f"\n== {n_pass} pass, {n_fail} fail, {n_rows_only} rows-only "
        f"(of {len(keys)} keys, sf={args.sf}) =="
    )
    if args.json:
        import json

        with open(args.json, "w") as fh:
            json.dump(
                {
                    "sf": args.sf,
                    "n_pass": n_pass,
                    "n_fail": n_fail,
                    "n_rows_only": n_rows_only,
                    "method": "exact value compare vs DuckDB oracle "
                    "(column-sorted, row-sorted, rounded floats)",
                    "keys": results,
                },
                fh,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {args.json}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
