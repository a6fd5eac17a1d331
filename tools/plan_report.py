"""Generate docs/PLANS.md — the formatted physical plans of the headline
queries at sf0.1, so plan quality (pushdown, pruning, broadcasts, codegen)
is reviewable without running Spark.

Run: ``python tools/plan_report.py``  (rewrites docs/PLANS.md)
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from sweep import explain, open_session  # noqa: E402

from flink_quickstart_spark.plans import registry  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
KEYS = (
    "q_agg_group",
    "q_join_star",
    "q_window_tumbling",
    "q_topk_pergroup",
    "q_limit_topn",
    "q_join_range_binned",
    "q_sql_corr_subquery",
    "q_llm_knn",
    # round 2: scale-relevant new shapes
    "q_sort",            # two-phase rank — no partition-less WindowExec
    "q_join_bucketed",   # co-located buckets — zero shuffle exchanges
    "q_sql_exists",      # EXISTS -> LeftSemi rewrite
    "q_sql_cte_topk",    # WindowGroupLimit pushdown
    # round 2 (late): decorrelation / disjunctive-join / prefix-sum shapes
    "q_sql_q17",             # correlated AVG -> per-key agg + join-back
    "q_sql_q19",             # OR-of-ANDs stays a hash join on the equi-key
    "q_llm_pack_sequences",  # distributed prefix sum — bucketed windows only
    # round 3: new scale-relevant shapes
    "q_join_dpp",            # runtime dynamicpruning partition filter
    "q_join_skew_salted",    # (key, salt) hash join, salt-table cross only
    "q_llm_heavy_hitters",   # MG mapInPandas + left-semi + scalar cross
    "q_agg_hll_rollup",      # sketch agg -> union-merge re-aggregation
)

HEADER = """# PLANS — physical plans of the headline queries (generated)

Generated by ``python tools/plan_report.py`` at sf0.1. What to look for
(asserted in tests/test_plans.py):

- ``PushedFilters`` non-empty on filtered scans (row-group skipping);
- ``ReadSchema`` holding only the projected columns (column pruning);
- dims joined via ``BroadcastHashJoin``, never shuffled or nested-loop;
- paired partial/final ``HashAggregate`` (map-side combine);
- ``TakeOrderedAndProject`` / ``WindowGroupLimit`` for top-N shapes;
- Python only as ``MapInPandas``/``ArrowEvalPython`` stages in the keys
  that declare them (q_llm_knn) — never ``BatchEvalPython``.
"""


def main() -> None:
    # sized like every other sf0.1 entry point (bench.py, perfbench,
    # verify_local): the plans show the data-sized exchange count
    spark, _ = open_session("plan-report", SF_DIR)
    out = [HEADER]
    for key in KEYS:
        text = explain(registry.REGISTRY[key].builder(spark, SF_DIR))
        out.append(f"\n## {key}\n\n```\n{text.strip()}\n```\n")
    path = Path(__file__).resolve().parents[1] / "docs" / "PLANS.md"
    path.write_text("".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
