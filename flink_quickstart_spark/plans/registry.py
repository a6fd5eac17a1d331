"""Query registry — the single source of truth wiring SURVEY.md §2 rows to
the driver contract in ``__spark_entry__.py``.

Each :class:`QuerySpec` pairs a Spark DataFrame builder with the ANSI-SQL
oracle string DuckDB runs on the same parquet views. Column names are
aliased identically on both sides (the driver sorts columns by name before
value-hashing), every floating aggregate is ROUNDed on both sides (double
summation order differs between engines), and ``events.ts``-derived outputs
are emitted as epoch-microsecond bigints (exact on both engines).

``oracle=None`` would declare a key rows-only (the driver's weaker
row-count-only check). The registry carries ZERO such keys since round 3 —
randomized/approximate ops instead register deterministic CONTRACT oracles
(recall/error-bound predicates evaluated in SQL), and both the pytest gate
and tools/verify_local.py fail loudly on a missing oracle rather than
demoting the check.
"""

from __future__ import annotations

import functools
import json
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path
from types import SimpleNamespace

from pyspark.sql import DataFrame, SparkSession

from flink_quickstart_spark.sources.tables import load_tables

Builder = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, "QuerySpec"] = {}

# Per-session cache of loaded table namespaces, keyed by sf_dir. Avoids
# re-deriving the events ts-conversion plan on every query build.
_TABLE_CACHE: dict[tuple[int, str], SimpleNamespace] = {}


def tables(spark: SparkSession, sf_dir: str) -> SimpleNamespace:
    key = (id(spark), sf_dir.rstrip("/"))
    if key not in _TABLE_CACHE:
        _TABLE_CACHE[key] = load_tables(spark, sf_dir.rstrip("/"))
    return _TABLE_CACHE[key]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


def register(
    name: str, oracle: str | None, tags: tuple[str, ...] = ()
) -> Callable[[Builder], Builder]:
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query key: {name}")
        REGISTRY[name] = QuerySpec(
            name=name, builder=fn, oracle=oracle, doc=fn.__doc__ or "", tags=tags
        )
        return fn

    return deco


# Driver priority. The driver samples ~50 keys per round in dict order,
# so queries() yields highest-evidence-value keys first: keys never named
# in a committed driver CORRECTNESS_r*.json at the repo root, then
# evidence-STALE keys, then the rest; registration order breaks ties.
_REPO_ROOT = Path(__file__).resolve().parents[2]


@functools.cache
def _ever_driver_sampled() -> frozenset[str]:
    """Every key any committed driver CORRECTNESS_r*.json has sampled
    (the files' top-level keys); read once, on first ordering."""
    return frozenset(
        key
        for path in _REPO_ROOT.glob("CORRECTNESS_r*.json")
        for key in json.loads(path.read_text())
    )


# r8 (VERDICT r7 #6): cumulative coverage hit 246/246 in r7, so the new
# axis is RECENCY — keys whose last driver sample predates later
# rewrites of their dependency files. tools/staleness_report.py computes
# the set (last sample ≥3 rounds old AND a dep file changed since, from
# CORRECTNESS_r*.json × git history); this frozen ordering (stalest
# first — last-sample round ascending, name within) drains the backlog
# right after any never-sampled keys. Regenerate at round close (r13:
# 97 keys — the r13 optimization pass touched broad dep files
# (sources/tables.py, llm_ops.py, dedup.py, maintenance.py); every
# one re-verified builder-side this round — STALENESS_r13.json):
#   python tools/staleness_report.py --json STALENESS_r{N}.json --verify-json VERIFY_r{N}.json
_STALE_PRIORITY: tuple[str, ...] = (
    "q_ab_cuped", "q_fn_bitwise", "q_fn_datetime_extended",
    "q_fn_string_extended", "q_fn_trig", "q_fn_try_safe", "q_fn_url",
    "q_join_asof_nearest", "q_llm_chunk_stitch", "q_llm_span_mask",
    "q_multimodal_dhash", "q_multimodal_ppm_stats",
    "q_multimodal_video_frames", "q_multimodal_wav_stats",
    "q_sql_grouping_id", "q_text_rrf_fusion", "q_udf_sql_registered",
    "q_dq_benford", "q_embed_covariance", "q_embed_pca_project",
    "q_join_theta_pctile", "q_join_theta_sum", "q_llm_bpe_encode",
    "q_sql_q4", "q_cogroup_stats", "q_fn_array", "q_fn_conditional",
    "q_fn_datetime", "q_fn_hash", "q_fn_json", "q_fn_map", "q_fn_math",
    "q_fn_string", "q_graph_components", "q_graph_pagerank",
    "q_grouped_map_zscore", "q_join_anti", "q_join_asof",
    "q_join_broadcast", "q_join_cross", "q_join_interval",
    "q_join_orders_customer", "q_join_outer", "q_join_range_binned",
    "q_join_semi", "q_join_star", "q_join_theta", "q_llm_simhash",
    "q_llm_tfidf", "q_llm_wordcount", "q_multimodal_decode",
    "q_profile_columns", "q_sample_split", "q_sample_stratified",
    "q_scan_csv_roundtrip", "q_sort", "q_sql_corr_subquery",
    "q_udf_scalar", "q_udtf_split", "q_join_bucketed", "q_llm_ann_ivf",
    "q_llm_ann_lsh", "q_llm_chunk", "q_llm_decontaminate",
    "q_llm_dedup_groups", "q_llm_dedup_spans", "q_llm_ivf_upsert",
    "q_llm_lsh_delete", "q_llm_lsh_upsert", "q_llm_neardup_minhash",
    "q_llm_pack_sequences", "q_llm_sample_balanced", "q_llm_store_compact",
    "q_llm_store_upsert", "q_multimodal_framesample", "q_sql_cte_topk",
    "q_sql_exists", "q_sql_q10", "q_sql_q13", "q_sql_q14", "q_sql_q15",
    "q_sql_q17", "q_sql_q18", "q_sql_q19", "q_sql_q3", "q_sql_q5",
    "q_sql_q6", "q_sql_q7", "q_sql_q8", "q_sql_window",
    "q_text_fingerprint", "q_text_langid", "q_text_langid_ngram",
    "q_text_quality", "q_text_tokens", "q_ts_znorm_match",
    "q_ts_znorm_topk",
)
_STALE_RANK = {n: i for i, n in enumerate(_STALE_PRIORITY)}


def _driver_order(names) -> list[str]:
    """Never-driver-sampled keys first, then evidence-STALE keys
    (stalest first, the r8 recency backlog), then the rest; registration
    order within each tier."""
    rank = {n: i for i, n in enumerate(names)}
    sampled = _ever_driver_sampled()

    def tier(n: str):
        if n not in sampled:
            return (0, rank[n])
        if n in _STALE_RANK:
            return (1, _STALE_RANK[n])
        return (2, rank[n])

    return sorted(rank, key=tier)


def queries() -> dict[str, Builder]:
    from flink_quickstart_spark import plans

    plans.load_all()
    return {name: REGISTRY[name].builder for name in _driver_order(REGISTRY)}


def oracle_sql() -> dict[str, str]:
    from flink_quickstart_spark import plans

    plans.load_all()
    return {
        name: REGISTRY[name].oracle
        for name in _driver_order(REGISTRY)
        if REGISTRY[name].oracle is not None
    }
