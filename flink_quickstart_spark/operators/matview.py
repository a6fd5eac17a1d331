"""Incremental materialized-view maintenance for grouped aggregates.

The aggregate analog of the persisted-index lifecycle (K2g/K4e/K4f):
a 100 TB deployment serves dashboards and feature lookups from
pre-aggregated GROUP BY results, and recomputing the full groupBy on
every daily 0.1% ingest re-scans the corpus for no reason. This module
persists the grouped aggregate as a *partial-aggregate state store* —
one row per group holding the mergeable partials (count, sum, min,
max; avg as sum+count), Hive-partitioned by a hash bucket of the group
key — and maintains it with batch-priced deltas:

- :func:`mv_build` — one full groupBy (the only corpus-scale pass).
- :func:`mv_refresh` — INSERT maintenance: partial-aggregate the batch
  alone (map-side combinable, one small shuffle), read ONLY the hash
  buckets its groups land in (static partition prune on ``_gmod``),
  merge partials group-wise, dynamic-partition-overwrite the touched
  buckets. Cost ∝ batch + rows in touched buckets, never the corpus.
- :func:`mv_retract` — DELETE maintenance. count/sum/avg are
  subtractable, so a pure delta (negated partials) suffices; min/max
  are NOT algebraically subtractable (the deleted row may have been
  the extremum), so a spec containing them recomputes the AFFECTED
  GROUPS from the post-delete source — one source pass whose shuffle
  carries only the affected groups' rows, the textbook non-subtractable
  retraction strategy. Either way untouched buckets are never opened.
- :func:`mv_read` — finalize partials into user-facing values
  (a bucket-pruned point lookup when ``where`` is provided).

Every mutation runs under the store writer lease
(operators/maintenance.store_writer_lease) — dynamic overwrite races
silently under concurrency — and the refresh == rebuild / retract ==
rebuild-on-complement row-identity contracts are pinned in
tests/test_matview_r10.py. EXACT distinct-count is deliberately
rejected (not mergeable from partials without a sketch); the
``approx_count_distinct`` spec (r11) covers that workload with an HLL
sketch as the group's partial state — mergeable on refresh, finalized
at read, ~0.8% rse at the default lgK=12 — and retraction for it runs
the recompute-affected-groups path (sketches cannot subtract).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

from flink_quickstart_spark.operators.iterative import _release
from flink_quickstart_spark.operators.maintenance import (
    AbortStoreGeneration,
    require_local_path,
    reset_store_generations,
    read_store,
    store_data_dir,
    store_generation,
    store_writer_lease,
    write_partitioned,
    write_store_manifest,
)

# Aggregate ops the partial-state layout can merge. Each maps the user
# spec to (partial expr, merge expr, subtractable?).
# approx_count_distinct (r11, VERDICT r10 #3) stores an Apache
# DataSketches HLL sketch as the group's partial state — mergeable
# (hll_union_agg) so refresh stays batch-priced, finalized at read
# (hll_sketch_estimate). Like min/max it is NOT subtractable (a sketch
# cannot forget), so retraction takes the recompute-affected-groups
# path (flat stores, with source_df) or an epoch fold/rebuild.
_SUBTRACTABLE = {"count", "sum", "avg"}
_SUPPORTED = {"count", "sum", "min", "max", "avg", "approx_count_distinct"}

#: lgConfigK for the MV's HLL sketches: 2^12 registers ≈ 0.8% relative
#: standard error at ~4 KiB per group — comfortably inside the 5%
#: contract the q_agg_approxcd family pins.
_HLL_LGK = 12

# Internal bookkeeping column: per-group row count. Always stored —
# retraction uses it to detect vanished groups (cnt hits 0) and
# over-retraction (cnt goes negative: retracting rows never inserted).
_CNT = "_cnt"


def _validate_spec(aggs: list[tuple[str, str, str]]) -> None:
    for op, col, alias in aggs:
        if op not in _SUPPORTED:
            hint = (
                " EXACT distinct-count is not mergeable from partials — "
                "use the approx_count_distinct spec (HLL sketch partials, "
                "mergeable, ~0.8% rse) or the full HLL rollup "
                "(q_agg_hll_rollup) when exactness is not required."
                if op in ("countdistinct", "count_distinct")
                else ""
            )
            raise ValueError(
                f"matview: unsupported aggregate {op!r} (of {alias!r}); "
                f"supported: {sorted(_SUPPORTED)}.{hint}"
            )
        if op != "count" and col == "*":
            raise ValueError(f"matview: {op}('*') is not meaningful (alias {alias!r})")


def _partial_exprs(aggs: list[tuple[str, str, str]]) -> list:
    """Partial-aggregate expressions for one groupBy over RAW rows."""
    out = [F.count(F.lit(1)).cast("bigint").alias(_CNT)]
    for op, col, alias in aggs:
        if op == "count":
            src = F.lit(1) if col == "*" else F.col(col)
            out.append(F.count(src).cast("bigint").alias(alias))
        elif op == "sum":
            out.append(F.sum(col).alias(alias))
        elif op == "min":
            out.append(F.min(col).alias(alias))
        elif op == "max":
            out.append(F.max(col).alias(alias))
        elif op == "avg":
            out.append(F.sum(col).alias(f"{alias}__sum"))
            out.append(F.count(col).cast("bigint").alias(f"{alias}__cnt"))
        elif op == "approx_count_distinct":
            out.append(
                F.hll_sketch_agg(F.col(col), F.lit(_HLL_LGK)).alias(
                    f"{alias}__hll"
                )
            )
    return out


def _merge_exprs(aggs: list[tuple[str, str, str]]) -> list:
    """Re-aggregate expressions merging PARTIAL rows of the same group."""
    out = [F.sum(_CNT).cast("bigint").alias(_CNT)]
    for op, col, alias in aggs:
        if op in ("count", "sum"):
            expr = F.sum(alias)
            out.append((expr.cast("bigint") if op == "count" else expr).alias(alias))
        elif op == "min":
            out.append(F.min(alias).alias(alias))
        elif op == "max":
            out.append(F.max(alias).alias(alias))
        elif op == "avg":
            out.append(F.sum(f"{alias}__sum").alias(f"{alias}__sum"))
            out.append(F.sum(f"{alias}__cnt").cast("bigint").alias(f"{alias}__cnt"))
        elif op == "approx_count_distinct":
            out.append(
                F.hll_union_agg(F.col(f"{alias}__hll"), F.lit(False)).alias(
                    f"{alias}__hll"
                )
            )
    return out


def _with_gmod(df: DataFrame, group_cols: list[str], n_buckets: int) -> DataFrame:
    return df.withColumn(
        "_gmod", F.pmod(F.xxhash64(*group_cols), F.lit(n_buckets)).cast("int")
    )


def _partials(
    df: DataFrame, group_cols: list[str], aggs, n_buckets: int
) -> DataFrame:
    return _with_gmod(
        df.groupBy(*group_cols).agg(*_partial_exprs(aggs)), group_cols, n_buckets
    )


def _meta_path(path: str) -> str:
    return os.path.join(path, "meta.json")


def _read_meta(path: str) -> dict:
    with open(_meta_path(path)) as fh:
        return json.load(fh)


def _update_meta(path: str, **kv) -> None:
    meta = _read_meta(path)
    meta.update(kv)
    tmp = _meta_path(path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, _meta_path(path))


def _existing_epoch_buckets(groups_dir: str, epoch: int) -> set[str]:
    """_gmod string values that already hold ``_epoch=<id>`` data files
    (fs metadata only)."""
    from flink_quickstart_spark.operators.maintenance import data_file_counts

    seg = f"_epoch={int(epoch)}"
    out: set[str] = set()
    for rel in data_file_counts(groups_dir):
        parts = dict(p.split("=", 1) for p in rel.split(os.sep) if "=" in p)
        if parts.get("_epoch") == str(int(epoch)) or seg in rel.split(os.sep):
            if "_gmod" in parts:
                out.add(parts["_gmod"])
    return out


def _guard_epoch_reuse(
    path: str, epoch: int, op: str, batch_buckets: list[int]
) -> None:
    """Fail LOUDLY when an epoch id is being reused for a different
    batch or a different op kind (r10 ADVICE). An epoch's replay domain
    is its OWN partitions: a second write under the same id dynamic-
    overwrites only the NEW batch's buckets, so if the id already holds
    partitions OUTSIDE those buckets the result would be a silently
    MIXED epoch (part old batch, part new) — and the retract balance
    check excludes the store's own epoch rows, so the corruption would
    also be invisible to it. Two guards:

    - meta.json tracks ``epoch_ops`` ({epoch: 'refresh'|'retract'}):
      reusing a refresh id for a retract (or vice versa) raises even
      when the buckets happen to align.
    - the filesystem check: existing ``_epoch=<id>`` partitions must be
      a SUBSET of the incoming batch's buckets — a true replay always
      covers its own buckets; anything outside means a different batch.
    """
    meta = _read_meta(path)
    prior = (meta.get("epoch_ops") or {}).get(str(int(epoch)))
    if prior is not None and prior != op:
        raise ValueError(
            f"mv epoch reuse: epoch {epoch} was written by {prior!r} and "
            f"is now being reused by {op!r} — refresh and retract epoch "
            "namespaces must stay disjoint (a reused id would silently "
            "replace the prior contribution); pick a fresh epoch id."
        )
    existing = _existing_epoch_buckets(store_data_dir(path, "groups"), epoch)
    outside = existing - {str(b) for b in batch_buckets}
    if outside:
        raise ValueError(
            f"mv epoch reuse: epoch {epoch} already holds partitions in "
            f"buckets {sorted(outside)} that this batch does not touch — "
            "this is a DIFFERENT batch reusing the epoch id (a replay "
            "always covers its own buckets); dynamic overwrite would "
            "leave a mixed epoch. The store is unchanged; pick a fresh "
            "epoch id."
        )


def _record_epoch_op(path: str, epoch: int, op: str) -> None:
    meta = _read_meta(path)
    ops = dict(meta.get("epoch_ops") or {})
    ops[str(int(epoch))] = op
    _update_meta(path, epoch_ops=ops)


def _write_groups(
    df: DataFrame,
    path: str,
    group_cols: list[str],
    part_cols: tuple[str, ...] = ("_gmod",),
) -> None:
    write_partitioned(
        df, os.path.join(path, "groups"), list(part_cols), group_cols,
        "dynamic", n_rows=None,
    )


def mv_build(
    df: DataFrame,
    path: str,
    group_cols: list[str],
    aggs: list[tuple[str, str, str]],
    n_buckets: int = 32,
    epoch_partitioned: bool = False,
) -> None:
    """Materialize ``df.groupBy(group_cols).agg(aggs)`` as a partial
    state store at ``path`` — the one corpus-scale pass of the MV's
    life. ``aggs`` is ``[(op, col, alias), ...]`` with op in
    {count, sum, min, max, avg} (count accepts col='*'). The group rows
    are partitioned by ``_gmod = pmod(xxhash64(group_cols), n_buckets)``
    so later deltas prune to the buckets their groups hash into; size
    n_buckets so one bucket's groups fit an executor (at 1e9 groups and
    4096 buckets, ~250k group rows per bucket — a broadcast-sized
    merge side against any daily batch).

    ``epoch_partitioned=True`` is the STREAMING layout (the same design
    as the epoch-partitioned signature store): the base sits at
    ``(_gmod, _epoch=0)`` and each refresh writes its batch's partial
    rows as its OWN epoch via dynamic overwrite — a replayed micro-batch
    REPLACES its first attempt, so exactly-once holds BY LAYOUT with no
    marker and no crash window. The read side merges epochs group-wise
    (merge-on-read); :func:`compact_mv` folds accumulated epochs back
    into the base."""
    aggs = [tuple(a) for a in aggs]
    _validate_spec(aggs)
    # meta.json + the emptied-bucket drops are filesystem-level — fail
    # loudly on remote URI schemes rather than silently misbehave.
    require_local_path(path, "mv_build")
    reset_store_generations(path)  # rebuild over a mutated store
    with store_writer_lease(path, "mv_build"):
        parts = _partials(df, group_cols, aggs, n_buckets)
        part_cols = ["_gmod"]
        if epoch_partitioned:
            parts = parts.withColumn("_epoch", F.lit(0).cast("int"))
            part_cols = ["_gmod", "_epoch"]
        write_partitioned(
            parts, os.path.join(path, "groups"), part_cols, group_cols,
            "overwrite", n_rows=None,
        )
        tmp = _meta_path(path) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "group_cols": list(group_cols),
                    "aggs": [list(a) for a in aggs],
                    "n_buckets": int(n_buckets),
                    "epoch_partitioned": bool(epoch_partitioned),
                },
                fh,
            )
        os.replace(tmp, _meta_path(path))
        write_store_manifest(path)  # stamp generation 0's file list (r12)


def _affected_buckets(parts: DataFrame) -> list[int]:
    # ≤ n_buckets distinct values by construction — a driver pull that
    # is bounded by the LAYOUT, not the batch (unlike the index ops'
    # combo collects, no budget guard is needed: the bucket-id space IS
    # the cap).
    return [int(r._gmod) for r in parts.select("_gmod").distinct().collect()]


def mv_refresh(
    spark, path: str, batch_df: DataFrame, epoch: int | None = None
) -> dict:
    """INSERT maintenance: merge a batch of NEW source rows into the
    store. Partial-aggregates the batch alone (map-side combine does
    most of the work before the one small shuffle), statically prunes
    the store scan to the batch's ``_gmod`` buckets, merges partials
    group-wise (count/sum/avg add; min/max take the extremum — both
    exact for inserts), and dynamic-overwrites only those buckets.
    Returns {'buckets_touched', 'groups_in_batch'}.

    The batch must be NEW rows (not corrections): re-refreshing the
    same rows double-counts — the same append-only contract as
    minhash_upsert_store; use :func:`mv_retract` + refresh for updates.
    refresh == rebuild-on-union row identity is pinned in
    tests/test_matview_r10.py.

    On an EPOCH-PARTITIONED store, pass ``epoch`` (the micro-batch id,
    ≥ 1 — the base owns epoch 0): the batch's partials are written as
    that epoch's own ``(_gmod, _epoch)`` partitions via dynamic
    overwrite and the store is never read — a replayed epoch REPLACES
    its first attempt (exactly-once by layout, zero crash window), and
    refresh cost is pure batch. Merge happens at read/compact time."""
    meta = _read_meta(path)
    group_cols, aggs, n_buckets = (
        meta["group_cols"],
        [tuple(a) for a in meta["aggs"]],
        meta["n_buckets"],
    )
    is_epoch = bool(meta.get("epoch_partitioned", False))
    if is_epoch != (epoch is not None):
        raise ValueError(
            "mv_refresh: epoch-partitioned stores require an epoch id "
            "(>= 1) and flat stores forbid one — the layouts must not "
            "mix (a flat write into an epoch store would sit outside "
            "every epoch's replay domain)."
        )
    if epoch is not None and int(epoch) < 1:
        raise ValueError("mv_refresh: epoch must be >= 1 (0 is the base)")
    with store_generation(path, "mv_refresh") as gen:
        batch_parts = _partials(batch_df, group_cols, aggs, n_buckets)
        batch_parts = batch_parts.localCheckpoint(eager=True)
        try:
            buckets = _affected_buckets(batch_parts)
            if not buckets:
                raise AbortStoreGeneration  # empty batch — store untouched
            if is_epoch:
                _guard_epoch_reuse(path, int(epoch), "refresh", buckets)
                delta = batch_parts.withColumn(
                    "_epoch", F.lit(int(epoch)).cast("int")
                )
                _write_groups(
                    delta, gen, group_cols, part_cols=("_gmod", "_epoch")
                )
                _record_epoch_op(path, int(epoch), "refresh")
                return {
                    "buckets_touched": len(buckets),
                    "groups_in_batch": batch_parts.count(),
                    "epoch": int(epoch),
                }
            store_sub = read_store(spark, path, "groups").where(
                F.col("_gmod").isin(buckets)
            )
            merged = (
                store_sub.unionByName(batch_parts)
                .groupBy("_gmod", *group_cols)
                .agg(*_merge_exprs(aggs))
            )
            _write_groups(merged, gen, group_cols)
            return {
                "buckets_touched": len(buckets),
                "groups_in_batch": batch_parts.count(),
            }
        finally:
            _release(batch_parts)
    # only reached when the staged generation was aborted (empty batch)
    return {"buckets_touched": 0, "groups_in_batch": 0}


def mv_retract(
    spark,
    path: str,
    batch_df: DataFrame,
    source_df: DataFrame | None = None,
    epoch: int | None = None,
) -> dict:
    """DELETE maintenance: remove a batch of PREVIOUSLY-INSERTED rows'
    contribution. With an all-subtractable spec (count/sum/avg) the op
    is a pure delta — negate the batch partials and merge, no source
    access at all. A spec holding min/max cannot subtract (the deleted
    row may have been the extremum), so ``source_df`` — the source AS
    IT STANDS AFTER the delete — is required, and the affected groups
    are recomputed from it: one source pass whose shuffle carries only
    rows of the batch's groups (a group-key semi-join against the
    batch's distinct groups), then the recomputed partials replace
    those groups inside the pruned buckets. Groups whose last row was
    deleted vanish from the store; emptied buckets drop their
    partition directory (dynamic overwrite alone would leave stale
    files — the same subtle bug the index deletes guard against).
    Over-retraction (a batch row that was never inserted) drives a
    group's count negative and raises — silent corruption is never an
    outcome. Returns {'buckets_touched', 'groups_retracted'}."""
    meta = _read_meta(path)
    group_cols, aggs, n_buckets = (
        meta["group_cols"],
        [tuple(a) for a in meta["aggs"]],
        meta["n_buckets"],
    )
    is_epoch = bool(meta.get("epoch_partitioned", False))
    subtractable = all(op in _SUBTRACTABLE for op, _c, _a in aggs)
    if is_epoch and not subtractable:
        # checked BEFORE the source_df hint: on an epoch store no
        # source_df can fix this — the epoch history itself cannot
        # express a non-subtractable retraction
        raise ValueError(
            "mv_retract: an epoch-partitioned store records "
            "retractions as negative-delta epochs, which "
            "min/max/approx_count_distinct cannot express (the "
            "deleted row may have been the extremum, sketches "
            "cannot subtract, and history epochs are immutable) — "
            "fold the store with compact_mv and retract on the "
            "flat form, or restrict the spec to count/sum/avg."
        )
    if not subtractable and source_df is None:
        raise ValueError(
            "mv_retract: the spec holds non-subtractable aggregates "
            "(min/max: the deleted row may have been the extremum; "
            "approx_count_distinct: a sketch cannot forget) — pass "
            "source_df (the source after the delete) so the affected "
            "groups can be recomputed, or restrict the spec to "
            "count/sum/avg for delta-only retraction."
        )
    if is_epoch:
        if epoch is None or int(epoch) < 1:
            raise ValueError(
                "mv_retract: epoch-partitioned stores require an epoch "
                "id (>= 1) so the retraction replays idempotently."
            )
    elif epoch is not None:
        raise ValueError("mv_retract: flat stores take no epoch id")
    with store_generation(path, "mv_retract") as gen:
        batch_parts = _partials(batch_df, group_cols, aggs, n_buckets)
        batch_parts = batch_parts.localCheckpoint(eager=True)
        try:
            buckets = _affected_buckets(batch_parts)
            if not buckets:
                raise AbortStoreGeneration  # empty batch — store untouched
            store_sub = read_store(spark, path, "groups").where(
                F.col("_gmod").isin(buckets)
            )
            if is_epoch:
                # Negative-delta epoch: merge-on-read makes the balance
                # visible only at read time, so over-retraction is
                # checked HERE (merge the pruned buckets without
                # writing the merge — cost ∝ touched buckets, exactly
                # the flat retract's read side) and the write is just
                # the negated delta's own idempotent epoch partitions.
                # The check excludes the store's OWN epoch rows — a
                # REPLAYED retraction's first attempt must not count
                # against the balance (the same strictly-other-epochs
                # rule the admission gate applies), or every replay
                # would look like an over-retraction.
                _guard_epoch_reuse(path, int(epoch), "retract", buckets)
                negated = batch_parts.select(
                    "_gmod",
                    *group_cols,
                    *((-F.col(c)).alias(c) for c in _state_cols(aggs)),
                )
                balance = (
                    store_sub.where(F.col("_epoch") != int(epoch))
                    .drop("_epoch")
                    .unionByName(negated)
                    .groupBy("_gmod", *group_cols)
                    .agg(*_merge_exprs(aggs))
                )
                bad = balance.where(F.col(_CNT) < 0).limit(1).count()
                if bad:
                    raise ValueError(
                        "mv_retract: batch retracts rows that were never "
                        "inserted (a group's row count went negative); "
                        "the store is unchanged."
                    )
                n_gone = balance.where(F.col(_CNT) == 0).count()
                delta = negated.withColumn(
                    "_epoch", F.lit(int(epoch)).cast("int")
                )
                _write_groups(
                    delta, gen, group_cols, part_cols=("_gmod", "_epoch")
                )
                _record_epoch_op(path, int(epoch), "retract")
                return {
                    "buckets_touched": len(buckets),
                    "groups_retracted": int(n_gone),
                    "epoch": int(epoch),
                }
            if subtractable:
                negated = batch_parts.select(
                    "_gmod",
                    *group_cols,
                    *((-F.col(c)).alias(c) for c in _state_cols(aggs)),
                )
                merged = (
                    store_sub.unionByName(negated)
                    .groupBy("_gmod", *group_cols)
                    .agg(*_merge_exprs(aggs))
                )
                merged = merged.localCheckpoint(eager=True)
                try:
                    bad = merged.where(F.col(_CNT) < 0).limit(1).count()
                    if bad:
                        raise ValueError(
                            "mv_retract: batch retracts rows that were never "
                            "inserted (a group's row count went negative); "
                            "the store is unchanged."
                        )
                    survivors = merged.where(F.col(_CNT) > 0)
                    n_gone = merged.where(F.col(_CNT) == 0).count()
                    _write_and_drop(
                        spark, gen, survivors, buckets, group_cols
                    )
                finally:
                    _release(merged)
            else:
                # Non-subtractable path: recompute the affected groups
                # from the post-delete source. The semi-join keys are
                # the batch's DISTINCT groups (already a DataFrame —
                # stays distributed, no driver pull).
                batch_groups = batch_parts.select(*group_cols).distinct()
                # Over-retraction guard (r10 ADVICE): a batch group that
                # was never inserted into the MV would otherwise be
                # silently INSERTED (recomputed from source_df and
                # unioned into the survivors) and miscounted. The store
                # scan is already pruned to the batch's buckets, and
                # every present group hashes into them, so this check
                # is bucket-local.
                missing = batch_groups.join(
                    store_sub.select(*group_cols).distinct(),
                    on=group_cols,
                    how="left_anti",
                ).limit(1).count()
                if missing:
                    raise ValueError(
                        "mv_retract: batch retracts rows of groups that "
                        "were never inserted into the store; the store "
                        "is unchanged."
                    )
                recomputed = _partials(
                    source_df.join(batch_groups, on=group_cols, how="left_semi"),
                    group_cols,
                    aggs,
                    n_buckets,
                )
                untouched = store_sub.join(
                    batch_groups, on=group_cols, how="left_anti"
                )
                # After the membership check batch_groups is a subset of
                # the store's groups, so vanished == batch groups with
                # no surviving recomputed row.
                n_gone = (
                    batch_groups.count()
                    - recomputed.count()
                )
                survivors = untouched.unionByName(recomputed)
                _write_and_drop(spark, gen, survivors, buckets, group_cols)
            return {"buckets_touched": len(buckets), "groups_retracted": int(n_gone)}
        finally:
            _release(batch_parts)
    # only reached when the staged generation was aborted (empty batch)
    return {"buckets_touched": 0, "groups_retracted": 0}


def _state_cols(aggs: list[tuple[str, str, str]]) -> list[str]:
    """The mergeable state columns in store order (subtractable specs
    only — callers negate these for delta retraction, so a spec
    holding min/max or an HLL sketch never reaches here)."""
    out = [_CNT]
    for op, _col, alias in aggs:
        if op == "avg":
            out += [f"{alias}__sum", f"{alias}__cnt"]
        elif op == "approx_count_distinct":
            raise AssertionError(
                "_state_cols on an HLL spec — sketches are not negatable"
            )
        else:
            out.append(alias)
    return out


def _write_and_drop(
    spark, path: str, survivors: DataFrame, buckets: list[int], group_cols: list[str]
) -> None:
    """Dynamic-overwrite the affected buckets with the surviving group
    rows, then drop the partition directories of buckets left with ZERO
    survivors (dynamic overwrite only replaces partitions present in
    the written data — an emptied bucket would silently keep stale
    files, the bug _drop_empty_partitions exists for). ``path`` is the
    write TARGET root — the staged generation dir under the r11
    discipline, never the live store."""
    from flink_quickstart_spark.operators.maintenance import _drop_empty_partitions

    survivors = survivors.localCheckpoint(eager=True)
    try:
        _write_groups(survivors, path, group_cols)
        alive = {
            (str(r._gmod),)
            for r in survivors.select("_gmod").distinct().collect()
        }
        _drop_empty_partitions(
            os.path.join(path, "groups"),
            [(str(b),) for b in buckets],
            alive,
            ["_gmod"],
        )
    finally:
        _release(survivors)


def mv_read(spark, path: str, where=None) -> DataFrame:
    """Finalize the store into the user-facing aggregate: group columns
    plus one value per spec entry (avg divides its sum/count pair).
    ``where`` (a Column predicate over the GROUP columns) is applied to
    the scan — combined with a ``_gmod`` equality it prunes to one
    bucket, the point-lookup path; without it this is a full (but
    corpus-independent: one row per group) MV scan.

    On an epoch-partitioned store this is MERGE-ON-READ: the base and
    every delta epoch's partial rows for a group are re-merged before
    finalizing, and groups whose balance hit zero (fully retracted by
    a negative-delta epoch) are filtered out. Read cost grows with the
    number of unfolded epochs — :func:`compact_mv` folds them back."""
    meta = _read_meta(path)
    aggs = [tuple(a) for a in meta["aggs"]]
    df = read_store(spark, path, "groups")
    if where is not None:
        df = df.where(where)
    if meta.get("epoch_partitioned", False):
        df = (
            df.drop("_epoch")
            .groupBy("_gmod", *meta["group_cols"])
            .agg(*_merge_exprs(aggs))
            .where(F.col(_CNT) > 0)
        )
    final = []
    for op, _col, alias in aggs:
        if op == "avg":
            final.append(
                (F.col(f"{alias}__sum") / F.col(f"{alias}__cnt")).alias(alias)
            )
        elif op == "approx_count_distinct":
            final.append(
                F.hll_sketch_estimate(F.col(f"{alias}__hll")).alias(alias)
            )
        else:
            final.append(F.col(alias))
    return df.select(*meta["group_cols"], *final)


def compact_mv(spark, path: str, max_files: int | None = None) -> dict:
    """OPTIMIZE for the MV store: fold each bucket's accumulated delta
    files into one sorted file (sorted by the group key — restores
    page-level min/max pruning for point lookups). Delegates to
    operators/maintenance.compact_partitions under the writer lease;
    ``max_files=N`` compacts only over-threshold buckets.

    On an epoch-partitioned store the OPTIMIZE is EPOCH FOLDING: all
    epochs' partials merge group-wise into ``_epoch=0`` (zero-balance
    groups dropped), restoring O(1)-epochs read cost; already-folded
    epochs cannot replay into the folded store (folding runs in a
    maintenance window behind the same writer lease, mirroring the
    signature store's epoch folding)."""
    from flink_quickstart_spark.operators.maintenance import (
        _compact_stats,
        _noop_compact_stats,
        compact_partitions,
        data_file_counts,
    )

    meta = _read_meta(path)
    if meta.get("epoch_partitioned", False):
        with store_generation(
            path, "compact_mv", replace_subdirs=("groups",)
        ) as gen:
            # read snapshot resolved UNDER the lease (r11 ADVICE — a
            # generation published between a pre-lease resolve and the
            # clone would be folded stale and its mutation reverted)
            groups_dir = store_data_dir(path, "groups")
            aggs = [tuple(a) for a in meta["aggs"]]
            counts = data_file_counts(groups_dir)
            folded = (
                read_store(spark, path, "groups")
                .drop("_epoch")
                .groupBy("_gmod", *meta["group_cols"])
                .agg(*_merge_exprs(aggs))
                .where(F.col(_CNT) > 0)
                .withColumn("_epoch", F.lit(0).cast("int"))
            )
            write_partitioned(
                folded, os.path.join(gen, "groups"), ["_gmod", "_epoch"],
                meta["group_cols"], "overwrite", n_rows=None,
            )
            stats = _compact_stats(
                counts, os.path.join(gen, "groups"), len(counts)
            )
        # Every epoch folded into the base: the used-epoch-id map
        # resets — folded ids may be reused (their replay domain no
        # longer exists; the reuse guard would otherwise reject
        # legitimate post-fold ids forever). The reset runs AFTER the
        # generation published (pointer flipped at the with-exit) —
        # a crash in between leaves the unfolded epochs live WITH
        # their reuse map, the same data-then-meta ordering the r10
        # epoch write uses (r11 ADVICE: the inverse ordering let a
        # crash clear the map while the epochs were still live,
        # re-opening the mixed-epoch reuse hole).
        _update_meta(path, epoch_ops={})
        return stats
    stats = _noop_compact_stats(store_data_dir(path, "groups"), max_files)
    if stats is not None:
        return stats
    with store_generation(path, "compact_mv") as gen:
        groups_dir = store_data_dir(path, "groups")  # under the lease
        stats = _noop_compact_stats(groups_dir, max_files)
        if stats is not None:
            raise AbortStoreGeneration  # a concurrent compact won the race
        return compact_partitions(
            spark,
            groups_dir,
            ["_gmod"],
            meta["group_cols"],
            max_files=max_files,
            target_dir=os.path.join(gen, "groups"),
        )
    return stats  # reached only via the under-lease no-op abort
