"""Iterative dataflow operators (Flink ``DataSet.iterate()`` analog).

Reference surface [PK — SURVEY.md §0, checkout empty]: quickstart-era
Flink exposed bulk/delta iterations on DataSets (the canonical examples
are connected components and PageRank). Spark has no iteration operator;
the idiomatic mapping is a *driver-side loop over DataFrame
transformations*, which is exactly how GraphX/Pregel and MLlib implement
the same algorithms on RDDs. The loop body is declarative (joins +
aggregations, Catalyst-optimized per step); the driver only controls
convergence.

Scale design (100 TB graphs):
- **Lineage control**: each iteration extends the logical plan; after a
  few dozen steps planning cost and recovery lineage explode. We
  ``localCheckpoint(eager=True)`` every ``checkpoint_interval``
  iterations to truncate lineage (on a real cluster use
  ``checkpoint()`` to reliable storage instead — flag exposed).
- **Convergence is data-driven**: the loop stops on a *count* of changed
  labels / mass delta, one cheap aggregate per iteration (the Flink
  delta-iteration termination criterion).
- **Partitioning**: the label/rank table and the edge table are both
  shuffled on node id every step — at scale, pre-bucket the edge table
  on src (sources/bucketing.py) so only the small label table moves.
- AQE handles skewed hub nodes (power-law degree) in the join; for
  extreme hubs combine with operators/skew.py salting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_quickstart_spark.session import fits_driver, tracked_persist


def _truncate_lineage(df: DataFrame, use_reliable: bool) -> DataFrame:
    if use_reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _mark_truncate_lazy(df: DataFrame, use_reliable: bool) -> DataFrame:
    """Lineage truncation whose MATERIALIZATION is deferred to the
    caller's next action (r13, guide §1/§5): ``eager=False`` marks the
    plan's RDD for (local) checkpointing, and the first job that
    computes it persists its partitions as a side effect. An iterative
    loop that ends every step in a convergence/bookkeeping aggregate
    can therefore fold the truncation INTO that aggregate — one job per
    iteration instead of checkpoint-job + aggregate-job. Only safe when
    the caller's next action computes EVERY partition (a full aggregate
    or count does; a take()/limit would checkpoint partially)."""
    if use_reliable:
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def _materialize_static(df: DataFrame) -> DataFrame:
    """Materialize a LOOP-STATIC input once, via columnar cache.

    Static inputs (the symmetrized edge table, degree-annotated edges,
    node/dangling sets) need REUSE, not lineage truncation — their
    plans don't grow with the iteration count. localCheckpoint was the
    wrong tool for the corpus-mass ones (r7 sf10 decade finding): it
    stores a deserialized InternalRow RDD, ~10× the footprint of the
    compressed-columnar DataFrame cache, and at 100× data the 32 M-row
    symmetrized edge snapshot exhausted execution memory mid-build
    (UNABLE_TO_ACQUIRE_MEMORY). MEMORY_AND_DISK cache stores compressed
    column batches, spills (never recomputes) under pressure, and
    unpersists via the normal cache manager."""
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    return df


def _release(df: DataFrame | None) -> None:
    """Free a SUPERSEDED checkpoint's storage blocks.

    localCheckpoint blocks live in the block manager until session end
    — a loop that truncates lineage every iteration without releasing
    the previous snapshot accumulates O(iterations) copies of the state
    table, and repeated calls in one session stack further. That is a
    slow heap leak the r7 sf3 probe turned into a real OOM (8 g heap,
    ~12 pagerank+components executions: the 'read-ahead' parquet thread
    died allocating while storage held every superseded rank snapshot).
    Safe to call ONLY on a snapshot no live DataFrame depends on — i.e.
    after the NEXT eager checkpoint has materialized (its blocks are
    self-contained; a released localCheckpoint cannot be recomputed).
    """
    if df is None:
        return
    try:
        # Dataset.unpersist() only clears cache-manager entries;
        # localCheckpoint blocks belong to the LogicalRDD's underlying
        # RDD (measured: getRDDStorageInfo only shrinks via
        # analyzed().rdd().unpersist()).
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
        else:
            df.unpersist()
    except Exception:  # noqa: BLE001 — best-effort on a dying session
        pass


def _driver_components(edge_tbl, spark) -> DataFrame:
    """Exact min-label connected components on the driver for a SMALL
    Arrow-collected RAW edge table (no symmetrization needed — the
    relation is symmetric by construction of the algorithm): vectorized
    numpy hook-and-compress (edge min-relaxation both directions, then
    pointer doubling to a fixed point — O(E log D) in C-speed array
    ops; measured 0.39 s at 600 k edges, ~2× the dict union-find and
    allocation-flat). Replaces O(diameter) Spark rounds that are pure
    job/exchange overhead at this size. Labels are identical to the
    distributed loop's fixed point: node ids sort ascending in
    ``np.unique``, so the converged min INDEX per component is the min
    reachable id. Both boundary crossings are Arrow (toArrow() in, a
    pyarrow.Table out): the pickled-row path costs ~0.16 s to collect
    and leaves an RDD-backed local relation whose EVERY downstream
    action re-pays Python deserialization (~0.3 s measured at 300
    rows); the Arrow local relation reads in ~0.05 s."""
    import numpy as np
    import pyarrow as pa

    id_t = edge_tbl.schema.field(0).type  # preserve int32/int64 exactly
    src = edge_tbl.column(0).to_numpy(zero_copy_only=False)
    dst = edge_tbl.column(1).to_numpy(zero_copy_only=False)
    if len(src) == 0:
        out = pa.table(
            {"node": pa.array([], id_t), "component": pa.array([], id_t)}
        )
        return spark.createDataFrame(out).coalesce(1)
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    m = len(src)
    s, d = inv[:m], inv[m:]
    label = np.arange(len(nodes), dtype=np.int64)
    while True:
        before = label.copy()
        np.minimum.at(label, d, label[s])  # hook: relax every edge
        np.minimum.at(label, s, label[d])
        while True:  # compress: pointer-double to this round's roots
            nl = label[label]
            if np.array_equal(nl, label):
                break
            label = nl
        if np.array_equal(label, before):
            break
    out = pa.table(
        {
            "node": pa.array(nodes, id_t),
            "component": pa.array(nodes[label], id_t),
        }
    )
    # one partition: the table is budget-bounded (≤ ~32 MB)
    return spark.createDataFrame(out).coalesce(1)


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    checkpoint_interval: int = 1,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Min-label propagation over an undirected edge list.

    ``edges`` has columns ``src`` and ``dst`` (long). Returns
    ``(node, component)`` where ``component`` is the smallest node id
    reachable from ``node``. Deterministic for any input.

    Each iteration: every node adopts the minimum label among itself and
    its neighbors (one join + one groupBy agg = two shuffles on node
    id); stops when no label changed (count aggregate). Iterations are
    bounded by graph diameter.

    Loop shape (r6 fix, the PageRank lesson applied here): the
    SYMMETRIZED EDGE TABLE is materialized once before the loop — it is
    re-read every iteration, and leaving it lazy re-runs the caller's
    whole edge-construction plan (a fact-fact join in the registered
    key) once per iteration. And because every iteration ends in a
    convergence COUNT (an action), ``checkpoint_interval`` defaults to
    1: with a lazier interval each count recomputes all joins since the
    last truncation, turning an O(diameter) loop into O(diameter ×
    interval) recompute (measured at sf0.01: 22.8 s → ~2 s for the
    4-iteration events graph). On a cluster, ``reliable_checkpoint``
    swaps localCheckpoint for reliable storage.
    """
    # Materialize the RAW edge list once (r13, §5): the budget probe,
    # the driver fast path, and the sym build below all read it — and
    # un-materialized, the symmetrizing scan executed the caller's
    # edge-construction plan (a fact-fact join in the registered keys)
    # once per union branch.
    raw = edges.select("src", "dst")
    n_edges = None
    if reliable_checkpoint:
        raw = _truncate_lineage(raw, True)
    else:
        raw = tracked_persist(raw)
        n_edges = raw.count()
    # Small-graph fast path (r13, §1.2): the loop's per-iteration cost
    # at small edge counts is pure job/exchange overhead (measured
    # 0.35 s × 17 rounds for a 920-edge cosine pair graph), so a graph
    # whose RAW edge list fits DRIVER_BUDGETS["connected_components"]
    # (session.py; union-find needs no symmetrization) is solved
    # exactly with the vectorized driver hook-and-compress instead. The
    # count is the materializing job; above the budget — any real
    # corpus — the distributed loop below is the path, unchanged.
    # Labels are identical by construction (min reachable id,
    # deterministic either way).
    if fits_driver("connected_components", n_edges):
        labels = _driver_components(raw.toArrow(), edges.sparkSession)
        _release(raw)
        return labels
    # single-scan symmetrization (r13, §2.3): explode each cached edge
    # row into (src,dst)+(dst,src) — one scan of the materialized raw
    # table instead of one caller-plan execution per union branch.
    sym = raw.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("src").alias("src"), F.col("dst").alias("dst")
                ),
                F.struct(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    sym = (
        _truncate_lineage(sym, True)
        if reliable_checkpoint
        else _materialize_static(sym)
    )
    _release(raw)  # sym is self-contained now
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )

    last_ckpt = None  # the checkpointed object itself (unpersist target)
    for i in range(max_iter):
        # Per-iteration joins pin SHUFFLE_HASH with the node-sized side
        # as the sharded build (r7 sf10 decade finding): the label table
        # grows with the corpus, but localCheckpoint preserves the
        # origin's (underestimated) stats, so static planning broadcast
        # a multi-million-row label table EVERY iteration and died at
        # 100× ("Not enough memory to build and broadcast"). A
        # node-population table is never a broadcast candidate.
        neighbor_min = (
            sym.join(labels.hint("shuffle_hash"), sym.dst == labels.node)
            .select(sym.src.alias("node"), F.col("component"))
            .groupBy("node")
            .agg(F.min("component").alias("nbr_min"))
        )
        new_labels = (
            labels.join(neighbor_min.hint("shuffle_hash"), "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (F.coalesce("nbr_min", F.col("component")) < F.col("component")).alias(
                    "_changed"
                ),
            )
        )
        prev_ckpt = None
        if (i + 1) % checkpoint_interval == 0:
            # r13 (§1/§5): LAZY-marked truncation — the convergence
            # count below is the action that materializes the snapshot
            # (it computes every partition), so each iteration runs ONE
            # job instead of eager-checkpoint-job + count-job. The
            # counted value and the labels are bit-identical; only the
            # job count changes (measured: 2 jobs/iter → 1).
            new_labels = _mark_truncate_lazy(new_labels, reliable_checkpoint)
            prev_ckpt, last_ckpt = last_ckpt, new_labels
        changed = new_labels.where(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        # the new snapshot is materialized (eager) — the one before it
        # is now unreferenced; free its blocks (r7 sf3-OOM leak fix)
        _release(prev_ckpt)
        if changed == 0:
            break
    # sym may be released only if the returned labels are self-contained
    # (i.e. the final iteration checkpointed); with interval > 1 the
    # tail iterations still read sym lazily
    if last_ckpt is not None and checkpoint_interval == 1:
        _release(sym)
    return labels


def _driver_pagerank(
    edge_tbl, iterations: int, damping: float, spark
) -> DataFrame:
    """Exact power iteration on the driver for a SMALL Arrow-collected
    edge list (vectorized numpy — bincount scatter-add per step),
    replacing O(iterations) Spark rounds that are pure job/exchange
    overhead at this size. Same update expression as the distributed
    loop, same association order; summation order inside the
    per-node contribution sum differs, which is the double-rounding
    envelope the key's round-6 output already absorbs across engines
    (the DuckDB oracle sums in its own order)."""
    import numpy as np
    import pyarrow as pa

    src = edge_tbl.column(0).to_numpy(zero_copy_only=False)
    dst = edge_tbl.column(1).to_numpy(zero_copy_only=False)
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(nodes)
    si, di = inv[: len(src)], inv[len(src):]
    deg = np.bincount(si, minlength=n).astype(np.float64)
    dangling = deg == 0.0
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        dmass = float(rank[dangling].sum())
        in_mass = np.bincount(
            di, weights=rank[si] / deg[si], minlength=n
        )
        rank = (1.0 - damping) / n + damping * dmass / float(n) + (
            damping * in_mass
        )
    out = pa.table(
        {
            "node": pa.array(nodes, edge_tbl.schema.field(0).type),
            "rank": pa.array(rank, pa.float64()),
        }
    )
    return spark.createDataFrame(out).coalesce(1)


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_interval: int = 1,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list ``(src, dst)``.

    Fixed iteration count → deterministic output (modulo float summation
    order; consumers should round). Dangling nodes (no out-edges) follow
    the standard redistribute-to-all treatment. Returns ``(node, rank)``
    with ranks summing to ~1.

    Loop shape (the part that matters at 100 TB): the dangling mass is
    a 1-row aggregate collected as a SCALAR (8 bytes — an aggregate
    result, not a data pull; §5's no-driver-data-work rule is about
    row-set collects) and folded back in as a literal. That one action
    doubles as the materializer of the previous iteration's
    lazily-marked lineage truncation, so each iteration runs exactly
    ONE job (r13; it ran two before — an eager checkpoint job plus the
    dangling-mass broadcast-exchange job). Each rank snapshot references
    the previous one TWICE (dangling branch + contribution branch);
    without per-iteration truncation the recomputed plan doubles per
    step, which is why ``checkpoint_interval`` defaults to 1 here. The
    loop-static inputs (node list, degree-annotated edges, dangling
    set) are materialized once before the loop (r6): left lazy, each of
    them re-runs the caller's edge-construction plan every single
    iteration.

    The per-iteration scalar collect is a driver round trip: in cluster
    mode the distributed loop pays ``iterations`` × the driver–executor
    RTT on top of the job cost. Graphs within
    ``DRIVER_BUDGETS["pagerank"]`` edges skip the loop entirely.
    """
    # Materialize the EDGE LIST itself first (r13, §5): every loop-static
    # below (nodes, out_deg, dangling set, degree-annotated edges) reads
    # it, and un-materialized they re-ran the caller's edge-construction
    # plan — a fact-fact join in the registered key — FIVE times during
    # setup. The materializing count doubles as the driver fast-path
    # budget probe.
    edges = edges.select("src", "dst")
    n_edges = None
    if reliable_checkpoint:
        edges = _truncate_lineage(edges, True)
    else:
        edges = tracked_persist(edges)
        n_edges = edges.count()
    # Small-graph fast path (r13, §1.2): a graph whose edge list fits
    # DRIVER_BUDGETS["pagerank"] (session.py) runs the same power
    # iteration vectorized on the driver; above it — any real corpus —
    # the distributed loop below is the path, unchanged.
    if fits_driver("pagerank", n_edges):
        ranks = _driver_pagerank(
            edges.toArrow(), iterations, damping, edges.sparkSession
        )
        _release(edges)
        return ranks
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = (
        _truncate_lineage(nodes, True)
        if reliable_checkpoint
        else _materialize_static(nodes)
    )
    n_nodes = nodes.count()
    out_deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    # Static across iterations: nodes with no out-edges, and the
    # degree-annotated edge list (inner join drops dangling sources).
    # node-sized sides SHUFFLE_HASH-pinned, same law as the CC loop:
    # checkpointed snapshots carry underestimated origin stats, and a
    # node/degree table grows with the corpus — broadcasting it at 100×
    # is a designed OOM
    def _static(df: DataFrame) -> DataFrame:
        return (
            _truncate_lineage(df, True)
            if reliable_checkpoint
            else _materialize_static(df)
        )

    dangling_nodes = _static(
        nodes.join(out_deg.hint("shuffle_hash"), "node", "left_anti")
    )
    edges_deg = _static(
        edges.join(
            out_deg.hint("shuffle_hash"), edges.src == out_deg.node
        ).select("src", "dst", "out_deg")
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))

    last_ckpt = None  # superseded-snapshot release (r7 sf3-OOM leak fix)
    pending = None  # lazily-marked snapshot awaiting its materializing action
    for i in range(iterations):
        # 1-row dangling-mass aggregate, collected as a SCALAR (r13,
        # §1/§5): this action also materializes the previous
        # iteration's lazily-marked checkpoint (the semi-join computes
        # every rank partition), so each iteration runs ONE job where
        # it ran an eager-checkpoint job plus a broadcast-exchange job
        # before. The collected double re-enters the plan as a literal
        # — the same IEEE value the broadcast `_dmass` column carried,
        # evaluated by the same expression tree, so ranks are
        # bit-identical (and the key's output rounds to 6 decimals on
        # top of that).
        dmass = float(
            ranks.join(dangling_nodes.hint("shuffle_hash"), "node", "left_semi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dmass"))
            .collect()[0][0]
        )
        if pending is not None:  # materialized by the action above
            _release(last_ckpt)
            last_ckpt, pending = pending, None
        contribs = (
            edges_deg.join(ranks.hint("shuffle_hash"), edges_deg.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("in_mass"))
        )
        ranks = (
            nodes.join(contribs.hint("shuffle_hash"), "node", "left")
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping) * F.lit(dmass) / F.lit(float(n_nodes))
                    + F.lit(damping) * F.coalesce("in_mass", F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (i + 1) % checkpoint_interval == 0:
            if i == iterations - 1:
                # the final snapshot has no following dmass action to
                # fold into — materialize eagerly so the loop-static
                # caches can be released before returning
                ranks = _truncate_lineage(ranks, reliable_checkpoint)
                _release(last_ckpt)
                last_ckpt = ranks
            else:
                ranks = _mark_truncate_lazy(ranks, reliable_checkpoint)
                pending = ranks
    # the final ranks snapshot stays live for the caller; the
    # loop-static inputs may be released only if that snapshot is
    # self-contained (final iteration checkpointed)
    if iterations > 0 and iterations % checkpoint_interval == 0:
        _release(nodes)
        _release(dangling_nodes)
        _release(edges_deg)
        _release(edges)
    return ranks
