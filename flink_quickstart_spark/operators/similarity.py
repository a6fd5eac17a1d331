"""Embedding similarity search operators.

Beyond the reference surface: mandated LLM-data-pipeline extension
(SURVEY.md §2.K3-K4). Two tiers:

- :func:`brute_knn` — exact cosine top-k. The corpus matrix is broadcast
  as numpy and each partition scores its query rows against it with one
  BLAS matmul (Arrow-batched ``mapInPandas``). Measured ~5× faster than
  the higher-order-function route at sf0.1 (SURVEY.md §6: 31.7 s HOF vs
  6.9 s naive numpy; this implementation batches output construction).
  Valid while the *corpus* side fits in executor memory (dim-table scale);
  the query side streams at any scale.
- :func:`lsh_ann_buckets` — the 100 TB path: BucketedRandomProjectionLSH
  (random hyperplane projections, fixed seed) turns ANN into an equi-join
  on bucket ids; no full pair matrix ever materializes.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_quickstart_spark.operators.maintenance import (
    MAX_AFFECTED_COMBOS,
    AbortStoreGeneration,
    _collect_combos_budgeted,
    _partition_files,
    _partition_rel,
    delete_partition_local,
    open_store_snapshot,
    partition_filter,
    read_store,
    row_bound,
    store_data_dir,
    store_generation,
    write_partitioned,
)

#: Default ceiling for the broadcast-corpus tiers (bytes). Spark's own
#: broadcast implementation tops out at 8 GB per block and executors must
#: hold the matrix besides their shuffle/UDF memory; 2 GiB leaves
#: headroom on a 4-8 GB-per-executor cluster.
DEFAULT_BROADCAST_BUDGET_BYTES = 2 << 30


def _collect_corpus(
    df: DataFrame, id_col: str, vec_col: str, max_broadcast_bytes: int, op: str
):
    """Collect (ids, matrix, norms) for the broadcast tiers, failing fast
    when the estimated matrix size exceeds the budget.

    The estimate comes from Catalyst plan statistics (``sizeInBytes`` of
    the optimized two-column projection — parquet footer based, NO Spark
    job) scaled 4× for compressed-parquet → float64-in-memory expansion,
    so an over-budget corpus raises a clear error instead of OOMing the
    driver mid-collect — at zero cost to within-budget callers. Sources
    without stats (e.g. local relations) report Long.MaxValue; those fall
    back to an exact count + dim probe (two tiny jobs — such frames are
    test-sized by construction). Over-budget corpora belong on the
    bucketed tiers: :func:`ivf_topk` (corpus partitioned by centroid) or
    :func:`lsh_ann_buckets` (bucket-collision equi-join).
    """
    _STATS_UNKNOWN = (1 << 62)
    projected = df.select(id_col, vec_col)
    stat = int(
        projected._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    if stat < _STATS_UNKNOWN:
        est = 4 * stat
    else:
        probe = projected.select(vec_col).first()
        dim = len(probe[0]) if probe and probe[0] is not None else 0
        est = projected.count() * (dim * 8 + 16)
    if est > max_broadcast_bytes:
        raise ValueError(
            f"{op}: corpus projection estimated at ~{est / 2**20:.0f} MiB "
            f"in memory exceeds the broadcast budget of "
            f"{max_broadcast_bytes / 2**20:.0f} MiB. The broadcast-matrix tier "
            "is exact but requires the corpus to fit in executor memory; use "
            "ivf_topk (IVF: centroid-bucketed, file-prunable) or "
            "lsh_ann_buckets (LSH: bucket equi-join) for corpora beyond it, "
            "or raise max_broadcast_bytes explicitly."
        )
    pdf = projected.toPandas()
    ids = pdf[id_col].to_numpy()
    matrix = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(matrix, axis=1)
    return ids, matrix, norms


def brute_knn(
    df: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 6,
    max_broadcast_bytes: int = DEFAULT_BROADCAST_BUDGET_BYTES,
) -> DataFrame:
    """Exact top-k cosine neighbors per vector (self excluded).

    Ties broken by (similarity desc, neighbor id asc) — deterministic and
    oracle-matchable. Math in float64. Raises ValueError (pointing at the
    IVF/LSH tiers) when the corpus exceeds ``max_broadcast_bytes``.
    """
    spark = df.sparkSession
    ids, matrix, norms = _collect_corpus(
        df, id_col, vec_col, max_broadcast_bytes, "brute_knn"
    )
    bc = spark.sparkContext.broadcast((ids, matrix, norms))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_ids, c_mat, c_norms = bc.value
        for pdf_b in batches:
            q = np.stack(pdf_b[vec_col].to_numpy()).astype(np.float64)
            q_ids = pdf_b[id_col].to_numpy()
            sims = (q @ c_mat.T) / (np.linalg.norm(q, axis=1)[:, None] * c_norms[None, :])
            # self excluded; rank rows by (-sim, nbr_id) fully in C.
            # argpartition narrows each row to a k+64 candidate window
            # (O(n) instead of the O(n log n) full-row sort), then one
            # small 2D lexsort applies the exact (sim desc, id asc)
            # tie-break inside the window. Exactness guard: if a row's
            # k-th ranked sim equals the window's minimum, a tie COULD
            # span the window boundary — those rows (vanishingly rare
            # on real-valued sims) fall back to the full-row lexsort,
            # so the result is bit-identical to the naive sort always.
            np.copyto(sims, -np.inf, where=q_ids[:, None] == c_ids[None, :])
            m, n = sims.shape
            k2 = min(n, k + 64)
            if k2 < n:
                idx2 = np.argpartition(-sims, k2 - 1, axis=1)[:, :k2]
                subs = np.take_along_axis(sims, idx2, axis=1)
                o = np.lexsort((c_ids[idx2], -subs), axis=-1)[:, :k]
                order = np.take_along_axis(idx2, o, axis=1)
                kth = np.take_along_axis(subs, o[:, -1:], axis=1)[:, 0]
                unsafe = kth <= subs.min(axis=1)
                if unsafe.any():
                    full = np.lexsort(
                        (
                            np.broadcast_to(c_ids, sims[unsafe].shape),
                            -sims[unsafe],
                        ),
                        axis=-1,
                    )[:, :k]
                    order[unsafe] = full
            else:
                order = np.lexsort(
                    (np.broadcast_to(c_ids, sims.shape), -sims), axis=-1
                )[:, :k]
            n_top = order.shape[1]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n_top).astype(np.int64),
                    "nbr_id": c_ids[order].ravel().astype(np.int64),
                    "sim": np.round(
                        np.take_along_axis(sims, order, axis=1).ravel(),
                        sim_decimals,
                    ),
                    "rank": np.tile(
                        np.arange(1, n_top + 1, dtype=np.int64), m
                    ),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        score, "query_id bigint, nbr_id bigint, sim double, rank bigint"
    )


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 6,
    max_broadcast_bytes: int = DEFAULT_BROADCAST_BUDGET_BYTES,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (d1, d2, sim) for all pairs
    with cosine ≥ threshold and d1 < d2 — the semantic-dedup tier.

    Same broadcast-matrix mapInPandas pattern as brute_knn: each Arrow
    batch of query rows does one BLAS matmul against the corpus and emits
    only above-threshold pairs, so output (not the N² matrix) hits the
    shuffle. Raises ValueError beyond ``max_broadcast_bytes`` — at that
    scale run it per LSH/IVF bucket instead.
    """
    spark = df.sparkSession
    ids, matrix, norms = _collect_corpus(
        df, id_col, vec_col, max_broadcast_bytes, "cosine_neardup_pairs"
    )
    bc = spark.sparkContext.broadcast((ids, matrix, norms))

    def pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_ids, c_mat, c_norms = bc.value
        for pdf_b in batches:
            q = np.stack(pdf_b[vec_col].to_numpy()).astype(np.float64)
            q_ids = pdf_b[id_col].to_numpy()
            sims = (q @ c_mat.T) / (np.linalg.norm(q, axis=1)[:, None] * c_norms[None, :])
            # keep d1 < d2 and sim >= threshold, vectorized
            mask = (sims >= threshold) & (q_ids[:, None] < c_ids[None, :])
            qi, ci = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "d1": q_ids[qi].astype(np.int64),
                    "d2": c_ids[ci].astype(np.int64),
                    "sim": np.round(sims[qi, ci], sim_decimals),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(pairs, "d1 bigint, d2 bigint, sim double")


def _train_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int,
    seed: int,
    kmeans_iters: int,
    sample_rows: int,
) -> np.ndarray:
    """Deterministic bounded-sample k-means (driver-side numpy) shared
    by every IVF tier.

    The training sample is the top-``sample_rows`` rows by id: Catalyst
    executes orderBy+limit as TakeOrderedAndProject (per-partition heap
    + driver merge — one linear scan, NO full sort), so the sample is
    order-stable across runs, partitionings, and AQE decisions. A bare
    ``limit()`` on a distributed scan is not deterministic (r7 ADVICE),
    which would silently break the deterministic-seed contract the
    registry oracles grade against. Returns unit-normalized centroids.
    """
    sample = (
        df.select(id_col, vec_col).orderBy(id_col).limit(sample_rows).toPandas()
    )
    mat = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    n_clusters = min(n_clusters, len(mat))
    rng = np.random.RandomState(seed)
    centroids = mat[rng.choice(len(mat), size=n_clusters, replace=False)]
    for _ in range(kmeans_iters):
        assign = np.argmax(mat @ centroids.T, axis=1)
        for c in range(n_clusters):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        centroids = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    return centroids


def _member_schema(df: DataFrame, id_col: str, vec_col: str) -> str:
    """Derive the (cluster_id, id, vec) mapInPandas schema from the
    input frame — a hardcoded ``bigint``/``array<float>`` fails string
    ids and silently narrows double vectors (r7 ADVICE)."""
    id_t = df.schema[id_col].dataType.simpleString()
    vec_t = df.schema[vec_col].dataType.simpleString()
    return f"cluster_id int, {id_col} {id_t}, {vec_col} {vec_t}"


def ivf_topk(
    df: DataFrame,
    k: int = 3,
    n_clusters: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    kmeans_iters: int = 5,
    sample_rows: int = 20_000,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k cosine neighbors — the
    similarity-search scale path when the corpus no longer broadcasts.

    1. Train ``n_clusters`` centroids with a few k-means iterations on a
       bounded sample (driver-side numpy, deterministic seed).
    2. Assign every vector to its nearest centroid → ``cluster_id``
       (one mapInPandas; at 100 TB this is the partition/bucket key the
       corpus is WRITTEN under, so probes prune files).
    3. Each query probes its ``n_probe`` nearest centroids; candidates
       meet per-cluster via cogroup and one local BLAS matmul.
    4. Global top-k per query via the row_number idiom over per-cluster
       candidates (≤ n_probe·k rows per query reach the final window).

    Approximate (recall < 1 when the true neighbor lives outside probed
    clusters) → its registry key carries a recall-CONTRACT oracle
    (recall@3 ≥ 0.5 vs the exact answer, evaluated in SQL); recall vs
    brute force is additionally asserted in tests.
    """
    spark = df.sparkSession
    centroids = _train_centroids(
        df, id_col, vec_col, n_clusters, seed, kmeans_iters, sample_rows
    )
    bc = spark.sparkContext.broadcast(centroids)

    def assign_members(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        for pdf_b in batches:
            v = np.stack(pdf_b[vec_col].to_numpy()).astype(np.float64)
            v = v / np.linalg.norm(v, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "cluster_id": np.argmax(v @ cents.T, axis=1).astype(np.int32),
                    id_col: pdf_b[id_col],
                    vec_col: pdf_b[vec_col],
                }
            )

    def assign_probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        for pdf_b in batches:
            v = np.stack(pdf_b[vec_col].to_numpy()).astype(np.float64)
            v = v / np.linalg.norm(v, axis=1, keepdims=True)
            order = np.argsort(-(v @ cents.T), axis=1)[:, :n_probe]
            n = len(pdf_b)
            yield pd.DataFrame(
                {
                    "cluster_id": order.reshape(-1).astype(np.int32),
                    id_col: np.repeat(pdf_b[id_col].to_numpy(), n_probe),
                    vec_col: [pdf_b[vec_col].iloc[i] for i in np.repeat(np.arange(n), n_probe)],
                }
            )

    schema = _member_schema(df, id_col, vec_col)
    members = df.select(id_col, vec_col).mapInPandas(assign_members, schema)
    probes = df.select(id_col, vec_col).mapInPandas(assign_probes, schema)

    def local_topk(key, qpdf: pd.DataFrame, mpdf: pd.DataFrame) -> pd.DataFrame:
        if qpdf.empty or mpdf.empty:
            return pd.DataFrame({"query_id": [], "nbr_id": [], "sim": []})
        q = np.stack(qpdf[vec_col].to_numpy()).astype(np.float64)
        m = np.stack(mpdf[vec_col].to_numpy()).astype(np.float64)
        sims = (q @ m.T) / (
            np.linalg.norm(q, axis=1)[:, None] * np.linalg.norm(m, axis=1)[None, :]
        )
        q_ids = qpdf[id_col].to_numpy()
        m_ids = mpdf[id_col].to_numpy()
        out_q, out_n, out_s = [], [], []
        for i, qid in enumerate(q_ids):
            s = np.where(m_ids == qid, -np.inf, sims[i])
            top = np.lexsort((m_ids, -s))[: min(k, len(m_ids))]
            keep = s[top] > -np.inf
            out_q.extend([qid] * int(keep.sum()))
            out_n.extend(m_ids[top][keep])
            out_s.extend(s[top][keep])
        return pd.DataFrame(
            {
                "query_id": pd.array(out_q, dtype="int64"),
                "nbr_id": pd.array(out_n, dtype="int64"),
                "sim": pd.array(np.round(np.asarray(out_s, dtype=np.float64), 6), dtype="float64"),
            }
        )

    candidates = (
        probes.groupBy("cluster_id")
        .cogroup(members.groupBy("cluster_id"))
        .applyInPandas(local_topk, "query_id bigint, nbr_id bigint, sim double")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("nbr_id"))
    return (
        candidates.dropDuplicates(["query_id", "nbr_id"])
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ivf_semantic_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    target_cluster_rows: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    kmeans_iters: int = 5,
    sample_rows: int = 20_000,
    sim_decimals: int = 6,
    n_assign: int = 2,
) -> DataFrame:
    """Within-cluster cosine pairs with the cluster count scaled to the
    corpus — the SemDeDup shape [PK: Abbas et al. 2023,
    arXiv:2303.09540] and the LINEAR-by-construction production path
    for semantic dedup.

    Every pair generator over a fixed radius is Ω(#pairs), and both the
    exact tier (``cosine_neardup_pairs``) and the LSH tier
    (``lsh_ann_buckets``) densify quadratically on a fixed distribution
    (r7 probes). This operator bounds the work structurally instead:
    ``n_clusters = n / target_cluster_rows`` grows WITH the corpus, each
    vector is compared only within its cluster, so total pair work is
    Σ bᵢ² ≈ n·target_cluster_rows — linear in n at a constant per-row
    cost, regardless of radius. The price is recall: pairs straddling a
    cluster boundary are missed (SemDeDup's documented trade; measured
    in tests/test_invariants_r7.py). ``n_assign`` soft-assigns each
    vector to its top-N centroids (multi-probe), recovering boundary
    pairs that share ANY of the assigned cells at an N× work constant —
    still linear; duplicate emissions are dropped on (d1, d2). Emitted
    pairs carry EXACT cosine (each cluster does one local BLAS matmul),
    so the output is a subset of the exact pair set by construction.

    Driver state is O(n_clusters·dim) for the centroid broadcast
    (k-means on a bounded sample, deterministic seed); at corpus sizes
    where that broadcast itself is data-sized, train hierarchically
    (coarse quantizer → per-cell k-means) — the per-cluster stage is
    unchanged.
    """
    spark = df.sparkSession
    n = df.count()
    n_clusters = max(4, -(-n // target_cluster_rows))
    centroids = _train_centroids(
        df, id_col, vec_col, n_clusters, seed, kmeans_iters, sample_rows
    )
    n_clusters = len(centroids)
    bc = spark.sparkContext.broadcast(centroids)

    n_soft = max(1, min(n_assign, n_clusters))

    def assign_members(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        for pdf_b in batches:
            v = np.stack(pdf_b[vec_col].to_numpy()).astype(np.float64)
            v = v / np.linalg.norm(v, axis=1, keepdims=True)
            order = np.argsort(-(v @ cents.T), axis=1)[:, :n_soft]
            nrows = len(pdf_b)
            yield pd.DataFrame(
                {
                    "cluster_id": order.reshape(-1).astype(np.int32),
                    id_col: np.repeat(pdf_b[id_col].to_numpy(), n_soft),
                    vec_col: [
                        pdf_b[vec_col].iloc[i]
                        for i in np.repeat(np.arange(nrows), n_soft)
                    ],
                }
            )

    schema = _member_schema(df, id_col, vec_col)
    members = df.select(id_col, vec_col).mapInPandas(assign_members, schema)

    def local_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"d1": [], "d2": [], "sim": []})
        v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(v, axis=1)
        sims = (v @ v.T) / (norms[:, None] * norms[None, :])
        ids = pdf[id_col].to_numpy()
        mask = (sims >= threshold) & (ids[:, None] < ids[None, :])
        i, j = np.nonzero(mask)
        return pd.DataFrame(
            {
                "d1": ids[i],
                "d2": ids[j],
                "sim": np.round(sims[i, j], sim_decimals),
            }
        )

    id_t = df.schema[id_col].dataType.simpleString()
    pairs = members.groupBy("cluster_id").applyInPandas(
        local_pairs, f"d1 {id_t}, d2 {id_t}, sim double"
    )
    # soft assignment can emit the same pair from up to n_soft shared
    # cells; sims are exact so duplicates are identical rows
    return pairs.dropDuplicates(["d1", "d2"]) if n_soft > 1 else pairs


def _assign_members_df(
    df: DataFrame, centroids: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    """(cluster_id, id, vec) assignment of every vector to its nearest
    centroid — one Arrow-batched BLAS pass, map-only. Deterministic
    given ``centroids``, which is what makes an incremental member
    append (:func:`ivf_upsert_index`) row-identical to re-assigning the
    full corpus against the same centroid table."""
    bc = df.sparkSession.sparkContext.broadcast(centroids)

    def assign_members(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cents = bc.value
        for pdf_b in batches:
            v = np.stack(pdf_b[vec_col].to_numpy()).astype(np.float64)
            v = v / np.linalg.norm(v, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "cluster_id": np.argmax(v @ cents.T, axis=1).astype(np.int32),
                    id_col: pdf_b[id_col],
                    vec_col: pdf_b[vec_col],
                }
            )

    schema = _member_schema(df, id_col, vec_col)
    return df.select(id_col, vec_col).mapInPandas(assign_members, schema)


def ivf_upsert_index(
    spark,
    path: str,
    new_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """INCREMENTAL maintenance of a persisted IVF index
    (:func:`ivf_build_index`): assign a batch of NEW vectors against the
    STORED centroid table and APPEND them to their member partitions —
    the standard IVF lifecycle (FAISS `add`): centroids stay fixed
    between periodic retrains, inserts are cluster-local appends.

    Cost ∝ |batch| (one BLAS assignment pass + an append touching only
    the batch's clusters); the corpus members are never read. Invariant
    (tests/test_invariants_r9.py): query results after upsert ==
    results after assigning the FULL corpus against the same centroids,
    because assignment is deterministic per-vector and
    :func:`ivf_query_index` is order-free over member rows. (A full
    REBUILD additionally retrains centroids on the grown corpus — a
    different, periodic operation; partition quality degrades as the
    un-retrained fraction grows, which is the documented trade.)

    Precondition: batch ids must be NEW — an id already in the index
    would be duplicated (dedup upstream; the admission flow does).
    Publishes as an atomic generation commit (single-writer via the
    store lease; readers see the pre- or post-upsert index, never a
    torn batch — operators/maintenance.store_generation)."""
    with store_generation(path, "ivf_upsert_index") as gen:
        cents = load_centroids(open_store_snapshot(path))
        write_partitioned(
            _assign_members_df(new_df, cents, id_col, vec_col),
            os.path.join(gen, "members"), ["cluster_id"], [id_col], "append",
            n_rows=row_bound(new_df, 1),
        )


def ivf_delete_index(
    spark,
    path: str,
    del_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """INCREMENTAL deletion from a persisted IVF index — the retention
    counterpart of :func:`ivf_upsert_index`. Its locate step assigns
    the deletion batch against the STORED centroids (deterministic, so
    each row's cluster is exactly where it was written); ``del_df``
    carries (id, vector) because the cluster is a function of the
    vector. Invariant: members == same-centroid assignment of corpus \\
    batch. The protocol (lease, pruned anti-join, emptied-partition
    drop, atomic publish; local paths only) is
    :func:`~.maintenance.delete_partition_local`."""
    delete_partition_local(
        spark, path, "ivf_delete_index", "members", ["cluster_id"], [id_col],
        id_col,
        lambda: _assign_members_df(
            del_df, load_centroids(open_store_snapshot(path)), id_col, vec_col
        ),
    )


def load_centroids(snap) -> np.ndarray:
    """The (n_clusters, dim) centroid matrix of an IVF or IVFPQ store
    snapshot (:class:`~.maintenance.StoreSnapshot`), row ``i`` =
    ``cluster_id`` i — a driver-side pyarrow read, no Spark job."""
    rows = snap.rows("centroids")
    cents = np.zeros((len(rows), len(rows[0].centroid)))
    for r in rows:
        cents[r.cluster_id] = r.centroid
    return cents


def _write_centroids(spark, centroids: np.ndarray, dest: str) -> None:
    """Write the centroid table (``cluster_id``, ``centroid``) that
    :func:`load_centroids` reads."""
    spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cluster_id int, centroid array<double>",
    ).write.mode("overwrite").parquet(dest)


def _cluster_occupancy(df: DataFrame) -> dict[int, int]:
    """Rows per ``cluster_id`` — one engine-side aggregate, an
    O(n_clusters) driver result."""
    return {
        int(r.cluster_id): int(r.n)
        for r in df.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def _occupancy_skew(occ: dict[int, int]) -> float:
    """max/mean cluster size (0.0 for an empty index)."""
    if not occ:
        return 0.0
    vals = list(occ.values())
    return max(vals) / (sum(vals) / len(vals))


def _retrain_drift(
    old_cents: np.ndarray,
    new_cents: np.ndarray,
    occ_before: dict[int, int],
    occ_after: dict[int, int],
) -> dict:
    """The retrain drift report shared by the IVF and IVFPQ retrains:
    each OLD centroid's cosine distance to the nearest NEW one (ids
    permute across retrains; nearest-match is the stable comparison —
    O(k²) driver numpy, k ≤ dozens by design) and the occupancy skew
    before vs after."""
    shift = 1.0 - (old_cents @ new_cents.T).max(axis=1)
    return {
        "centroid_shift_mean": float(np.round(shift.mean(), 6)),
        "centroid_shift_max": float(np.round(shift.max(), 6)),
        "occupancy_skew_before": float(np.round(_occupancy_skew(occ_before), 4)),
        "occupancy_skew_after": float(np.round(_occupancy_skew(occ_after), 4)),
    }


def ivf_build_index(
    df: DataFrame,
    path: str,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    kmeans_iters: int = 5,
    sample_rows: int = 20_000,
) -> None:
    """Materialize a REUSABLE IVF index: train centroids once (bounded
    sample, deterministic seed), assign every vector, and write

    - ``{path}/members`` — (id, vec) PARTITIONED BY cluster_id, so a
      probe of p clusters physically reads p/n_clusters of the corpus
      (partition pruning — the on-disk layout IS the index);
    - ``{path}/centroids`` — the n_clusters centroid vectors.

    This is the build-once/probe-many shape a 100 TB vector corpus
    needs: training cost is paid once, every query session afterwards
    loads |centroids| floats and prunes the member scan."""
    from flink_quickstart_spark.operators.maintenance import (
        reset_store_generations,
        write_store_manifest,
    )

    reset_store_generations(path)  # rebuild over a mutated store: see docstring
    spark = df.sparkSession
    centroids = _train_centroids(
        df, id_col, vec_col, n_clusters, seed, kmeans_iters, sample_rows
    )
    # unshuffled corpus write: repartition(cluster_id) would cap it at
    # n_clusters tasks
    (
        _assign_members_df(df, centroids, id_col, vec_col)
        .write.mode("overwrite")
        .partitionBy("cluster_id")
        .parquet(f"{path}/members")
    )
    _write_centroids(spark, centroids, f"{path}/centroids")
    write_store_manifest(path)  # stamp generation 0's file list (r12)


def ivf_drift_stats(
    spark,
    path: str,
    sample_rows: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """READ-ONLY drift monitor for a persisted IVF index — the signal
    that decides WHEN to run :func:`ivf_retrain_index` (the retrain
    itself is linear in corpus, so a deployment triggers it on
    evidence, not on a blind schedule):

    - ``occupancy_skew`` — max/mean member count per cluster (full
      groupBy count over the members — one columnar aggregate); a
      growing skew means upserts are crowding stale centroids;
    - ``qerr_mean`` / ``qerr_p95`` — quantization error
      (1 − cos(v, assigned centroid)) over a bounded DETERMINISTIC
      member sample (orderBy(id).limit — one scan of sample_rows rows,
      Arrow-batched numpy); rising error means the centroids no longer
      describe the corpus and recall at fixed n_probe is decaying.

    Returns the dict; costs one aggregate + one bounded sample scan —
    cheap enough for a per-ingest-day health check. The
    monitor → threshold → retrain loop is wired in
    examples/index_maintenance_job.py; the signal's behavior under
    real drift (fresh ≈ low, post-drift ↑, post-retrain ↓) is pinned
    in tests/test_invariants_r10.py."""
    snap = open_store_snapshot(path)  # one resolve = one consistent snapshot
    cents = load_centroids(snap)
    members = snap.read(spark, "members")
    occ = _cluster_occupancy(members)
    sample = (
        members.select(id_col, vec_col, "cluster_id")
        .orderBy(id_col)
        .limit(sample_rows)
        .toPandas()
    )
    v = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    assigned = cents[sample["cluster_id"].to_numpy()]
    qerr = 1.0 - (v * assigned).sum(axis=1)
    return {
        "n_clusters": len(cents),
        "n_members": int(sum(occ.values())),
        "occupancy_skew": float(np.round(_occupancy_skew(occ), 4)),
        "qerr_mean": float(np.round(qerr.mean(), 6)),
        "qerr_p95": float(np.round(np.percentile(qerr, 95), 6)),
    }


def ivf_retrain_index(
    spark,
    path: str,
    n_clusters: int | None = None,
    seed: int = 42,
    kmeans_iters: int = 5,
    sample_rows: int = 20_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """PERIODIC centroid retrain + member reassignment — the missing
    limb of the FAISS lifecycle (train → add → **retrain**; VERDICT r9
    #1): :func:`ivf_upsert_index` assigns new vectors against the
    STORED centroids forever, so under distribution drift the partition
    quality (and recall at fixed n_probe) decays with no signal. This
    op closes the loop:

    1. **retrain** — re-run the bounded-sample deterministic k-means
       (:func:`_train_centroids`, same seed/sample discipline as the
       build) on the GROWN corpus, read from the index's own member
       table (the index owns its vectors — no source rescan needed);
    2. **reassign** — ONE linear Arrow-batched BLAS pass over the
       members (:func:`_assign_members_df` against the new centroids);
    3. **atomic publish** — the new members/centroids are written
       fresh into the next GENERATION and published by one pointer
       flip (operators/maintenance.store_generation), so a reader
       never observes mixed centroids/members — or any intermediate
       state at all — and a crash before the flip leaves the old
       index untouched;
    4. **drift report** — returned dict: per-old-centroid shift to its
       nearest new centroid (mean/max cosine distance — the drift
       magnitude that motivated the retrain) and member-occupancy skew
       (max/mean cluster size) before vs after (retraining on the true
       distribution re-balances clusters, which is what restores
       recall at fixed n_probe).

    Determinism contract (the q_llm_ivf_retrain oracle): the training
    sample is orderBy(id).limit(sample_rows) over the member table —
    the same rows, in the same order, as a FRESH
    :func:`ivf_build_index` on the grown corpus would sample, so
    retrain(upserted index) is bit-identical (centroids) and
    row-identical (members) to a from-scratch rebuild with the same
    seed. Cost: linear in corpus (sample + one assignment pass + one
    partitioned write) — the periodic op; upserts stay batch-priced
    between retrains. Atomic generation commit (single-writer via the
    store lease; local paths — the publish is a pointer flip)."""
    with store_generation(
        path, "ivf_retrain_index", replace_subdirs=("members", "centroids")
    ) as gen:
        old_cents = load_centroids(open_store_snapshot(path))
        k = n_clusters if n_clusters is not None else len(old_cents)

        members_dir = store_data_dir(path, "members")
        members = spark.read.parquet(members_dir).select(id_col, vec_col)
        occ_before = _cluster_occupancy(spark.read.parquet(members_dir))
        new_cents = _train_centroids(
            members, id_col, vec_col, k, seed, kmeans_iters, sample_rows
        )

        # the retrain replaces BOTH subdirs, so they are written fresh
        # into the staged generation (replace_subdirs skipped the clone)
        # — the former staging/trash rename dance is subsumed by the
        # generation publish. Unshuffled corpus write: repartition
        # (cluster_id) would cap it at n_clusters tasks.
        reassigned = _assign_members_df(members, new_cents, id_col, vec_col)
        (
            reassigned.write.mode("overwrite")
            .partitionBy("cluster_id")
            .parquet(os.path.join(gen, "members"))
        )
        _write_centroids(spark, new_cents, os.path.join(gen, "centroids"))

        occ_after = _cluster_occupancy(
            spark.read.parquet(os.path.join(gen, "members"))
        )
        return {
            "n_clusters": int(len(new_cents)),
            "n_members": int(sum(occ_after.values())),
            **_retrain_drift(old_cents, new_cents, occ_before, occ_after),
        }


def source_fingerprint(path: str) -> str:
    """Cheap metadata-only identity of a parquet file/dir: sha256 over
    sorted (relative name, size, mtime_ns) of every data file. Used to
    INVALIDATE persisted indexes — a build-once index keyed only on the
    source path silently serves stale vectors after the source is
    re-staged in place (r7 ADVICE, medium)."""
    import hashlib
    import os

    h = hashlib.sha256()
    if os.path.isdir(path):
        for root, _dirs, files in sorted(os.walk(path)):
            for f in sorted(files):
                fp = os.path.join(root, f)
                st = os.stat(fp)
                rel = os.path.relpath(fp, path)
                h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns};".encode())
    else:
        st = os.stat(path)
        h.update(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def _ensure_index(build, path: str, source_path: str, ready_subdir: str) -> bool:
    """Shared build-or-reuse guard for persisted indexes: (re)build when
    the index is absent OR its recorded source fingerprint no longer
    matches ``source_path`` (re-staged data, or two source dirs hashing
    to the same index path — r7 ADVICE, medium). Returns True when a
    (re)build ran. The fingerprint is written atomically AFTER a
    successful build, so a crashed build can never pass the check."""
    import os

    fp = source_fingerprint(source_path)
    marker = os.path.join(path, "_source_fingerprint")
    if os.path.exists(os.path.join(path, ready_subdir)) and os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == fp:
                return False
    build()
    tmp = marker + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(fp)
    os.replace(tmp, marker)
    return True


def ensure_ivf_index(
    df: DataFrame,
    path: str,
    source_path: str,
    n_clusters: int = 16,
    **build_kwargs,
) -> bool:
    """Fingerprint-guarded :func:`ivf_build_index` (see :func:`_ensure_index`)."""
    return _ensure_index(
        lambda: ivf_build_index(df, path, n_clusters=n_clusters, **build_kwargs),
        path,
        source_path,
        "centroids",
    )


# ---------------------------------------------------------------------------
# Persisted LSH index — the capped, fixed-batch production shape for
# radius search (the LSH twin of ivf_build_index/ivf_query_index).
# ---------------------------------------------------------------------------


def _lsh_projections(dim: int, num_tables: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    dirs = rng.normal(size=(num_tables, dim))
    return dirs / np.linalg.norm(dirs, axis=1, keepdims=True)


def _band_bucket_cols(vec_col: str, dirs: np.ndarray, bucket_length: float):
    """One (band_id, bucket) struct per hash table: bucket =
    floor((v·r)/L), the BucketedRandomProjectionLSH quantization, as a
    zip_with+aggregate expression — whole-stage codegen, zero Python."""
    cols = []
    for b, r in enumerate(dirs):
        proj = F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.array(*[F.lit(float(x)) for x in r]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append(
            F.struct(
                F.lit(b).cast("int").alias("band_id"),
                F.floor(proj / F.lit(float(bucket_length))).cast("int").alias("bucket"),
            )
        )
    return cols


def _banded(
    df: DataFrame, id_col: str, vec_col: str, dirs: np.ndarray, bucket_length: float
) -> DataFrame:
    """(id, vec, band_id, bucket): one row per vector × hash table."""
    bands = _band_bucket_cols(vec_col, dirs, bucket_length)
    return df.select(id_col, vec_col, F.explode(F.array(*bands)).alias("_bb")).select(
        id_col,
        vec_col,
        F.col("_bb.band_id").alias("band_id"),
        F.col("_bb.bucket").alias("bucket"),
    )


def _load_projections(snap) -> tuple[np.ndarray, float]:
    """(directions, bucket_length) of an LSH index snapshot
    (:class:`~.maintenance.StoreSnapshot`) — a driver-side pyarrow read
    of the O(num_tables)-row projection table, no Spark job."""
    rows = snap.rows("projections")
    dirs = np.zeros((len(rows), len(rows[0].direction)))
    for r in rows:
        dirs[r.band_id] = r.direction
    return dirs, float(rows[0].bucket_length)


def _assign_pos(banded: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Deterministic per-bucket posting positions over (id, vec, band_id,
    bucket) rows — the salt-sharded scheme documented on
    :func:`lsh_build_index`. The computation is PURELY per-bucket (rank
    within (band, bucket, salt) shards + a prefix-sum of shard counts
    over the ≤ n_salts rows of that bucket), so recomputing it over any
    SUBSET of buckets yields exactly the positions a full rebuild would
    assign those buckets — the property :func:`lsh_upsert_index` relies
    on for its upsert == rebuild invariant."""
    n_salts = 64
    salted = banded.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts)).cast("int")
    )
    w_local = Window.partitionBy("band_id", "bucket", "_salt").orderBy(
        F.xxhash64(F.col(id_col)), F.col(id_col)
    )
    local = salted.withColumn("_lpos", F.row_number().over(w_local))
    # per-(band,bucket,salt) counts → exclusive prefix sum over the ≤64
    # salt rows per bucket → the shard's global offset within its bucket
    w_off = (
        Window.partitionBy("band_id", "bucket")
        .orderBy("_salt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        salted.groupBy("band_id", "bucket", "_salt")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn("_off", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)))
        .select("band_id", "bucket", "_salt", "_off")
    )
    return local.join(
        offsets.hint("shuffle_hash"), ["band_id", "bucket", "_salt"]
    ).select(
        id_col,
        vec_col,
        "band_id",
        "bucket",
        (F.col("_off") + F.col("_lpos")).cast("int").alias("pos"),
    )


def lsh_build_index(
    df: DataFrame,
    path: str,
    num_tables: int = 4,
    bucket_length: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Materialize a REUSABLE random-projection LSH index for radius
    search — the capped production twin of the all-pairs
    :func:`lsh_ann_buckets` contract path (VERDICT r7 #1):

    - ``{path}/postings`` — one (id, vec, pos) row per (vector × hash
      table), PARTITIONED BY (band_id, bucket) so a query batch's
      bucket probes prune to the matching directories, with ``pos`` a
      deterministic per-bucket position (row_number over xxhash64(id),
      files sorted by pos) so a query-time posting cap ``pos <= C``
      prunes at the parquet page level (column-index stats) instead of
      scanning the whole bucket;
    - ``{path}/projections`` — the random unit directions + bucket
      length (deterministic from ``seed``), so query sessions recompute
      the same buckets.

    Storage is ``num_tables`` × corpus (each table carries the vectors
    inline) — the classic LSH space-for-pruning trade; probes then read
    ONLY their bucket partitions, no second corpus join. Params default
    to the r7-tuned (0.25 = 2σ for unit dim-64 data, 4 tables → pair
    recall 0.95 measured).

    ``pos`` assignment is SALT-SHARDED (r8): a plain per-bucket
    row_number window puts each bucket in ONE task, and with L = 2σ the
    densest bucket holds a double-digit share of the corpus — a
    single-task sort of corpus-mass data, the exact shape that cannot
    survive 100 TB. Instead: rank locally within (band, bucket, salt)
    for ``n_salts`` hash salts (max task = bucket/n_salts), count each
    salt group, prefix-sum the counts over the ≤ n_salts rows per
    bucket (tiny window), and add the offset back — pos is the same
    deterministic 1..|bucket| permutation class (hash-ordered within
    salt shards, shards concatenated in salt order), so the query-side
    cap still takes an unbiased hash sample and page pruning still
    applies.
    """
    from flink_quickstart_spark.operators.maintenance import (
        reset_store_generations,
        write_store_manifest,
    )

    reset_store_generations(path)  # rebuild over a mutated store: see docstring
    spark = df.sparkSession
    first = df.select(F.size(vec_col)).first()
    dim = int(first[0]) if first and first[0] is not None else 0
    dirs = _lsh_projections(dim, num_tables, seed)
    write_partitioned(
        _assign_pos(_banded(df, id_col, vec_col, dirs, bucket_length), id_col, vec_col),
        f"{path}/postings", ["band_id", "bucket"], ["pos"], "overwrite",
        n_rows=row_bound(df, num_tables),
    )
    spark.createDataFrame(
        [
            (int(b), [float(x) for x in r], float(bucket_length))
            for b, r in enumerate(dirs)
        ],
        "band_id int, direction array<double>, bucket_length double",
    ).write.mode("overwrite").parquet(f"{path}/projections")
    write_store_manifest(path)  # stamp generation 0's file list (r12)


def ensure_lsh_index(
    df: DataFrame, path: str, source_path: str, **build_kwargs
) -> bool:
    """Fingerprint-guarded :func:`lsh_build_index` (see :func:`_ensure_index`)."""
    return _ensure_index(
        lambda: lsh_build_index(df, path, **build_kwargs),
        path,
        source_path,
        "projections",
    )


def lsh_upsert_index(
    spark,
    path: str,
    new_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_combos: int = MAX_AFFECTED_COMBOS,
) -> None:
    """INCREMENTAL maintenance of a persisted LSH index
    (:func:`lsh_build_index`): merge a batch of NEW vectors into the
    existing postings without rebuilding — the real 100 TB lifecycle,
    where a daily 0.1% ingest must never pay a full-corpus rebuild
    (VERDICT r8 #1).

    Shape: band the batch with the STORED projections (so the same
    quantization the index was built with), collect the affected
    (band, bucket) combos (driver-bounded: ≤ |batch| × num_tables rows),
    read ONLY those bucket partitions back (static partition pruning),
    union in the new rows, re-run the per-bucket pos assignment
    (:func:`_assign_pos` — purely bucket-local, so the recomputed
    positions are exactly what a full rebuild would assign), and
    dynamically overwrite ONLY the affected partitions. Untouched
    buckets are never read or written.

    Cost ∝ |batch| × num_tables × (occupancy of the touched buckets) —
    independent of corpus size. Invariant (pinned in
    tests/test_invariants_r9.py and the q_llm_lsh_upsert oracle):
    upsert(build(corpus), batch) is ROW-IDENTICAL to
    build(corpus ∪ batch), because projections are seed-deterministic
    and pos assignment is bucket-local and order-free.

    Preconditions: batch ids must be NEW (an id already in the index
    would be duplicated — dedup upstream; the admission flow does);
    the batch plan is materialized internally (localCheckpoint) so the
    prune-set collection and the merge see identical rows even for a
    nondeterministic input plan (r8 ADVICE class). Publishes as an
    atomic generation commit (single-writer via the store lease;
    readers see the pre- or post-upsert index, never a torn batch)."""
    from flink_quickstart_spark.operators.iterative import _release

    part_cols = ["band_id", "bucket"]
    with store_generation(path, "lsh_upsert_index") as gen:
        dirs, bucket_length = _load_projections(open_store_snapshot(path))
        new_rows = _banded(
            new_df, id_col, vec_col, dirs, bucket_length
        ).localCheckpoint(eager=True)
        try:  # from here the checkpoint blocks are always _release'd,
            # including the empty-batch early return (r9 ADVICE)
            combos = [
                (int(r.band_id), int(r.bucket))
                for r in _collect_combos_budgeted(
                    new_rows.select(*part_cols), max_combos, "lsh_upsert_index"
                )
            ]
            if not combos:
                # empty batch: nothing to merge — discard the staged
                # generation, index untouched
                raise AbortStoreGeneration
            existing = (
                read_store(spark, path, "postings")
                .where(partition_filter(part_cols, combos))
                .select(id_col, vec_col, *part_cols)
            )
            # size bound: the touched buckets' footer row counts + the batch
            _files, n_existing = _partition_files(
                store_data_dir(path, "postings"),
                [_partition_rel(part_cols, c) for c in combos],
            )
            write_partitioned(
                _assign_pos(existing.unionByName(new_rows), id_col, vec_col),
                os.path.join(gen, "postings"), part_cols, ["pos"], "dynamic",
                n_rows=n_existing + new_rows.count(),
            )
        finally:
            _release(new_rows)  # batch-sized checkpoint blocks, freed eagerly


def lsh_delete_index(
    spark,
    path: str,
    del_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_combos: int = MAX_AFFECTED_COMBOS,
) -> None:
    """INCREMENTAL deletion from a persisted LSH index — the retention /
    right-to-erasure counterpart of :func:`lsh_upsert_index`. Its
    locate step bands the deletion batch with the STORED projections
    (banding is deterministic, so its rows live in exactly those
    (band, bucket) partitions), and the survivors are re-ranked with
    :func:`_assign_pos` (bucket-local, so positions close ranks exactly
    as a rebuild would). ``del_df`` carries (id, vector) — a deletion
    feed fetches the vector from the primary store first; without it,
    locating a row means scanning every bucket. Cost ∝ batch × tables ×
    touched-bucket occupancy. Invariant (tests/test_invariants_r9.py):
    delete(build(corpus), X) is row-identical to build(corpus \\ X),
    and delete ∘ upsert is the identity. The protocol (lease, pruned
    anti-join, emptied-partition drop, atomic publish; local paths
    only) is :func:`~.maintenance.delete_partition_local`."""

    def locate():
        dirs, bucket_length = _load_projections(open_store_snapshot(path))
        return _banded(del_df, id_col, vec_col, dirs, bucket_length).select(
            id_col, "band_id", "bucket"
        )

    delete_partition_local(
        spark, path, "lsh_delete_index", "postings", ["band_id", "bucket"],
        ["pos"], id_col, locate,
        rerank=lambda kept: _assign_pos(kept.drop("pos"), id_col, vec_col),
        max_combos=max_combos,
    )


def lsh_query_index(
    spark,
    path: str,
    queries: DataFrame,
    radius: float = 1.2,
    cap_per_bucket: int = 4096,
    max_matches_per_query: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_decimals: int = 6,
    multi_probe: int = 0,
) -> DataFrame:
    """Radius search of a query batch against a persisted LSH index
    (:func:`lsh_build_index`): load the projection table (O(num_tables)
    driver rows), bucket each query with the same quantization,
    broadcast-join the query buckets against the partitioned posting
    table (partition pruning — only probed (band, bucket) directories
    are touched), exact-rescore candidates with a codegen euclidean
    expression, and keep ``dist <= radius``.

    ``cap_per_bucket`` bounds the work PER PROBED BUCKET regardless of
    corpus size (``pos <= cap`` — posting-list truncation; the pos
    ordering is a deterministic hash, so the cap is an unbiased sample
    of the bucket, and page-level parquet stats on the sorted pos
    column prune the read). That makes a fixed query batch's cost
    linear-bounded by construction: ≤ batch × num_tables × cap exact
    rescores, however large the corpus — the 100 TB shape the
    uncapped all-pairs contract key (q_llm_ann_lsh) cannot give. The
    price is recall on over-full buckets (cap < occupancy), the
    standard truncation trade; size cap to the expected bucket
    occupancy × desired recall. ``max_matches_per_query`` optionally
    bounds the OUTPUT per query (nearest-first, deterministic ties).
    ``multi_probe`` additionally probes the ±k ADJACENT buckets per
    band (classic multi-probe LSH): a pair straddling a quantization
    boundary collides in a neighboring bucket, so probing neighbors
    trades a (2k+1)× probe constant for recall WITHOUT rebuilding the
    index wider — the same knob FAISS exposes as nprobe. Work stays
    bounded: ≤ batch × num_tables × (2k+1) × cap rescores.
    Zero Python in the query path — every stage is JVM codegen.

    PRECONDITION (r8 ADVICE): ``queries`` must be a DETERMINISTIC plan
    — the static partition-prune set is collected from one execution
    and the probe join re-executes it; a bare limit()/sample() without
    an order can yield a prune set that disagrees with the join-side
    rows and silently drop matches. Materialize (localCheckpoint) a
    nondeterministic batch first."""
    snap = open_store_snapshot(path)  # one resolve = one consistent snapshot
    dirs, bucket_length = _load_projections(snap)
    bands = _band_bucket_cols(vec_col, dirs, bucket_length)
    offsets = range(-multi_probe, multi_probe + 1) if multi_probe else (0,)
    qb = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qvec"),
            F.explode(F.array(*[b for b in bands])).alias("_bb"),
        )
        .select(
            "query_id",
            "_qvec",
            F.col("_bb.band_id").alias("band_id"),
            F.explode(
                F.array(*[F.col("_bb.bucket") + F.lit(int(o)) for o in offsets])
            ).alias("bucket"),
        )
    )
    # NOTE: _band_bucket_cols reads ``vec_col`` — queries must carry the
    # same vector column name the index was built with.
    #
    # STATIC partition pruning (r8): DPP does not fire for this join
    # shape (measured: PartitionFilters carried only isnotnull), so the
    # probed (band, bucket) combos are collected from one tiny job over
    # the query batch — ≤ |batch| × num_tables rows, driver-bounded by
    # construction, computed with the SAME JVM expressions the join uses
    # (a driver-side numpy recompute could disagree at bucket boundaries
    # under float reordering) — and applied as a static predicate on the
    # partition columns. The scan then lists only probed directories.
    combos = [tuple(r) for r in qb.select("band_id", "bucket").distinct().collect()]
    postings = snap.read(spark, "postings").where(
        F.col("pos") <= cap_per_bucket
    )
    if combos:
        postings = postings.where(partition_filter(["band_id", "bucket"], combos))
    cand = postings.join(F.broadcast(qb), ["band_id", "bucket"]).where(
        F.col(id_col) != F.col("query_id")
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"),
                F.col("_qvec").cast("array<double>"),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    matches = (
        cand.select(
            "query_id",
            F.col(id_col).alias("nbr_id"),
            F.round(dist, dist_decimals).alias("dist"),
        )
        .where(F.col("dist") <= radius)
        .dropDuplicates(["query_id", "nbr_id"])
    )
    if max_matches_per_query is not None:
        w = Window.partitionBy("query_id").orderBy("dist", "nbr_id")
        matches = (
            matches.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_matches_per_query)
            .drop("_rn")
        )
    return matches


def radius_search(
    df: DataFrame,
    queries: DataFrame,
    radius: float = 1.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_decimals: int = 6,
    max_broadcast_bytes: int = DEFAULT_BROADCAST_BUDGET_BYTES,
) -> DataFrame:
    """EXACT within-radius (euclidean) search of a BOUNDED query batch
    against an unbounded corpus — the truth side for the LSH index's
    recall contract, and the transpose of :func:`brute_knn`: here the
    QUERY batch is broadcast (tiny) and the CORPUS streams through
    mapInPandas with one BLAS distance block per Arrow batch, so cost
    is linear in the corpus at any scale. Self-matches excluded."""
    spark = df.sparkSession
    q_ids, q_mat, q_norms = _collect_corpus(
        queries, id_col, vec_col, max_broadcast_bytes, "radius_search"
    )
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_norms))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, qmat, qn = bc.value
        for pdf_b in batches:
            c = np.stack(pdf_b[vec_col].to_numpy()).astype(np.float64)
            c_ids = pdf_b[id_col].to_numpy()
            # dist² = |q|² + |c|² − 2 q·c
            d2 = (
                (qn**2)[:, None]
                + (np.linalg.norm(c, axis=1) ** 2)[None, :]
                - 2.0 * (qmat @ c.T)
            )
            d = np.sqrt(np.maximum(d2, 0.0))
            mask = (d <= radius) & (qids[:, None] != c_ids[None, :])
            qi, ci = np.nonzero(mask)
            yield pd.DataFrame(
                {
                    "query_id": qids[qi],
                    "nbr_id": c_ids[ci],
                    "dist": np.round(d[qi, ci], dist_decimals),
                }
            )

    id_t = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, vec_col).mapInPandas(
        scan, f"query_id {id_t}, nbr_id {id_t}, dist double"
    )


def ivf_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF index (:func:`ivf_build_index`): load the
    centroid table (O(n_clusters) driver rows), assign each query its
    ``n_probe`` nearest clusters distributed, LEFT-SEMI the partitioned
    member table down to the probed clusters (partition pruning — only
    those directories are read), then per-cluster BLAS top-k and the
    global row_number merge. The member scan never touches unprobed
    partitions; query cost is ~n_probe/n_clusters of the corpus.

    PRECONDITION (r8 ADVICE): ``queries`` must be a DETERMINISTIC plan
    — the probed-cluster prune set is collected from one execution of
    it and the cogroup re-executes it; materialize (localCheckpoint) a
    nondeterministic batch first, or its probe rows may land in pruned-
    away clusters and silently drop matches."""
    snap = open_store_snapshot(path)  # one resolve = one consistent snapshot
    bc = spark.sparkContext.broadcast(load_centroids(snap))

    def assign_probes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf_b in batches:
            v = np.stack(pdf_b[vec_col].to_numpy()).astype(np.float64)
            v = v / np.linalg.norm(v, axis=1, keepdims=True)
            order = np.argsort(-(v @ c.T), axis=1)[:, :n_probe]
            n = len(pdf_b)
            yield pd.DataFrame(
                {
                    "cluster_id": order.reshape(-1).astype(np.int32),
                    id_col: np.repeat(pdf_b[id_col].to_numpy(), n_probe),
                    vec_col: [
                        pdf_b[vec_col].iloc[i]
                        for i in np.repeat(np.arange(n), n_probe)
                    ],
                }
            )

    schema = _member_schema(queries, id_col, vec_col)
    probes = queries.select(id_col, vec_col).mapInPandas(assign_probes, schema)
    # STATIC partition pruning (r8): the former broadcast left-semi on
    # cluster_id filtered rows only AFTER the scan listed every
    # partition — DPP measured not firing (PartitionFilters carried
    # only isnotnull), so "probes read p/k of the corpus" held logically
    # but not physically. The probed cluster set is ≤ n_clusters ids
    # (driver-bounded by construction — one tiny job over the fixed
    # query batch); as a static isin predicate it prunes at planning.
    probed = [
        int(r.cluster_id)
        for r in probes.select("cluster_id").distinct().collect()
    ]
    members = snap.read(spark, "members").where(
        F.col("cluster_id").isin(probed)
    )

    def local_topk(key, qpdf: pd.DataFrame, mpdf: pd.DataFrame) -> pd.DataFrame:
        if qpdf.empty or mpdf.empty:
            return pd.DataFrame({"query_id": [], "nbr_id": [], "sim": []})
        q = np.stack(qpdf[vec_col].to_numpy()).astype(np.float64)
        m = np.stack(mpdf[vec_col].to_numpy()).astype(np.float64)
        sims = (q @ m.T) / (
            np.linalg.norm(q, axis=1)[:, None]
            * np.linalg.norm(m, axis=1)[None, :]
        )
        q_ids = qpdf[id_col].to_numpy()
        m_ids = mpdf[id_col].to_numpy()
        out_q, out_n, out_s = [], [], []
        for i, qid in enumerate(q_ids):
            s = np.where(m_ids == qid, -np.inf, sims[i])
            top = np.lexsort((m_ids, -s))[: min(k, len(m_ids))]
            keep = s[top] > -np.inf
            out_q.extend([qid] * int(keep.sum()))
            out_n.extend(m_ids[top][keep])
            out_s.extend(s[top][keep])
        return pd.DataFrame(
            {
                "query_id": pd.array(out_q, dtype="int64"),
                "nbr_id": pd.array(out_n, dtype="int64"),
                "sim": pd.array(
                    np.round(np.asarray(out_s, dtype=np.float64), 6),
                    dtype="float64",
                ),
            }
        )

    candidates = (
        probes.groupBy("cluster_id")
        .cogroup(members.groupBy("cluster_id"))
        .applyInPandas(local_topk, "query_id bigint, nbr_id bigint, sim double")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("nbr_id"))
    return (
        candidates.dropDuplicates(["query_id", "nbr_id"])
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def lsh_ann_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 0.25,
    num_tables: int = 4,
    threshold: float = 1.2,
    seed: int = 42,
) -> DataFrame:
    """ANN candidate pairs via random-projection LSH (pyspark.ml).

    Returns (d1, d2, dist) for pairs within ``threshold`` euclidean
    distance among bucket-colliding candidates. Randomized → its
    registry key carries a pair-recall CONTRACT oracle (≥ 0.85 of the
    exact close pairs must be found, evaluated in SQL); the recall/cost
    trade is tuned by (bucket_length, num_tables).

    Tuning (measured r7, dim-64 unit vectors; projections onto random
    unit directions have σ ≈ 1/√d = 0.125): bucket_length 0.25 (2σ)
    with 4 tables keeps recall 0.955–0.971 across sf0.001–0.1 and is
    ~20% cheaper at sf1 than the original 0.5 (4σ, which collapsed
    most vectors into one bucket per table). Narrower buckets need
    more tables for the same recall (0.15/6 → 0.95) with no net win.
    The sf1 cost is OUTPUT-bound, not bucket-bound: candidate pairs
    within the fixed radius grow ~quadratically as a fixed
    distribution densifies (22 k → 2.3 M for 10× data), invariant
    across bucket settings — at production scale keep output sparse by
    tightening ``threshold`` or sharding the join by band/bucket key
    (docs/SCALE_DESIGN.md §ANN).
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = df.select(
        F.col(id_col), array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_tables,
        seed=seed,
    )
    model = lsh.fit(feat)
    # r13-opt (guide §4.1): ml's approxSimilarityJoin computes the
    # verify distance through a per-PAIR Python/JVM UDF over MLlib
    # vectors (measured ~5 s of the 5.3 s call at sf0.1); the bucketing
    # MODEL is kept (same seed → identical buckets → identical
    # candidate set), but collision pairing + exact distance run as
    # plain DataFrame ops — posexplode of the hash tables, (table,
    # bucket) equi-join, and a codegen'd zip_with/aggregate euclidean
    # whose index-order summation reproduces ml's sqdist loop
    # bit-for-bit (same association order), so the emitted pairs and
    # rounded distances are identical.
    flat = model.transform(feat).select(
        F.col(id_col),
        F.posexplode("hashes").alias("_tbl", "_h"),
    ).select(
        id_col,
        "_tbl",
        vector_to_array("_h")[0].cast("long").alias("_bucket"),
    )
    a, b = flat.alias("a"), flat.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a._tbl") == F.col("b._tbl"))
            & (F.col("a._bucket") == F.col("b._bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("d1"),
            F.col(f"b.{id_col}").alias("d2"),
        )
        .distinct()
    )
    vecs = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    dist = F.sqrt(
        F.expr(
            "aggregate(zip_with(_va, _vb, (x, y) -> (x - y) * (x - y)),"
            " CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)"
        )
    )
    return (
        cand.join(
            vecs.select(F.col(id_col).alias("d1"), F.col("_v").alias("_va")),
            "d1",
        )
        .join(
            vecs.select(F.col(id_col).alias("d2"), F.col("_v").alias("_vb")),
            "d2",
        )
        .withColumn("dist", dist)
        # strict, as approxSimilarityJoin filters
        .where(F.col("dist") < threshold)
        .select("d1", "d2", F.round("dist", 6).alias("dist"))
    )
