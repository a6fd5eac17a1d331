"""Round-13 optimization regression tests.

Pins the three behavioural claims of the r13 pass that are not already
covered by the oracle gate:

1. The iterative loops (pagerank / connected_components) run ONE job
   per iteration — the convergence/dangling-mass action doubles as the
   materializer of the lazily-marked lineage truncation.
2. The collected-scalar dangling mass leaves pagerank values exactly
   where the broadcast-column version had them (test_iterative.py pins
   the dense-reference values; here we pin mass conservation).
3. tracked_persist / release_tracked_persists: operator cache entries
   have an explicit drain point (VERDICT r12 #8, ADVICE r12).
4. The signature kernels with the shingle distinct removed (§2.4) are
   value-identical to the distinct form (min over multiset == min over
   set) — checked directly against a with-distinct recomputation.
5. Every driver fast path (session.DRIVER_BUDGETS) returns what the
   distributed plan returns, and a store write that fails part-way
   leaves the published store untouched.
"""

from __future__ import annotations

import logging
import os
import random
from functools import partial
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from flink_quickstart_spark.operators.bpe import learn_bpe_merges
from flink_quickstart_spark.operators.dedup import (
    _spread_if_narrow,
    minhash_build_store,
    minhash_delete_store,
    minhash_upsert_store,
)
from flink_quickstart_spark.operators.iterative import (
    connected_components,
    pagerank,
)
from flink_quickstart_spark.operators.maintenance import (
    compact_ivf_index,
    compact_ivfpq_index,
    compact_lsh_index,
    compact_minhash_store,
    compact_pq_index,
    data_file_counts,
    read_store,
    store_data_dir,
)
from flink_quickstart_spark.operators.quantization import (
    ivfpq_build_index,
    ivfpq_delete_index,
    ivfpq_upsert_index,
    pq_build_index,
    pq_delete_index,
    pq_upsert_index,
)
from flink_quickstart_spark.operators.similarity import (
    ivf_build_index,
    ivf_delete_index,
    ivf_upsert_index,
    lsh_build_index,
    lsh_delete_index,
    lsh_upsert_index,
)
from flink_quickstart_spark.session import DRIVER_BUDGETS, fits_driver

SF = "/root/testdata/sf0.001"


def _jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def test_pagerank_one_job_per_iteration(spark, monkeypatch):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (5, 3)], "src long, dst long"
    )
    iterations = 4
    # a zero budget forces the DISTRIBUTED loop (the fast path is
    # pinned separately below)
    monkeypatch.setitem(DRIVER_BUDGETS, "pagerank", 0)
    spark.sparkContext.setJobGroup("r13-pr-jobs", "pagerank job count")
    try:
        ranks = pagerank(edges, iterations=iterations).collect()
    finally:
        spark.sparkContext.setJobGroup(None, None)
    # AQE splits each action into one job per shuffle stage, so the
    # in-group count is well above the action count; measured 35 for
    # this graph with the fused shape (the old shape's extra work was
    # broadcast-exchange jobs on the broadcast thread pool, which a job
    # group cannot see — the CC test below carries the visible delta).
    assert _jobs_in_group(spark, "r13-pr-jobs") <= 38
    # mass conservation: ranks still sum to ~1 (dangling mass folded)
    assert abs(sum(r["rank"] for r in ranks) - 1.0) < 1e-9


def test_connected_components_one_job_per_iteration(spark, monkeypatch):
    # path graph 1-2-3-4-5 plus isolated edge 10-11: diameter 4 → the
    # loop converges after 4 changing iterations + 1 no-change check.
    # A zero budget forces the DISTRIBUTED loop (the fast path is
    # pinned separately below) so this keeps testing the fused
    # convergence count.
    monkeypatch.setitem(DRIVER_BUDGETS, "connected_components", 0)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "src long, dst long"
    )
    spark.sparkContext.setJobGroup("r13-cc-jobs", "cc job count")
    try:
        labels = {
            r["node"]: r["component"]
            for r in connected_components(edges).collect()
        }
    finally:
        spark.sparkContext.setJobGroup(None, None)
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
    # fused convergence count: measured 37 in-group jobs (AQE stage
    # jobs included; raw-edge materialization adds one tiny cached
    # count while REMOVING a full caller-plan execution from the sym
    # build) vs 39 for the old eager-checkpoint-then-count shape on
    # this exact graph — one job per iteration saved
    assert _jobs_in_group(spark, "r13-cc-jobs") <= 38


def test_tracked_persist_release(spark):
    from flink_quickstart_spark.session import (
        release_tracked_persists,
        tracked_persist,
    )

    release_tracked_persists()  # drain entries left by other tests
    df = tracked_persist(spark.range(100).withColumn("x", F.col("id") * 2))
    df.count()
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    assert release_tracked_persists() >= 1
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)
    # idempotent second drain
    assert release_tracked_persists() == 0


def test_operator_persists_are_tracked(spark):
    from flink_quickstart_spark.operators.dedup import jaccard_neardup_pairs
    from flink_quickstart_spark.session import (
        _TRACKED_PERSISTS,
        release_tracked_persists,
    )

    release_tracked_persists()
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    jaccard_neardup_pairs(docs, "doc_id", "text").collect()
    assert len(_TRACKED_PERSISTS) >= 1
    assert release_tracked_persists() >= 1


def _pagerank_case(spark, _path):
    rng = random.Random(13)
    edges = list({(rng.randrange(60), rng.randrange(60)) for _ in range(200)})
    edges += [(100, 101)]  # dangling dst + isolated pair
    df = spark.createDataFrame(edges, "src long, dst long")
    ranks = {r["node"]: r["rank"] for r in pagerank(df, iterations=8).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    return ranks


def _components_case(spark, _path):
    """Chains with shuffled ids (diameter > 1), a cycle, a star, and
    duplicate/self edges."""
    rng = random.Random(13)
    edges = []
    for base in (100, 200, 300):
        ids = list(range(base, base + 12))
        rng.shuffle(ids)
        edges += list(zip(ids, ids[1:]))
    edges += [(1, 2), (2, 3), (3, 1), (400, 401), (401, 400), (400, 400)]
    edges += [(50, x) for x in range(51, 58)]
    df = spark.createDataFrame(edges, "src long, dst long")
    labels = dict(map(tuple, connected_components(df).collect()))
    assert all(comp <= node for node, comp in labels.items())
    return labels


def _bpe_case(spark, _path):
    """Same merge table, tie-breaks (ascending binary pair order) and
    greedy left-to-right merge application included."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(120)
    words = (
        docs.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merges = learn_bpe_merges(spark, words, 12).orderBy("step").collect()
    assert len(merges) == 12
    return [tuple(r) for r in merges]


def _store_case(spark, path, epoch_partitioned=False):
    """Build, upsert, delete, compact; returns what a reader sees."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    path = str(path)
    minhash_build_store(
        docs.where(F.col("doc_id") % 2 == 0), path,
        epoch_partitioned=epoch_partitioned,
    )
    minhash_upsert_store(
        spark, path, docs.where(F.col("doc_id") % 2 == 1),
        epoch=1 if epoch_partitioned else None,
    )
    minhash_delete_store(spark, path, docs.where(F.col("doc_id") % 5 == 0))
    compact_minhash_store(spark, path)
    bands = read_store(spark, path, "bands")
    files = set(data_file_counts(store_data_dir(path, "bands")).values())
    assert files == {1}  # compaction left one file per partition
    rows = _rows(bands)
    assert rows
    return [(f.name, f.dataType) for f in bands.schema], rows


# per vector store: build, upsert, delete, compact, data subdir,
# partition columns
_VECTOR_STORES = {
    "lsh": (
        lsh_build_index, lsh_upsert_index, lsh_delete_index,
        compact_lsh_index, "postings", ["band_id", "bucket"],
    ),
    "ivf": (
        partial(ivf_build_index, n_clusters=4), ivf_upsert_index,
        ivf_delete_index, compact_ivf_index, "members", ["cluster_id"],
    ),
    "pq": (
        partial(pq_build_index, m=4, k=16), pq_upsert_index,
        pq_delete_index, compact_pq_index, "codes", ["_idmod"],
    ),
    "ivfpq": (
        partial(ivfpq_build_index, n_clusters=4, m=4, k=16),
        ivfpq_upsert_index, ivfpq_delete_index, compact_ivfpq_index,
        "codes", ["cluster_id"],
    ),
}


def _vector_store_case(spark, path, kind):
    """Build, upsert, a delete that empties the least-occupied
    partition, compact; returns what a reader sees."""
    build, upsert, delete, compact, subdir, part_cols = _VECTOR_STORES[kind]
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(path)
    build(emb.where(F.col("vec_id") % 4 != 0), path)
    upsert(spark, path, emb.where(F.col("vec_id") % 4 == 0))
    store = read_store(spark, path, subdir)
    smallest = (
        store.groupBy(*part_cols).count().orderBy("count", *part_cols).first()
    )
    in_smallest = F.lit(True)
    for c in part_cols:
        in_smallest = in_smallest & (F.col(c) == smallest[c])
    victims = store.where(in_smallest).select("vec_id").union(
        emb.where(F.col("vec_id") % 7 == 0).select("vec_id")
    )
    delete(spark, path, emb.join(victims, "vec_id", "left_semi"))
    emptied = os.path.join(
        store_data_dir(path, subdir),
        *(f"{c}={smallest[c]}" for c in part_cols),
    )
    assert not os.path.exists(emptied)
    compact(spark, path)
    out = read_store(spark, path, subdir)
    files = set(data_file_counts(store_data_dir(path, subdir)).values())
    assert files == {1}  # compaction left one file per partition
    rows = _rows(out)
    assert rows
    return [(f.name, f.dataType) for f in out.schema], rows


_FAST_PATH_CASES = {
    "pagerank": ("pagerank", _pagerank_case),
    "connected_components": ("connected_components", _components_case),
    "bpe": ("bpe", _bpe_case),
    "store": ("store_write", _store_case),
    "store_epoch": ("store_write", partial(_store_case, epoch_partitioned=True)),
    **{
        kind: ("store_write", partial(_vector_store_case, kind=kind))
        for kind in _VECTOR_STORES
    },
}


@pytest.mark.parametrize("case", sorted(_FAST_PATH_CASES))
def test_driver_fast_path_matches_distributed(
    spark, tmp_path, monkeypatch, caplog, case
):
    """Each DRIVER_BUDGETS site returns the same output with the table
    as-is (driver path, checked in the decision log) and with every
    budget at 0 (distributed path). PageRank agrees to well inside the
    key's round-6 output precision (summation order differs). Every
    store write is sized: none logs an unknown (None) size."""
    site, run = _FAST_PATH_CASES[case]
    caplog.set_level(logging.DEBUG, logger="flink_quickstart_spark.session")

    def paths_taken():
        decisions = [r.args for r in caplog.records if r.args[0] == site]
        caplog.clear()
        if site == "store_write":
            assert all(observed is not None for _s, _b, observed, _p in decisions)
        return {path for _s, _b, _o, path in decisions}

    fast = run(spark, tmp_path / "fast")
    assert "driver" in paths_taken()
    for name in DRIVER_BUDGETS:
        monkeypatch.setitem(DRIVER_BUDGETS, name, 0)
    dist = run(spark, tmp_path / "dist")
    assert paths_taken() == {"distributed"}
    assert fast == (pytest.approx(dist, abs=1e-12) if case == "pagerank" else dist)
    assert fast


def test_budget_zero_means_never(monkeypatch):
    assert fits_driver("store_write", 0)
    assert not fits_driver("store_write", None)
    assert not fits_driver("store_write", DRIVER_BUDGETS["store_write"] + 1)
    monkeypatch.setitem(DRIVER_BUDGETS, "store_write", 0)
    assert not fits_driver("store_write", 0)


_FAILING_MUTATIONS = {
    "compact": lambda spark, path, docs: compact_minhash_store(spark, path),
    "delete": lambda spark, path, docs: minhash_delete_store(
        spark, path, docs.where(F.col("doc_id") % 3 == 0)
    ),
}


@pytest.mark.parametrize("op", sorted(_FAILING_MUTATIONS))
def test_compaction_write_failure_keeps_store(spark, tmp_path, monkeypatch, op):
    """A driver-side store mutation (compaction, or a delete's survivor
    write) whose partition writer fails on the second partition raises,
    and the published store keeps its full row multiset: the staged
    generation is aborted, and nothing is rewritten from a half-mutated
    directory."""
    import pyarrow.parquet as pq

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(60)
    path = str(tmp_path / "store")
    minhash_build_store(docs.where(F.col("doc_id") % 2 == 0), path, hmod=8)
    minhash_upsert_store(spark, path, docs.where(F.col("doc_id") % 2 == 1))
    before = _rows(read_store(spark, path, "bands"))
    real_write, calls = pq.write_table, []

    def failing_write(*args, **kwargs):
        calls.append(args[1])
        if len(calls) == 2:
            raise OSError("injected partition write failure")
        return real_write(*args, **kwargs)

    monkeypatch.setattr(pq, "write_table", failing_write)
    with pytest.raises(OSError, match="injected"):
        _FAILING_MUTATIONS[op](spark, path, docs)
    monkeypatch.undo()
    assert before and _rows(read_store(spark, path, "bands")) == before


def test_spread_if_narrow_runs_no_job(spark):
    """Probing a joined input only plans it: under AQE, touching
    ``.rdd`` would run the join's broadcast stage."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ids = spark.range(50).withColumnRenamed("id", "doc_id")
    joined = docs.join(F.broadcast(ids), "doc_id", "left_semi")
    sc = spark.sparkContext
    sc.setJobGroup("spread-probe", "spread probe")
    try:
        spread = [_spread_if_narrow(df) for df in (joined, docs)]
        assert _jobs_in_group(spark, "spread-probe") == 0
    finally:
        sc.setJobGroup(None, None)
    # one-row-group fixture: both inputs are spread to the parallelism
    n = sc.defaultParallelism
    assert [df.rdd.getNumPartitions() for df in spread] == [n, n]


def test_adc_scan_coalesce_prefix_matches_whole_dir(spark, monkeypatch):
    """``cluster_id=3`` counts its own bytes, not ``cluster_id=30``'s."""
    from flink_quickstart_spark.operators import quantization

    mb = 1024 * 1024
    manifest = {"files": [
        {"path": os.path.join("codes", f"cluster_id={c}", "f.parquet"), "bytes": b}
        for c, b in ((3, mb), (30, 9 * mb), (31, 9 * mb))
    ]}
    monkeypatch.setattr(
        quantization, "StoreSnapshot", lambda _: SimpleNamespace(manifest=manifest)
    )
    df = spark.range(100).repartition(8)
    out = quantization._adc_scan_coalesce(df, "-", prefixes=["cluster_id=3"])
    assert out.rdd.getNumPartitions() == 1  # 1 MB → one 4 MB partition


def test_lsh_ann_buckets_threshold_is_strict(spark):
    """A pair at exactly the threshold distance is dropped, as in
    pyspark.ml's approxSimilarityJoin (``dist < threshold``)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    from flink_quickstart_spark.operators.similarity import lsh_ann_buckets

    # distances: (0,1) exactly 5.0, (0,2) 1.0, (1,2) √18; 3 is far
    vecs = [[1000.0, 1000.0], [1003.0, 1004.0], [1000.0, 1001.0], [-1000.0, 500.0]]
    df = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<double>"
    )
    kw = dict(bucket_length=1e9, num_tables=4, seed=42)

    def ours(threshold):
        out = lsh_ann_buckets(df, threshold=threshold, **kw).collect()
        return sorted((r.d1, r.d2) for r in out)

    feat = df.select("vec_id", array_to_vector("embedding").alias("features"))
    model = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=1e9,
        numHashTables=4, seed=42,
    ).fit(feat)
    ml = sorted(
        (r.datasetA.vec_id, r.datasetB.vec_id)
        for r in model.approxSimilarityJoin(feat, feat, 5.0).collect()
        if r.datasetA.vec_id < r.datasetB.vec_id
    )
    assert ours(5.0) == ml == [(0, 2), (1, 2)]
    assert (0, 1) in ours(5.0 + 1e-9)  # the pair is an LSH candidate


@pytest.mark.parametrize("family", ["md5_60", "xx64"])
def test_signatures_multiset_min_equals_set_min(spark, family):
    """§2.4 shuffle removal: the signature kernels now hash the raw
    shingle multiset; min() must equal the distinct form bit-for-bit."""
    from flink_quickstart_spark.operators.dedup import (
        _minhash_band_rows,
        word_shingles,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(80)
    got = {
        (r[0], r[1]): r[2]
        for r in _minhash_band_rows(docs, "doc_id", "text", 16, 3, family)
        .collect()
    }
    # reference: the pre-r13 shape — distinct shingles, same hashes
    sh = word_shingles(docs, "doc_id", "text", 3, distinct=True)
    if family == "xx64":
        h = F.xxhash64(F.xxhash64("shingle"), F.col("hash_idx").cast("bigint"))
    else:
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.col("shingle"), F.lit("#"), F.col("hash_idx"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
    ref = {
        (r[0], r[1]): r[2]
        for r in sh.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.lit(15))).alias("hash_idx"),
            "shingle",
        )
        .select(
            "doc_id", F.col("hash_idx").cast("bigint").alias("hash_idx"),
            h.alias("h"),
        )
        .groupBy("doc_id", "hash_idx")
        .agg(F.min("h").alias("sig"))
        .collect()
    }
    assert got == ref
