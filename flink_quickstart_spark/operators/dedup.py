"""Deduplication operator family for large-scale text corpora.

Beyond the reference surface: mandated LLM-data-pipeline extension
(BASELINE.json's north star; SURVEY.md §2.K1-K2). Four tiers, cheapest
first — the order a real 100 TB pipeline applies them:

1. exact content hash  — one shuffle on a 256-bit key, no FP risk
2. n-gram Jaccard      — shingle inverted index join; exact similarity,
                         cost bounded by shingle collision counts
3. MinHash + LSH       — sublinear candidate generation (pyspark.ml),
                         fixed seed for reproducibility
4. SimHash             — 64-bit fingerprint, hamming-distance buckets

All operators return DataFrames and never collect to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """K1: group identical content by sha256; keep the lowest id as the
    canonical row. Scales as one hash-shuffle regardless of corpus size."""
    return (
        df.select(F.sha2(F.col(content_col), 256).alias("content_sha"), F.col(id_col))
        .groupBy("content_sha")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _spread_if_narrow(df: DataFrame) -> DataFrame:
    """Guide §2.5, operator-level twin of sources.tables.
    spread_unsplittable: the shingle explode + hash kernels are
    CPU-heavy map work, and with the signature ``distinct`` removed
    (§2.4) they run in the SCAN stage — which for a few-row-group input
    is a single task at any core count. Repartition to the cluster's
    parallelism ONLY when the plan's partitioning falls short of it; on
    a real corpus (many files/row groups) this is a no-op, so no corpus
    shuffle is added at scale. Shuffling the raw (id, text) rows here is
    strictly cheaper than the removed distinct's (id, shingle) exchange.
    No job runs: an exchange-free plan reports its exact partition
    count; an adaptive plan (a join) would run its upstream stages to
    report one, so it counts its input files' parquet row groups."""
    from urllib.parse import urlparse

    from flink_quickstart_spark.sources.tables import _parquet_row_groups

    cores = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        n = 0
        for f in df.inputFiles():
            u = urlparse(f)
            n += _parquet_row_groups(u.path) if u.scheme in ("", "file") else 1
    else:
        n = df.rdd.getNumPartitions()
    return df.repartition(cores) if n < cores else df


def word_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per document: (id, shingle) rows.

    JVM-side only: split → transform over index sequence → explode →
    distinct. The distinct is per (doc, shingle) — a narrow pre-aggregation
    that bounds the inverted-index fanout.

    ``distinct=False`` (r13, guide §2.4) skips that exchange and emits
    the raw multiset: every SIGNATURE consumer ends in a ``min``
    aggregate (min over a multiset == min over its set), so for them
    the distinct was a full shuffle of the corpus-scale shingle-string
    table bought for nothing — dropping it leaves ONE exchange in the
    signature pipeline (the post-partial-agg (id, hash_idx, min) rows,
    16 longs per document) and keeps the hash work map-side in the
    scan stage. Jaccard/inverted-index consumers (set-size semantics)
    keep the default."""
    toks = F.split(F.col(text_col), " ")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + k + 1) for k in range(n)]),
    )
    out = df.where(F.size(toks) >= n).select(
        F.col(id_col), F.explode(grams).alias("shingle")
    )
    return out.distinct() if distinct else out


def jaccard_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """K2 (exact flavor): document pairs with shingle-set Jaccard ≥
    threshold, via an inverted-index self-join on shingles.

    Plan: shingles shuffle once on the shingle key (the inverted index);
    pair counts shuffle once on (d1, d2). Exact — no randomization — so
    it is SQL-oracle-checkable.

    ``max_shingle_df`` is the 100 TB knob: drop shingles whose document
    frequency exceeds the bound BEFORE the self-join. A shingle shared by
    d documents emits d·(d-1)/2 candidate rows — boilerplate shingles
    (headers, license text) are quadratic cost while carrying no
    near-dup signal. When the cap binds, sizes and Jaccard are computed
    consistently over the *capped* shingle universe (the similarity is
    exact on the distinguishing shingles, not an estimate of the uncapped
    value). The DF filter is a count over a window partitioned by
    shingle — the SAME hash partitioning the inverted-index join needs,
    so Catalyst reuses one shuffle rather than adding one. ``None``
    (default) disables the cap; results are then bit-identical to the
    uncapped operator.
    """
    from flink_quickstart_spark.session import tracked_persist

    sh = word_shingles(df, id_col, text_col, n)
    if max_shingle_df is not None:
        w_sh = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("_df", F.count(F.lit(1)).over(w_sh))
            .where(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    # Three consumers (sizes + both join sides) re-ran the
    # scan+explode+distinct(+DF-window) pipeline; one materialization
    # replaces them — same concession/discipline as
    # minhash_lsh_verified_pairs below (r12-opt; 5.6 s → 1.3 s sf0.1).
    # Tracked (r13): session.release_tracked_persists() is the drain
    # point for long-lived sessions over changing corpora.
    sh = tracked_persist(sh)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("d1"), "shingle")
    b = sh.select(F.col(id_col).alias("d2"), "shingle")
    # Join strategy pinned (r7 sf10text probe finding — the same
    # explode-underestimate law as the minhash band join): Catalyst
    # sizes BOTH exploded sides at their pre-explode parquet scan, so at
    # the scale window where the scan estimate fits the broadcast
    # threshold, static planning broadcasts the ENTIRE inverted index
    # (measured: executor OOM building a multi-GB HashedRelation of
    # shingle strings at 100× documents). Both sides are corpus-mass →
    # MERGE; the doc-sized ``sizes`` aggregates are also explode-derived
    # (same lying estimate) and grow linearly with the corpus →
    # SHUFFLE_HASH with the size table as the sharded build side, never
    # a broadcast candidate.
    common = (
        a.join(b.hint("merge"), ["shingle"])
        .where(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1 = sizes.select(F.col(id_col).alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col(id_col).alias("d2"), F.col("n_sh").alias("n2"))
    return (
        common.join(s1.hint("shuffle_hash"), "d1")
        .join(s2.hint("shuffle_hash"), "d2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("d1", "d2", "n_common", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    seed: int = 42,
    num_features: int | None = None,
) -> DataFrame:
    """K2 (sublinear flavor): MinHash LSH candidate pairs via pyspark.ml.

    Shingle → HashingTF (sparse binary vector) → MinHashLSH with a fixed
    seed → approxSimilarityJoin on Jaccard *distance*. Randomized by
    design → its registry key carries a CONTRACT oracle (LSH-generate +
    exact-verify pair-recall predicate), not a value-identity one. This
    is the 100 TB path: candidates come from band-bucket joins, never
    the full pair matrix.

    ``num_features`` is the minhash UNIVERSE, not a tuning detail
    (r7 text-decade finding): Spark's MinHashLSH takes the min over TF
    *slot indices*, so when the corpus's distinct-shingle count
    saturates the slot space, DISJOINT documents start sharing slots
    and their min-hashes collide by chance at a rate ∝ m²/num_features
    per pair — an O(n²) spurious-candidate term that made the band join
    superlinear at 100× documents (measured e≈1.3; candidate count grew
    ~20× for 10× data). Default ``None`` auto-sizes the slot space to
    ~32× the corpus's approx distinct-shingle count (one cheap HLL agg,
    clamped to [2^18, 2^26], rounded up to a power of two) — sparse
    vectors make width free per-row, and the spurious rate stays
    O(m²/32·vocab) → the true minhash law (candidates ∝ near-dup pairs)
    holds at any corpus size. Pass an explicit power of two to pin the
    universe (e.g. reproducing a prior signature table).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # dictionary-encode each DISTINCT (doc, shingle) to int64 BEFORE
    # anything shuffles (r9, VERDICT r8 #5): the collect_list rows, the
    # per-doc term arrays, and the localCheckpoint all carry 8-byte
    # longs instead of ~25-byte shingle strings — the dominant shuffle
    # width of the signature stage — and HashingTF murmurs a long
    # instead of re-hashing the string bytes per row. xxhash64
    # collisions at 64 bits are ≪ the TF slot-collision rate the
    # num_features sizing already bounds; candidates remain contract-
    # graded (recall vs exact verify), values remain exact downstream.
    # distinct=False + collect_set (r13, §2.4): binary HashingTF sees a
    # token SET either way, so the (id, shingle-string) distinct
    # exchange was a full shuffle bought for nothing — collect_set
    # dedups map-side inside the one groupBy exchange this stage needs.
    # approx_count_distinct is set-cardinality over a multiset too.
    # Narrow inputs spread first (§2.5) so the map-side set-building
    # and the HLL vocab probe parallelize.
    shingles = word_shingles(
        _spread_if_narrow(df), id_col, text_col, 3, distinct=False
    ).select(id_col, F.xxhash64("shingle").alias("tok"))
    if num_features is None:
        vocab = shingles.agg(
            F.approx_count_distinct("tok").alias("d")
        ).first()["d"]
        # clamp ceiling 2^28 (r8; was 2^26, which bit at the sf10text
        # decade: 2.6 M distinct shingles × 32 = 84 M > 2^26 — the slot
        # space must OUTGROW the vocab or spurious collisions return at
        # the next decade; min-hash cost is ∝ nnz, not slot count, so a
        # wide sparse universe is free)
        num_features = 1 << max(18, min(28, (32 * max(vocab, 1) - 1).bit_length()))
    sh = shingles.groupBy(id_col).agg(F.collect_set("tok").alias("shingles"))
    tf = HashingTF(
        inputCol="shingles", outputCol="features",
        numFeatures=num_features, binary=True,
    )
    # localCheckpoint so the A=B self-join reuses the materialized
    # transform instead of recomputing shingle→TF→minhash twice.
    feat = tf.transform(sh).localCheckpoint(eager=True)
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hashes, seed=seed
    )
    model = lsh.fit(feat)
    pairs = model.approxSimilarityJoin(feat, feat, 1.0 - threshold, distCol="dist")
    cand_lazy = (
        pairs.where(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("d1"),
            F.col(f"datasetB.{id_col}").alias("d2"),
            F.round(1.0 - F.col("dist"), 6).alias("jaccard_est"),
        )
    )
    # Execute the band join with broadcasts OFF (r7 sf3 probe finding):
    # ml's approxSimilarityJoin plans an explode + equi-join whose
    # build-side SIZE ESTIMATE is the pre-explode scan, so at the scale
    # window where the scan fits the broadcast threshold but the
    # exploded hash-entry table is GBs, static planning picks a doomed
    # broadcast ("Cannot broadcast the table that is larger than
    # 8.0 GiB: 9.3 GiB") — unreachable by join hints inside ml, and
    # localCheckpoint no longer hides stats (Spark preserves origin
    # stats through LogicalRDD). The candidate stage therefore
    # materializes eagerly under autoBroadcastJoinThreshold=-1 (every
    # join inside it goes sort-merge/shuffle — correct at any scale);
    # the conf is restored before the caller's plan is built, so
    # downstream joins keep their normal runtime freedom. Materialized
    # size is O(candidates) — the stage's actual working set.
    spark = df.sparkSession
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        return cand_lazy.localCheckpoint(eager=True)
    finally:
        spark.conf.set(key, old)


def minhash_lsh_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    est_margin: float = 0.3,
    num_hashes: int = 16,
    seed: int = 42,
) -> DataFrame:
    """K2b with the standard LSH verify step: generate candidates with a
    LOOSENED signature-estimate cutoff (``threshold - est_margin`` — the
    16-hash Jaccard estimate has σ≈0.125, so a tight cutoff would drop
    boundary pairs), then compute the EXACT shingle Jaccard for the
    candidates only and keep pairs ≥ ``threshold``.

    Output (d1, d2, jaccard) carries exact values, so the result is
    deterministic and oracle-checkable; a miss is possible only when a
    true pair collides in none of the ``num_hashes`` OR-ed tables —
    P = (1−j)^16 ≤ 1.5e-5 at j = 0.5.

    Scale shape: candidate generation is the sublinear LSH band join;
    verification touches |candidates| pairs, never the full pair matrix.
    The candidate set GROWS WITH THE CORPUS, so the verify join must NOT
    be force-broadcast (r5 judge finding: a forced ``F.broadcast(cand)``
    OOM'd at 10× data — "Not enough memory to build and broadcast the
    table"). The r6 fix left the strategy to the runtime; the r7 sf3
    probe found the hole in that stance: Catalyst's size estimate for
    an EXPLODED table is its pre-explode child (a 18 MB parquet scan
    hides a multi-GB shingle table), so STATIC planning picks
    BroadcastHashJoin with the full shingle table as build side and
    dies at execution on the 8 GiB broadcast hard cap ("Cannot
    broadcast the table that is larger than 8.0 GiB: 9.3 GiB") — AQE
    never gets to veto it because the bad estimate survives to the
    first plan. The verify joins therefore pin ``SHUFFLE_HASH`` with
    the CANDIDATE side as build: per-partition build size is
    |candidates|/partitions — the provably smaller side, sharded, and
    it scales with partition count; the corpus-mass shingle table is
    never a build candidate regardless of what the estimator thinks.
    """
    from flink_quickstart_spark.session import tracked_persist

    cand = minhash_lsh_pairs(
        df, id_col, text_col,
        threshold=threshold - est_margin, num_hashes=num_hashes, seed=seed,
    ).select("d1", "d2")
    # The verify tier reads the shingle table THREE times (sizes + both
    # join sides), and word_shingles ends in a distinct — a full shuffle
    # per consumer. One MEMORY_AND_DISK materialization replaces three
    # scan+explode+shuffle passes at every scale (guide §5: reused AND
    # expensive); session-lifetime entry, deduped across re-runs by the
    # cache manager, spills under pressure (r12-opt; measured
    # 15.0 s → 4.0 s at sf0.1, noop sink). Tracked (r13):
    # session.release_tracked_persists() drains it.
    sh = tracked_persist(word_shingles(df, id_col, text_col, n))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("d1"), "shingle")
    b = sh.select(F.col(id_col).alias("d2"), "shingle")
    common = (
        cand.hint("shuffle_hash")
        .join(a, "d1")
        .hint("shuffle_hash")
        .join(b, ["d2", "shingle"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    s1 = sizes.select(F.col(id_col).alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col(id_col).alias("d2"), F.col("n_sh").alias("n2"))
    return (
        common.join(s1, "d1")
        .join(s2, "d2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def simhash64(
    df: DataFrame, id_col: str, text_col: str, token_hash: str = "xxhash64"
) -> DataFrame:
    """K2 (fingerprint flavor): SimHash per document.

    Bit b of the fingerprint is the sign of sum over tokens of ±1 per
    token-hash bit — computed as conditional-sum aggregates, entirely in
    one hash aggregation (no Python, no explode-to-64× blowup: one
    explode to tokens, then a single groupBy).

    ``token_hash``:
    - ``"xxhash64"`` (default) — JVM xxhash64, 63 usable bits; the
      cheapest path for production (engine-specific output).
    - ``"md5_60"`` — 60 bits from the md5 hex prefix; bit-identical
      across engines (md5 is universal), so the fingerprints value-match
      a DuckDB oracle. ~Same cost class; use when cross-engine
      reproducibility of the fingerprints themselves matters.

    Near-dup candidates = identical fingerprints (or hamming ≤ k via
    rotations at scale).

    r13: the md5/xxhash + 60-way conditional-sum partial aggregation is
    map-side in the scan stage — a narrow input is spread first (§2.5,
    plan no-op on a real corpus); integer ±1 sums are order-free, so
    fingerprints are bit-identical under any partitioning.
    """
    toks = _spread_if_narrow(df).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).where(F.col("tok") != "")
    if token_hash == "md5_60":
        n_bits = 60
        h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    else:
        n_bits = 63  # bit 63 left clear: keeps the value in signed-long range
        h = F.xxhash64("tok")
    hashed = toks.select(id_col, h.alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(n_bits)
    ]
    agg = hashed.groupBy(id_col).agg(*bit_sums)
    fingerprint = sum(
        (F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(0) * F.lit(2**b).cast("long"))
        for b in range(n_bits)
    )
    return agg.select(F.col(id_col), fingerprint.alias("simhash"))


def keep_first(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Deterministic keep-first dedup: row_number=1 over an explicit order
    (Spark's dropDuplicates keeps an arbitrary row — never oracle-safe)."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def portable_minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    n: int = 3,
) -> DataFrame:
    """(id, hash_idx, sig) MinHash signatures with the PORTABLE
    md5-60bit hash family h_i(s) = md5(s || '#' || i) — bit-identical
    across engines and sessions, which is what lets a PERSISTED
    signature store (:func:`minhash_build_store`) be queried by any
    later session and still value-match a SQL oracle. Same expressions
    as the q_llm_minhash_signatures key; sketch property
    P[sig_i(A) = sig_i(B)] = Jaccard(A, B). Shapes: shingle explode ×
    num_hashes posexplode → one hash aggregate keyed (id, i).

    r13 (guide §2.4): the shingle ``distinct`` is skipped — ``min`` over
    the shingle multiset equals min over the set, so the distinct's
    full shuffle of (id, shingle-string) rows bought nothing; the only
    exchange left is the post-partial-agg (id, hash_idx, min) rows
    (16 longs/doc). Duplicate in-doc shingles now pay their md5s, a
    per-task constant dwarfed by the removed corpus-scale exchange.
    With the hashing now map-side in the scan stage, a narrow input is
    spread first (§2.5 — plan no-op on a real corpus)."""
    sh = word_shingles(
        _spread_if_narrow(df), id_col, text_col, n, distinct=False
    )
    hashed = sh.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("hash_idx"),
        "shingle",
    ).select(
        id_col,
        F.col("hash_idx").cast("bigint").alias("hash_idx"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("shingle"), F.lit("#"), F.col("hash_idx"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    return hashed.groupBy(id_col, "hash_idx").agg(F.min("h").alias("sig"))


def _minhash_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    n: int,
    hash_family: str = "md5_60",
) -> DataFrame:
    """(id, hash_idx, sig) signatures under a NAMED hash family — the
    single signature kernel behind the persisted store, so build,
    ingest-probe, and upsert always hash identically (the family is
    pinned in ``{store}/meta``).

    - ``"md5_60"`` — the portable family of
      :func:`portable_minhash_signatures` (bit-identical across
      engines; what the q_llm_minhash_signatures oracle checks).
    - ``"xx64"`` (r9) — dictionary-encode each shingle to int64 with
      ONE xxhash64 BEFORE the ``num_hashes``-way explode, then mix with
      the table index via xxhash64(s64, i). Cuts the dominant shuffle
      of the signature agg from (id, i, shingle-string) rows to three
      longs, and replaces 16 md5-of-string evaluations per shingle with
      16 long-hashes (VERDICT r8 #5 — the minhash constant). Engine-
      internal (xxhash64 seed pinned by Spark), deterministic across
      sessions — which is all a persisted store needs; cross-engine
      oracles check the exact-verified Jaccard OUTPUT, never these
      signatures. Same sketch law: P[sig_i(A)=sig_i(B)] = Jaccard(A,B).
    """
    if hash_family == "md5_60":
        return portable_minhash_signatures(df, id_col, text_col, num_hashes, n)
    if hash_family != "xx64":
        raise ValueError(f"unknown minhash hash_family: {hash_family!r}")
    # distinct=False: min over the shingle multiset == min over the set
    # (same §2.4 shuffle removal as portable_minhash_signatures — the
    # distinct exchanged the full shingle-STRING table per signature
    # job); the hash kernel now lives in the scan stage, so spread a
    # narrow input (§2.5 — no-op on a real corpus)
    sh = word_shingles(
        _spread_if_narrow(df), id_col, text_col, n, distinct=False
    ).select(id_col, F.xxhash64("shingle").alias("_s64"))
    hashed = sh.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("hash_idx"),
        "_s64",
    ).select(
        id_col,
        F.col("hash_idx").cast("bigint").alias("hash_idx"),
        F.xxhash64("_s64", F.col("hash_idx").cast("bigint")).alias("h"),
    )
    return hashed.groupBy(id_col, "hash_idx").agg(F.min("h").alias("sig"))


def minhash_build_store(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    n: int = 3,
    hmod: int = 64,
    hash_family: str = "xx64",
    epoch_partitioned: bool = False,
) -> None:
    """Materialize a REUSABLE near-dup signature store — the text twin
    of the persisted vector indexes (ivf_build_index/lsh_build_index):

    - ``{path}/bands`` — one (id, band_id, sig) row per document × hash
      table (each table is one minhash — OR-amplification across
      ``num_hashes`` tables, P[candidate] = 1−(1−j)^tables), PARTITIONED
      BY ``_hmod = pmod(sig, hmod)`` so an ingest batch's bucket probes
      prune the store scan to matching partitions;
    - ``{path}/meta`` — (num_hashes, shingle n, hmod, hash_family),
      pinned so every later ingest/upsert session hashes with the SAME
      family and the store stays self-describing.

    ``hash_family`` defaults to the r9 fast ``"xx64"`` family (see
    :func:`_minhash_band_rows` — int64 shingle encoding before the
    band explode; pass ``"md5_60"`` for a cross-engine-portable store).

    Signatures are ~num_hashes longs per document — the compression
    that makes dedup-against-100TB storage-feasible: ingest never
    rereads corpus text except to exact-verify the (few) candidates.

    ``epoch_partitioned=True`` lays the bands out as
    ``(_hmod, _epoch)`` with the base corpus at ``_epoch = 0`` — the
    ATOMIC-admission layout (r10, VERDICT r9 #2): each streaming epoch
    upserts with ``epoch=batch_id`` via DYNAMIC OVERWRITE of its own
    ``(_hmod, _epoch)`` partitions, so a replayed epoch overwrites its
    first attempt instead of appending — exactly-once by layout, no
    marker needed for correctness. Probes read the store identically
    (the `_epoch` column is simply not selected); the periodic
    OPTIMIZE folds epochs back into 0
    (operators/maintenance.compact_minhash_store)."""
    from flink_quickstart_spark.operators.maintenance import (
        reset_store_generations,
        row_bound,
        write_partitioned,
        write_store_manifest,
    )

    reset_store_generations(path)  # rebuild over a mutated store
    spark = df.sparkSession
    bands = _minhash_band_rows(
        df, id_col, text_col, num_hashes, n, hash_family
    ).select(
        F.col(id_col),
        F.col("hash_idx").cast("int").alias("band_id"),
        "sig",
        F.pmod(F.col("sig"), F.lit(hmod)).cast("int").alias("_hmod"),
    )
    part_cols = ["_hmod"]
    if epoch_partitioned:
        bands = bands.withColumn("_epoch", F.lit(0).cast("int"))
        part_cols = ["_hmod", "_epoch"]
    write_partitioned(
        bands, f"{path}/bands", part_cols, ["band_id", "sig"], "overwrite",
        n_rows=row_bound(df, num_hashes),
    )
    spark.createDataFrame(
        [
            (
                int(num_hashes),
                int(n),
                int(hmod),
                str(hash_family),
                bool(epoch_partitioned),
            )
        ],
        "num_hashes int, shingle_n int, hmod int, hash_family string,"
        " epoch_partitioned boolean",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    write_store_manifest(path)  # stamp generation 0's file list (r12)


def minhash_upsert_store(
    spark,
    path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    epoch: int | None = None,
) -> None:
    """INCREMENTAL maintenance of a persisted signature store
    (:func:`minhash_build_store`): hash an ADMITTED batch with the
    store's pinned family (read from ``{path}/meta``) and APPEND its
    band rows to the ``_hmod`` partitions — the admission side of the
    ingest lifecycle: once a batch clears the near-dup gate
    (:func:`minhash_ingest_neardup`), its signatures join the store so
    every LATER batch dedups against it too, without ever rebuilding.

    Cost ∝ |batch| (signature agg over batch shingles + an append
    touching only the batch's sig buckets); corpus signatures are never
    read. Invariant (tests/test_invariants_r9.py +
    q_llm_store_upsert's oracle): the upserted store is ROW-IDENTICAL
    to build(corpus ∪ batch) — signatures are per-document and the
    bands table is an unordered set partitioned by a pure function of
    sig. Precondition: batch ids must be NEW (an id already in the
    store would duplicate its band rows; harmless for candidate
    generation — the probe dedups — but it inflates storage).
    Single-writer: the store's writer lease is held for the duration.

    EPOCH-PARTITIONED stores (built with ``epoch_partitioned=True``)
    require ``epoch`` (the micro-batch / ingest-day id, > 0) and write
    the batch's rows by DYNAMIC OVERWRITE of its own
    ``(_hmod, _epoch=epoch)`` partitions — a replayed epoch therefore
    REPLACES its first attempt instead of appending, which is what
    makes the streaming admission commit atomic (a crash anywhere
    between the upsert and the marker write is healed by the replay's
    overwrite; no duplicate band rows are possible). Passing ``epoch``
    to a flat store, or omitting it on an epoch store, fails loudly —
    the two layouts must never mix under one ``bands`` dir.

    Publishes as an atomic generation commit (single-writer via the
    store lease; readers see the pre- or post-upsert store, never a
    torn batch — operators/maintenance.store_generation)."""
    from flink_quickstart_spark.operators.maintenance import (
        read_store_rows,
        row_bound,
        store_generation,
        write_partitioned,
    )

    meta = read_store_rows(path, "meta")[0]
    family = getattr(meta, "hash_family", None) or "md5_60"
    is_epoch = bool(getattr(meta, "epoch_partitioned", False))
    if is_epoch and epoch is None:
        raise ValueError(
            "minhash_upsert_store: store is epoch-partitioned; pass "
            "epoch=<batch id> (> 0) so the write is an idempotent "
            "dynamic overwrite of that epoch's partitions."
        )
    if not is_epoch and epoch is not None:
        raise ValueError(
            "minhash_upsert_store: epoch given but the store is not "
            "epoch-partitioned (build it with epoch_partitioned=True); "
            "mixing layouts under one bands dir would break reads."
        )
    if is_epoch and int(epoch) <= 0:
        raise ValueError(
            "minhash_upsert_store: epoch must be > 0 (_epoch=0 is the "
            "base corpus partition; overwriting it would drop it)."
        )
    with store_generation(path, "minhash_upsert_store") as gen:
        bands = _minhash_band_rows(
            new_docs, id_col, text_col, meta.num_hashes, meta.shingle_n, family
        ).select(
            F.col(id_col),
            F.col("hash_idx").cast("int").alias("band_id"),
            "sig",
            F.pmod(F.col("sig"), F.lit(meta.hmod)).cast("int").alias("_hmod"),
        )
        part_cols, mode = ["_hmod"], "append"
        if is_epoch:
            bands = bands.withColumn("_epoch", F.lit(int(epoch)).cast("int"))
            part_cols, mode = ["_hmod", "_epoch"], "dynamic"
        write_partitioned(
            bands, os.path.join(gen, "bands"), part_cols, ["band_id", "sig"],
            mode, n_rows=row_bound(new_docs, meta.num_hashes),
        )


def ensure_minhash_store(
    df: DataFrame, path: str, source_path: str, **build_kwargs
) -> bool:
    """Fingerprint-guarded :func:`minhash_build_store` (same
    invalidation contract as the vector indexes)."""
    from flink_quickstart_spark.operators.similarity import _ensure_index

    return _ensure_index(
        lambda: minhash_build_store(df, path, **build_kwargs),
        path,
        source_path,
        "meta",
    )


def minhash_delete_store(
    spark,
    path: str,
    del_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """INCREMENTAL deletion from a persisted signature store — the
    retention counterpart of :func:`minhash_upsert_store`. Its locate
    step re-hashes the deletion batch with the store's pinned family:
    a document's band rows live in exactly the ``_hmod`` buckets that
    hashing computes (the signature is a pure function of the text).
    ``del_docs`` carries (id, text) for the same reason the
    vector deletes carry vectors: without the content, locating a doc's
    band rows means scanning every partition. Invariant:
    delete(build(corpus), X) == build(corpus \\ X) row-identically.
    Handles both flat and epoch-partitioned stores (the drop unit is
    then the (_hmod, _epoch) partition). The protocol (lease, pruned
    anti-join, emptied-partition drop, atomic publish; local paths
    only) is :func:`~.maintenance.delete_partition_local`."""
    from flink_quickstart_spark.operators.maintenance import (
        _is_epoch_partitioned,
        delete_partition_local,
        read_store_rows,
        store_data_dir,
    )

    def locate():
        meta = read_store_rows(path, "meta")[0]
        family = getattr(meta, "hash_family", None) or "md5_60"
        return _minhash_band_rows(
            del_docs, id_col, text_col, meta.num_hashes, meta.shingle_n, family
        ).select(
            F.col(id_col),
            F.pmod(F.col("sig"), F.lit(meta.hmod)).cast("int").alias("_hmod"),
        )

    # the epoch layout is a build-time property (see compact_minhash_store)
    epoch = _is_epoch_partitioned(store_data_dir(path, "bands"))
    delete_partition_local(
        spark, path, "minhash_delete_store", "bands",
        ["_hmod", "_epoch"] if epoch else ["_hmod"], ["band_id", "sig"],
        id_col, locate,
    )


def minhash_ingest_neardup(
    spark,
    path: str,
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    before_epoch: int | None = None,
) -> DataFrame:
    """Incremental near-dup: flag documents of an INGEST BATCH that
    near-duplicate the EXISTING corpus, without re-running LSH over the
    corpus — candidates come from the persisted signature store
    (:func:`minhash_build_store`), exact shingle Jaccard is computed
    for candidates only, and ``corpus_docs`` text is point-fetched via
    a semi-join for just those candidates. Returns
    (corpus_id, new_id, jaccard) with jaccard ≥ ``threshold`` — exact
    values, so the result is oracle-checkable against the all-pairs
    cross-set SQL (a true pair missed by every band has
    P = (1−j)^num_hashes ≤ 1.5e-5 at j = 0.5).

    Cost shape at 100 TB: the store scan reads signature rows only
    (~num_hashes longs/doc), partition-pruned by the batch's sig
    buckets; the batch side is hashed fresh with the store's pinned
    hash family (it is the small side); corpus TEXT is touched only
    for candidate ids. Nothing rescans the corpus body.

    PRECONDITION (r8 ADVICE): ``new_docs`` must be a DETERMINISTIC
    plan — the static partition-prune set is collected from one
    execution of it and the band join re-executes it; a bare
    limit()/sample() without an order can yield a prune set that
    disagrees with the join-side rows and silently drop matches.
    Materialize (localCheckpoint) a nondeterministic batch first.

    ``before_epoch`` (epoch-partitioned stores only): probe only store
    partitions with ``_epoch < before_epoch`` — partition-pruned, and
    the key to REPLAY-DETERMINISM in the streaming admission gate: a
    replayed epoch must not see its own first-attempt signatures in
    the store, exactly as it must not see its own first-attempt
    admissions in the corpus."""
    from flink_quickstart_spark.operators.maintenance import open_store_snapshot

    snap = open_store_snapshot(path)  # one resolve = one consistent snapshot
    meta = snap.rows("meta")[0]
    family = getattr(meta, "hash_family", None) or "md5_60"
    if before_epoch is not None and not bool(
        getattr(meta, "epoch_partitioned", False)
    ):
        raise ValueError(
            "minhash_ingest_neardup: before_epoch given but the store "
            "is not epoch-partitioned."
        )
    # r12-opt (guide §5): every intermediate below is BATCH- or
    # candidate-sized (never corpus-sized) and consumed by exactly two
    # downstream subtrees, so each was being computed twice — including
    # the batch signature job feeding both the prune-set collect and the
    # band join. Eager localCheckpoints materialize each once; unlike
    # cache-manager persists they are released by the ContextCleaner
    # when the caller drops the result (safe for the per-micro-batch
    # streaming admission path). Measured 10.1 s → 2.5 s at sf0.1
    # (noop sink). Bonus: the r8 determinism PRECONDITION is now
    # structural — prune set and join side read ONE materialization.
    new_bands = (
        _minhash_band_rows(
            new_docs, id_col, text_col, meta.num_hashes, meta.shingle_n, family
        )
        .select(
            F.col(id_col).alias("new_id"),
            F.col("hash_idx").cast("int").alias("band_id"),
            "sig",
        )
        .localCheckpoint(eager=True)
    )
    # static partition pruning: the batch's sig buckets (≤ hmod distinct
    # values — driver-bounded by construction)
    probed = [
        int(r._hmod)
        for r in new_bands.select(
            F.pmod(F.col("sig"), F.lit(meta.hmod)).cast("int").alias("_hmod")
        )
        .distinct()
        .collect()
    ]
    store = snap.read(spark, "bands").where(F.col("_hmod").isin(probed))
    if before_epoch is not None:
        store = store.where(F.col("_epoch") < int(before_epoch))
    cand = (
        store.join(new_bands.hint("shuffle_hash"), ["band_id", "sig"])
        .where(F.col(id_col) != F.col("new_id"))
        .select(F.col(id_col).alias("corpus_id"), "new_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # exact verify on candidates only; corpus text point-fetched.
    # r13 (§2.5): both exact-verify shingle explodes spread a narrow
    # scan first — the corpus-side explode otherwise runs inside the
    # input's single-row-group scan task (measured 5.5 s of the 7.3 s
    # key at sf0.1); no-op on a real multi-file corpus.
    sh_new = (
        word_shingles(_spread_if_narrow(new_docs), id_col, text_col,
                      meta.shingle_n)
        .select(F.col(id_col).alias("new_id"), "shingle")
        .localCheckpoint(eager=True)
    )
    # broadcast semi-join (guide §3.1, r12-opt): the candidate-id set is
    # BATCH-bounded (≤ batch × band matches — never corpus-sized, unlike
    # the corpus-pair cand of minhash_lsh_verified_pairs whose broadcast
    # OOM'd in r5), and the alternative shuffles the corpus TEXT column
    # for a point-fetch — the exact §8 anti-pattern (heavy payload moved
    # to meet a lightweight decision).
    corpus_hit = corpus_docs.join(
        F.broadcast(cand.select(F.col("corpus_id").alias(id_col)).distinct()),
        id_col,
        "left_semi",
    )
    sh_corpus = (
        word_shingles(_spread_if_narrow(corpus_hit), id_col, text_col,
                      meta.shingle_n)
        .select(F.col(id_col).alias("corpus_id"), "shingle")
        .localCheckpoint(eager=True)
    )
    sizes_new = sh_new.groupBy("new_id").agg(F.count(F.lit(1)).alias("n2"))
    sizes_corpus = sh_corpus.groupBy("corpus_id").agg(F.count(F.lit(1)).alias("n1"))
    # join-strategy discipline (the repo's standing rule): the candidate
    # table is the provably small side — SHUFFLE_HASH builds on IT; the
    # candidate-expanded shingles meet the batch's full shingle table
    # (both explode-derived, both with lying pre-explode estimates) via
    # MERGE, never a hash build of an exploded side (the r8 sf3 probe
    # caught exactly that: "not enough memory to build hash map")
    cand_sh = sh_corpus.join(cand.hint("shuffle_hash"), "corpus_id")
    common = (
        cand_sh.join(sh_new.hint("merge"), ["new_id", "shingle"])
        .groupBy("corpus_id", "new_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.hint("shuffle_hash")
        .join(sizes_corpus, "corpus_id")
        .hint("shuffle_hash")
        .join(sizes_new, "new_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n1") + F.col("n2") - F.col("n_common")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("corpus_id", "new_id", "jaccard")
    )
