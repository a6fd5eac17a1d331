"""Unit tests for composed operators on hand-built micro data — the
Flink-style operator-harness tests (SURVEY.md §5.3)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from flink_quickstart_spark.operators.dedup import exact_dedup, keep_first, simhash64
from flink_quickstart_spark.operators.joins import asof_join
from flink_quickstart_spark.operators.multimodal import (
    attach_fake_media,
    decode_stub,
    frame_sample_plan,
)
from flink_quickstart_spark.operators.similarity import brute_knn
from tests.conftest import SF_DIR


def ts(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def test_asof_join_backward_with_ties(spark):
    left = spark.createDataFrame(
        [(1, ts(10), "p1"), (1, ts(5), "p2"), (2, ts(7), "p3"), (3, ts(1), "p4")],
        "k int, t timestamp, name string",
    )
    right = spark.createDataFrame(
        [(1, ts(10), 100), (1, ts(4), 101), (2, ts(8), 102)],
        "k int, t timestamp, v int",
    )
    out = {
        r.name: r.r_v
        for r in asof_join(left, right, "k", "t", "t", ["v"]).collect()
    }
    # p1@10: right@10 matches (<= tie included); p2@5: right@4; p3@7: right@8
    # is later → no match; p4: no right rows for key 3.
    assert out == {"p1": 100, "p2": 101, "p3": None, "p4": None}


def test_asof_join_strict_excludes_ties(spark):
    left = spark.createDataFrame([(1, ts(10), "p1")], "k int, t timestamp, name string")
    right = spark.createDataFrame(
        [(1, ts(10), 100), (1, ts(2), 101)], "k int, t timestamp, v int"
    )
    out = asof_join(left, right, "k", "t", "t", ["v"], strict=True).collect()
    assert out[0].r_v == 101  # the equal-ts right row is out of frame


def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")], "id long, txt string"
    )
    out = {r.keep_id: r.n_copies for r in exact_dedup(df, "txt", "id").collect()}
    assert out == {1: 3, 2: 1}


def test_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [(1, 5, "x"), (1, 3, "y"), (2, 9, "z")], "k int, ord int, v string"
    )
    out = {r.k: r.v for r in keep_first(df, ["k"], ["ord"]).collect()}
    assert out == {1: "y", 2: "z"}


def test_simhash_identical_docs_equal_fingerprints(spark):
    df = spark.createDataFrame(
        [(1, "spark fast join"), (2, "spark fast join"), (3, "totally different words here")],
        "id long, txt string",
    )
    out = {r.id: r.simhash for r in simhash64(df, "id", "txt").collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]
    assert all(v >= 0 for v in out.values())  # bit 63 kept clear


def test_brute_knn_micro(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = brute_knn(df, k=1).collect()
    nearest = {r.query_id: r.nbr_id for r in out}
    assert nearest[1] == 2 and nearest[2] == 1 and nearest[3] == 2
    assert all(r.rank == 1 for r in out)


def test_multimodal_decode_stub_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "another doc")], "doc_id long, text string"
    )
    media = attach_fake_media(docs, "doc_id", "text")
    assert dict(media.dtypes)["payload"] == "binary"
    decoded = decode_stub(media, deterministic_fake=True)
    rows = {r.media_id: r for r in decoded.collect()}
    assert len(rows[1].feature) == 16
    assert rows[1].n_bytes == len("hello world")
    # determinism: same payload → same fake feature
    again = {r.media_id: r.feature for r in decode_stub(media, deterministic_fake=True).collect()}
    assert again[1] == rows[1].feature

    import pytest

    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        decode_stub(media, deterministic_fake=False).collect()


def test_frame_sample_plan(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"x"), ("video/fake", 10, 10, 3000, "c"))],
        "media_id long, payload binary, meta struct<media_type:string,width:int,height:int,duration_ms:bigint,codec:string>",
    )
    frames = frame_sample_plan(media, every_ms=1000).collect()
    assert [r.frame_ts_ms for r in frames] == [0, 1000, 2000, 3000]


def test_ivf_topk_recall_vs_brute(spark):
    """IVF with 4/16 probes must recover most true top-3 neighbors on the
    real embeddings table, and every reported sim must equal brute force's
    for the same pair."""
    from flink_quickstart_spark.operators.similarity import ivf_topk
    from flink_quickstart_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    truth = {(r.query_id, r.nbr_id): r.sim for r in brute_knn(emb, k=3).collect()}
    approx = {(r.query_id, r.nbr_id): r.sim for r in ivf_topk(emb, k=3).collect()}
    hits = len(set(truth) & set(approx))
    recall = hits / len(truth)
    assert recall >= 0.6, f"recall {recall:.2f} too low"
    for pair in set(truth) & set(approx):
        assert abs(truth[pair] - approx[pair]) < 1e-9


def test_lsh_ann_recall_vs_exact(spark):
    """Quantified approximation: LSH candidate pairs must capture most
    truly-close pairs (euclidean < 1.2 — the closest ~1% on these
    unit-norm vectors, matching the key's threshold) — the rows-only
    oracle key is backed by this recall floor."""
    from flink_quickstart_spark.operators.similarity import lsh_ann_buckets
    from flink_quickstart_spark.sources.tables import load_tables

    emb = load_tables(spark, SF_DIR).embeddings
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    d2 = ((m[:, None, :] - m[None, :, :]) ** 2).sum(axis=2)
    iu = np.triu_indices(len(ids), k=1)
    truth = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i, j in zip(*iu)
        if d2[i, j] ** 0.5 < 1.2
    }
    assert truth, "no close pairs in fixture — threshold too tight"
    got = {
        (r.d1, r.d2)
        for r in lsh_ann_buckets(emb, threshold=1.2).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"LSH recall {recall:.2f} below floor"


def test_minhash_recall_vs_exact_jaccard(spark):
    """Quantified approximation: MinHash LSH candidates must capture most
    pairs whose EXACT shingle Jaccard ≥ 0.5 (computed by the
    deterministic inverted-index operator)."""
    from flink_quickstart_spark.operators.dedup import (
        jaccard_neardup_pairs,
        minhash_lsh_pairs,
    )
    from flink_quickstart_spark.sources.tables import load_tables

    docs = load_tables(spark, SF_DIR).documents
    truth = {
        (r.d1, r.d2)
        for r in jaccard_neardup_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    if not truth:
        import pytest

        pytest.skip("no exact near-dup pairs at this SF")
    got = {
        (r.d1, r.d2)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"MinHash recall {recall:.2f} below floor"


def test_jaccard_hot_shingle_df_cap(spark):
    """The hot-shingle DF cap must (a) leave results bit-identical when it
    does not bind, and (b) prune the quadratic candidate explosion that a
    corpus-wide boilerplate shingle causes, while keeping genuinely
    near-duplicate pairs whose overlap is in distinguishing shingles."""
    from flink_quickstart_spark.operators.dedup import (
        jaccard_neardup_pairs,
        word_shingles,
    )

    # 8 docs sharing one boilerplate phrase; docs 6/7 are true near-dups.
    boiler = "all rights reserved worldwide"
    rows = [(i, f"{boiler} unique{i} text{i} body{i} tail{i}") for i in range(6)]
    rows += [
        (6, f"{boiler} same same same content here today"),
        (7, f"{boiler} same same same content here tomorrow"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def candidates(sh):
        a = sh.select(F.col("doc_id").alias("d1"), "shingle")
        b = sh.select(F.col("doc_id").alias("d2"), "shingle")
        return a.join(b, "shingle").where(F.col("d1") < F.col("d2")).count()

    sh_all = word_shingles(docs, "doc_id", "text", 3)
    hot = sh_all.groupBy("shingle").count().where(F.col("count") > 4)
    sh_capped = sh_all.join(hot.select("shingle"), "shingle", "left_anti")
    # The boilerplate shingles alone contribute 8*7/2 = 28 pairs each.
    assert candidates(sh_capped) < candidates(sh_all) - 20

    uncapped = {
        (r.d1, r.d2, r.jaccard)
        for r in jaccard_neardup_pairs(
            docs, "doc_id", "text", threshold=0.3
        ).collect()
    }
    nonbinding = {
        (r.d1, r.d2, r.jaccard)
        for r in jaccard_neardup_pairs(
            docs, "doc_id", "text", threshold=0.3, max_shingle_df=1000
        ).collect()
    }
    assert nonbinding == uncapped  # cap above max DF → bit-identical

    capped = {
        (r.d1, r.d2)
        for r in jaccard_neardup_pairs(
            docs, "doc_id", "text", threshold=0.3, max_shingle_df=4
        ).collect()
    }
    assert (6, 7) in capped  # true near-dup survives the cap
    # Boilerplate-only pairs are gone once the hot shingles are dropped.
    assert all(p == (6, 7) for p in capped)


def test_broadcast_budget_guard(spark):
    """brute_knn / cosine_neardup_pairs must fail fast with a message
    pointing at the IVF/LSH tiers when the corpus exceeds the broadcast
    budget — never OOM the driver mid-toPandas."""
    import pytest

    from flink_quickstart_spark.operators.similarity import (
        brute_knn,
        cosine_neardup_pairs,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 2.0]) for i in range(100)],
        "vec_id long, embedding array<float>",
    )
    # 100 vectors x dim 4 ≈ 4.8 KB estimate; a 1 KB budget must trip.
    with pytest.raises(ValueError, match="ivf_topk"):
        brute_knn(emb, k=2, max_broadcast_bytes=1024)
    with pytest.raises(ValueError, match="lsh_ann_buckets"):
        cosine_neardup_pairs(emb, threshold=0.9, max_broadcast_bytes=1024)
    # Within budget the operators still run.
    assert brute_knn(emb, k=2, max_broadcast_bytes=1 << 20).count() > 0


def test_native_python_udtf_lateral(spark):
    """J2 widened: Spark 4's native Python UDTF (@udtf class, registered
    + LATERAL-joined in SQL) must agree with the explode-based tokenizer
    — the API surface a Flink user maps flatMap/TableFunction onto when
    the expansion logic genuinely needs Python. (The explode route stays
    the production default: it is JVM-side.)"""
    from pyspark.sql.functions import udtf

    from flink_quickstart_spark.sources.tables import register_views

    @udtf(returnType="word: string, pos: int")
    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate((text or "").split(" ")):
                if w:
                    yield (w, i)

    spark.udtf.register("split_words_t", SplitWords)
    register_views(spark, SF_DIR)
    got = spark.sql(
        """
        SELECT d.doc_id, s.word, s.pos
        FROM documents d, LATERAL split_words_t(d.text) s
        WHERE d.doc_id < 20
        """
    )
    ref = spark.sql(
        """
        SELECT doc_id, col.word AS word, col.pos AS pos
        FROM (SELECT doc_id,
                     explode(filter(
                       transform(split(text, ' '),
                                 (w, i) -> struct(w AS word, i AS pos)),
                       x -> x.word <> '')) AS col
              FROM documents WHERE doc_id < 20)
        """
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
    assert got.count() > 0


def test_observe_quality_metrics(spark):
    """Flink-metrics analog: ``DataStream.with_metrics`` (in-plan
    ``DataFrame.observe``) counts rows and nulls with zero extra passes,
    and agrees with explicit recomputation."""
    from flink_quickstart_spark.api import DataStream, StreamExecutionEnvironment
    from flink_quickstart_spark.sources.tables import load_tables

    env = StreamExecutionEnvironment.get_execution_environment(spark)
    ev = load_tables(spark, SF_DIR).events.withColumn(
        "maybe", F.when(F.col("value") > 100, F.col("value"))
    )
    inst = DataStream(ev, env).with_metrics(
        "quality",
        n_rows=F.count(F.lit(1)),
        n_null_maybe=F.sum(F.when(F.col("maybe").isNull(), 1).otherwise(0)),
        sum_value=F.round(F.sum("value"), 2),
    )
    # one action over a downstream frame fills every metric
    n_out = inst.filter(F.col("event_type") != "__none__").to_df().count()
    m = env.metrics("quality")
    assert m["n_rows"] == ev.count() == n_out
    assert m["n_null_maybe"] == ev.where(F.col("maybe").isNull()).count()
    assert m["sum_value"] == round(
        ev.agg(F.sum("value")).first()[0], 2
    )


def test_join_strategy_hints(spark):
    """Join-strategy hints are honored: the same equi-join plans as
    shuffle-hash vs sort-merge under explicit hints (the manual override
    when AQE's choice is wrong for a known workload)."""
    from flink_quickstart_spark.sources.tables import load_tables

    t = load_tables(spark, SF_DIR)
    o = t.orders.hint("shuffle_hash")
    plan_shj = (
        t.customer.join(o, t.customer.c_custkey == o.o_custkey)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ShuffledHashJoin" in plan_shj, plan_shj
    o2 = t.orders.hint("merge")
    plan_smj = (
        t.customer.join(o2, t.customer.c_custkey == o2.o_custkey)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" in plan_smj, plan_smj


def test_salted_agg_equals_direct_on_random_data(spark):
    """Property: salted two-phase aggregation is bit-equal to the direct
    groupBy for count/sum/min/max on skewed random data (one hot key)."""
    import random

    from flink_quickstart_spark.operators.skew import salted_agg

    rng = random.Random(7)
    rows = [("hot" if rng.random() < 0.7 else f"k{rng.randrange(5)}",
             rng.randrange(-1000, 1000)) for _ in range(5000)]
    df = spark.createDataFrame(rows, "k string, v long").repartition(8)
    got = {
        r.k: (r.n, r.s, r.mn, r.mx)
        for r in salted_agg(
            df,
            ["k"],
            {
                "n": F.count(F.lit(1)),
                "s": F.sum("v"),
                "mn": F.min("v"),
                "mx": F.max("v"),
            },
            n_salts=16,
        ).collect()
    }
    ref = {
        r.k: (r.n, r.s, r.mn, r.mx)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    assert got == ref and "hot" in got


def test_gopher_filters_match_python_reference(spark):
    """q_text_gopher_filters agrees with an independent pure-Python
    computation of every rule on micro-documents covering each boundary:
    too short, repetition-heavy, stopword-free, and a keeper."""
    from collections import Counter

    from flink_quickstart_spark.plans import load_all
    from flink_quickstart_spark.plans.registry import REGISTRY

    load_all()
    docs = [
        (1, "short doc only"),                                   # < 20 words
        (2, " ".join(["spam"] * 30)),                            # repetition + no stopwords
        (3, " ".join("the quick brown fox jumps over a lazy dog".split() * 4)),
        (4, " ".join(f"w{i} of the corpus" for i in range(10))), # keeper-ish
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    assert "q_text_gopher_filters" in REGISTRY
    # The registered builder loads parquet, so recompute the identical
    # rule expressions on the micro frame and compare to pure Python.
    toks_rows = [(d, t) for d, text in docs for t in text.split() if t]
    counts = Counter(toks_rows)
    per = {}
    for d, _ in docs:
        items = {t: c for (dd, t), c in counts.items() if dd == d}
        n = sum(items.values())
        per[d] = {
            "n_words": n,
            "top": max(items.values()),
            "mean": sum(len(t) * c for t, c in items.items()) / n,
            "stop": sum(c for t, c in items.items()
                        if t in ("the", "a", "of", "and", "to")),
        }

    stats = {
        r.doc_id: r
        for r in df.select("doc_id", F.explode(F.split("text", r"\s+")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.max("c").alias("top_word_freq"),
            (F.sum(F.length("tok") * F.col("c")).cast("double")
             / F.sum("c").cast("double")).alias("mean_wl"),
            F.sum(F.when(F.col("tok").isin("the", "a", "of", "and", "to"),
                         F.col("c")).otherwise(0)).alias("n_stop"),
        )
        .collect()
    }
    for d, want in per.items():
        r = stats[d]
        assert r.n_words == want["n_words"]
        assert r.top_word_freq == want["top"]
        assert abs(r.mean_wl - want["mean"]) < 1e-12
        assert r.n_stop == want["stop"]
    # rule outcomes on the known fixtures
    keep = {
        d: (s.n_words >= 20 and s.n_words <= 100000
            and 2 <= s.mean_wl <= 10 and s.n_stop >= 2
            and s.top_word_freq / s.n_words <= 0.2)
        for d, s in stats.items()
    }
    assert not keep[1] and not keep[2] and keep[3]
