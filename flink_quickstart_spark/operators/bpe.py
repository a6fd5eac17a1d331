"""Byte-pair-encoding merge training (LLM vocabulary induction).

Reference surface [PK — SURVEY.md §0, checkout empty]: BPE merge
learning (Sennrich et al. 2016, public algorithm) is the standard
vocabulary-induction step of every LLM tokenizer pipeline. The
training loop is inherently iterative — each merge depends on the pair
counts AFTER the previous merge — so, like PageRank/connected
components (operators/iterative.py), the Spark mapping is a
driver-bounded loop over declarative steps.

Scale design (100 TB corpora):
- The loop runs over the **word-frequency table** (distinct word →
  count), not the corpus: tokenization + word counting is one
  explode + hash aggregate over the raw text, after which the working
  set is vocabulary-sized (millions of rows at worst — orders of
  magnitude smaller than the corpus) and each merge iteration touches
  only that table.
- Per iteration: one adjacent-pair explode + hash aggregate (single
  shuffle on the pair key), one ``TakeOrderedAndProject``-style top-1
  pull (a bounded 1-row driver scalar — the chosen pair must become a
  literal in the next plan, the same concession as the iterative-loop
  termination checks), then a pure map applying the merge.
- ``localCheckpoint`` every iteration truncates lineage so iteration k
  never re-tokenizes or re-applies merges 1..k-1.

Symbol representation: each word is rendered as its symbol sequence
with every symbol individually wrapped, e.g. ``lower`` →
``(l)(o)(w)(e)(r)``. Applying merge (a,b) is then a LITERAL string
replace of ``(a)(b)`` with ``(ab)`` — both Spark's ``F.replace`` and
the DuckDB oracle's ``replace`` scan left-to-right and consume the
replacement, which is exactly BPE's greedy non-overlapping merge
(``(a)(a)(a)(a)`` → ``(aa)(aa)``). Wrapping both sides of every
symbol makes the pattern unambiguous (no symbol contains a paren), so
the two engines agree byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_quickstart_spark.operators.iterative import _release
from flink_quickstart_spark.session import fits_driver

MERGE_SCHEMA = T.StructType(
    [
        T.StructField("step", T.IntegerType(), False),
        T.StructField("lhs", T.StringType(), False),
        T.StructField("rhs", T.StringType(), False),
        T.StructField("merged", T.StringType(), False),
        T.StructField("pair_count", T.LongType(), False),
    ]
)


def _wrap_symbols(word):
    """``lower`` → ``(l)(o)(w)(e)(r)`` (initial 1-char symbols)."""
    return F.regexp_replace(word, "(.)", r"($1)")


def _adjacent_pairs(df: DataFrame) -> DataFrame:
    """Explode the weighted adjacent-symbol pairs of wrapped column
    ``s``: one shuffle-free map (split + zip + explode), the aggregate
    happens in the caller."""
    syms = F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\)\(")
    pairs = df.withColumn("syms", syms).select(
        "cnt",
        F.expr(
            "explode(arrays_zip(slice(syms, 1, size(syms) - 1),"
            " slice(syms, 2, size(syms) - 1))) AS pr"
        ),
    )
    return pairs.select(
        F.col("pr")["0"].alias("lhs"), F.col("pr")["1"].alias("rhs"), "cnt"
    )


def _driver_bpe_merges(
    wrapped: list[str], cnts: list[int], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """The SAME greedy merge loop on the driver for a budget-sized
    vocabulary (r13, guide §1.2): each Spark iteration was one
    explode+aggregate job + a top-1 pull — pure job overhead at
    vocabulary scale — where the classic incremental trainer
    (Sennrich et al. 2016) updates pair counts only for words
    containing the merged pair. Selection (max pair count, ties on
    ascending BINARY (lhs, rhs) — compared as UTF-8 bytes, matching
    Spark/DuckDB string order) and application (left-to-right
    non-overlapping ``str.replace`` on the wrapped form, exactly
    ``F.replace``'s scan) are step-for-step identical to the
    distributed loop, so the merge table is value-identical."""
    from collections import Counter

    def pairs_of(s: str):
        syms = s[1:-1].split(")(")
        return [(syms[i], syms[i + 1]) for i in range(len(syms) - 1)]

    pc: Counter = Counter()
    for s, c in zip(wrapped, cnts):
        for pr in pairs_of(s):
            pc[pr] += c
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        if not pc:
            break  # vocabulary exhausted (all words single-symbol)
        (lhs, rhs), n = min(
            pc.items(),
            key=lambda kv: (-kv[1], kv[0][0].encode(), kv[0][1].encode()),
        )
        merges.append((step, lhs, rhs, lhs + rhs, int(n)))
        pat, rep = f"({lhs})({rhs})", f"({lhs}{rhs})"
        for i, s in enumerate(wrapped):
            if pat not in s:
                continue
            c = cnts[i]
            for pr in pairs_of(s):
                pc[pr] -= c
                if pc[pr] <= 0:
                    del pc[pr]
            s2 = s.replace(pat, rep)
            wrapped[i] = s2
            for pr in pairs_of(s2):
                pc[pr] += c
    return merges


def learn_bpe_merges(
    spark: SparkSession,
    words: DataFrame,
    n_merges: int,
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from a word-frequency table.

    ``words`` has columns ``word`` (string) and ``cnt`` (long). Returns
    the merge table ``(step, lhs, rhs, merged, pair_count)`` — an
    O(n_merges)-row DataFrame (the merge table IS driver-sized by
    definition; it ships to every tokenizer worker as a broadcast).

    Deterministic: ties in pair count break on (lhs, rhs) ascending
    binary string order, identical in Spark and the SQL oracle.

    Small-vocabulary fast path (r13): a word-frequency table within
    ``DRIVER_BUDGETS["bpe"]`` rows (session.py; the working set is
    vocabulary-sized by design — see the module docstring) trains with
    the incremental driver loop in :func:`_driver_bpe_merges`,
    value-identically; above the budget the distributed per-merge
    aggregate below is the path, unchanged.
    """
    w = words.select(_wrap_symbols("word").alias("s"), F.col("cnt")).localCheckpoint(
        eager=True
    )
    if fits_driver("bpe", w.count()):
        tbl = w.toArrow()
        merges_d = _driver_bpe_merges(
            tbl.column("s").to_pylist(),
            tbl.column("cnt").to_pylist(),
            n_merges,
        )
        _release(w)
        return spark.createDataFrame(merges_d, MERGE_SCHEMA)
    merges: list[tuple[int, str, str, str, int]] = []
    for step in range(1, n_merges + 1):
        top = (
            _adjacent_pairs(w)
            .groupBy("lhs", "rhs")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "lhs", "rhs")
            .limit(1)
            # bounded 1-row driver pull: the winning pair becomes a
            # literal in the next iteration's plan (plan-audit waiver)
            .first()
        )
        if top is None:  # vocabulary exhausted (all words single-symbol)
            break
        lhs, rhs, n = top["lhs"], top["rhs"], top["pair_count"]
        merges.append((step, lhs, rhs, lhs + rhs, n))
        prev = w
        w = w.select(
            F.replace(
                F.col("s"), F.lit(f"({lhs})({rhs})"), F.lit(f"({lhs}{rhs})")
            ).alias("s"),
            "cnt",
        ).localCheckpoint(eager=True)
        # the new snapshot is self-contained — release the superseded
        # one (r7: superseded localCheckpoints leak heap until session
        # end; see operators/iterative._release)
        _release(prev)
    _release(w)
    return spark.createDataFrame(merges, MERGE_SCHEMA)
