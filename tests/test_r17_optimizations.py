"""Equivalence pins for the r17 optimization round.

Each r17 optimization restructured how an operator computes while keeping
its values bit-identical (the oracle gate proves end-to-end equality;
these pins name the internal equivalence so a future refactor that breaks
one fails HERE with a named kernel):

  * the winnow sliding-window minimum as a branch-free ``least()`` over
    direct element accesses == ``array_min(slice(...))`` (tail windows
    shorter than W included on both forms),
  * ``bpe_train`` == the sequential one-argmax-per-round reference loop
    (same trajectory), on corpora built so batching several merges per
    argmax job WOULD be wrong. r17's guarded two-merges-per-job batching
    was unsound (self-pairs, and merges that recreate an existing symbol,
    can raise a pair's count) and has been removed; the sequential loop
    is the only one.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from espkinesis_spark.functions import common as C
from espkinesis_spark.functions import dedup
from espkinesis_spark.functions import text as T


def _sets_equal(a, b) -> bool:
    return a.exceptAll(b).union(b.exceptAll(a)).isEmpty()


def test_winnow_least_form_matches_slice_form(spark):
    """The r17 least()-over-element-accesses window minimum must equal the
    array_min(slice(...)) reference on docs exercising every window shape:
    longer than W, exactly W, shorter than W (degenerate single shingle),
    and duplicate-hash runs (array_distinct interplay)."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five"),  # 3 trigrams < W+2
        (3, "tiny doc"),  # degenerate: single sub-3-token shingle
        (4, "rep rep rep rep rep rep rep rep"),  # duplicate hashes
        (5, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    new = dedup.winnow_fingerprints(docs)
    ref = (
        docs.withColumn("__toks", T.tokens(F.col("text")))
        .withColumn(
            "__hs",
            F.expr(
                "transform("
                " transform(sequence(1, greatest(size(__toks) - 2, 1)),"
                f"  i -> concat_ws(' ', slice(__toks, i, {C.SHINGLE_WORDS}))),"
                " g -> CAST(conv(substring(md5(g), 1, 15), 16, 10) AS BIGINT)"
                f"  % {C.MINHASH_P})"
            ),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "array_distinct(transform(sequence(1, size(__hs)),"
                    f" i -> array_min(slice(__hs, i, {C.WINNOW_W}))))"
                )
            ).alias("fp"),
        )
    )
    assert _sets_equal(new, ref)


def _bpe_train_sequential(docs, merges=C.BPE_MERGES):
    """The pre-r17 one-argmax-per-round reference loop."""
    spark = docs.sparkSession
    wf = T._word_freqs(docs, "text")
    words = T._vocab_layout(
        wf.select(F.split("w", "").alias("s"), "freq").localCheckpoint(eager=True)
    )
    pairs_expr = F.expr(
        "transform(sequence(1, size(s) - 1), i -> struct(s[i-1] AS a, s[i] AS b))"
    )
    trajectory = []
    for rank in range(1, merges + 1):
        best = (
            words.filter(F.size("s") >= 2)
            .select("freq", F.explode(pairs_expr).alias("p"))
            .groupBy("p")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.col("p.a"), F.col("p.b"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0]["p"]["a"], best[0]["p"]["b"], best[0]["cnt"]
        trajectory.append((rank, a, b, int(cnt)))
        merged = a + b
        apply_merge = F.aggregate(
            F.col("s"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.get(acc, F.size(acc) - 1) == F.lit(a)) & (x == F.lit(b)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        if rank < merges:
            words = words.select(apply_merge.alias("s"), "freq")
            if rank % 3 == 0:
                words = words.localCheckpoint(eager=True)
    return trajectory


def _traj(df):
    return [
        (r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"]) for r in df.collect()
    ]


def test_bpe_batched_argmax_matches_sequential(spark, sf_dir):
    """The trainer must replay the sequential greedy trajectory exactly on
    the real fixture corpus."""
    from espkinesis_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    assert _traj(T.bpe_train(docs)) == _bpe_train_sequential(docs)


def test_bpe_guard_refuses_unsafe_batch(spark):
    """A corpus where naive batching WOULD be wrong: pre-merge counts are
    (a,b)=5, (x,a)=4, (q,r)=3, but merging (a,b) consumes every (x,a)
    occurrence into the NEW pair (x,ab)=4 — so round 2's true winner is
    (x,ab), which does not even exist before round 1. The trainer must
    produce the same trajectory as the reference loop."""
    rows = (
        [(i, "xab") for i in range(4)]
        + [(100, "ab")]
        + [(200 + i, "qr") for i in range(3)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    expected = [(1, "a", "b", 5), (2, "x", "ab", 4), (3, "q", "r", 3)]
    got = _traj(T.bpe_train(docs, merges=3))
    assert got == expected == _bpe_train_sequential(docs, merges=3)


def test_bpe_guard_batches_only_on_strict_separation(spark):
    """A tie directly under the runner-up (cnt(#2) == cnt(#3)): a new pair
    bounded by cnt(#3) could tie #2 and win on the lexicographic rule, so
    the trajectory must still match sequential."""
    # counts: (a,b)=4; (c,d)=3; (e,f)=3 — #2/#3 tie
    rows = (
        [(i, "ab") for i in range(4)]
        + [(10 + i, "cd") for i in range(3)]
        + [(20 + i, "ef") for i in range(3)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = _traj(T.bpe_train(docs, merges=3))
    assert got == _bpe_train_sequential(docs, merges=3)
    assert got == [(1, "a", "b", 4), (2, "c", "d", 3), (3, "e", "f", 3)]


def test_bpe_self_pair_counterexample(spark):
    """The counterexample that sank r17's two-merges-per-argmax batching:
    round 1 merges the self-pair (a,a)=8, leaving (aa,a)=4 — a pair that
    did not exist before, and that beats the pre-merge runner-up (c,d)=3
    which batching would have taken as round 2."""
    rows = [(i, "aaa") for i in range(4)] + [(10 + i, "cd") for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = _traj(T.bpe_train(docs, merges=2))
    assert got == [(1, "a", "a", 8), (2, "aa", "a", 4)]
    assert got == _bpe_train_sequential(docs, merges=2)
