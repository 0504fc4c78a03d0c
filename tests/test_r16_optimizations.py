"""Equivalence pins for the r16 optimization round.

Every optimization this round restructured an operator's PLAN while
keeping its values bit-identical (the oracle gate proves end-to-end
equality; these tests pin the specific internal equivalences so a future
refactor that breaks one fails HERE with a named kernel, not as a
mysterious oracle diff):

  * the numpy PQ assignment (``_nearest_l2`` in the one assignment
    kernel) == the DataFrame dot-fold argmin it replaced,
  * the assignment kernel's ``keep_vec`` subvector == assignment ⋈ corpus,
  * ex_pagerank's numeric node relabeling == the string-key trajectory.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from espkinesis_spark.functions import common as C
from espkinesis_spark.functions import dedup, similarity
from espkinesis_spark import queries as Q


def _sets_equal(a, b) -> bool:
    return a.exceptAll(b).union(b.exceptAll(a)).isEmpty()


def _dot(a, b):
    """The sequential dot-product fold: a 0.0-seeded left-to-right sum of
    the element products."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _pq_reference_codes(sub, cents):
    """The DataFrame PQ argmin the numpy kernel replaced: d² =
    round(svv − 2·sv·c + cc, 6) over sequential dot folds, and a
    lexicographic struct-min over (d², centroid_id), so ties go to the
    lowest id."""
    s = sub.withColumn("__svv", _dot(F.col("sv"), F.col("sv")))
    c = F.broadcast(cents.withColumn("__scc", _dot(F.col("c"), F.col("c"))))
    d2 = F.round(
        F.col("__svv") - 2 * _dot(F.col("sv"), F.col("c")) + F.col("__scc"),
        C.COSINE_ROUND,
    )
    return (
        s.join(c, "m")
        .groupBy("vec_id", "m")
        .agg(
            F.min(F.struct(d2.alias("d2"), F.col("centroid_id")))
            .getField("centroid_id")
            .alias("code")
        )
    )


def test_pq_assign_keep_sv_matches_joinback(spark, sf_dir):
    # the init codebook (float32 subvectors) and the one after a Lloyd
    # round (6-dp means)
    emb = Q._t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # (vec_id, m, sv): each vector split into PQ_M contiguous subvectors
    # of size div PQ_M dims
    w = f"(size(e) div {C.PQ_M})"
    sub = emb.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(C.PQ_M - 1))).alias("m"),
        F.col("embedding").cast("array<double>").alias("e"),
    ).select("vec_id", "m", F.expr(f"slice(e, m * {w} + 1, {w})").alias("sv"))
    for iters in (0, 1):
        books = similarity._lloyd(emb, C.PQ_M, C.PQ_K, iters, similarity._nearest_l2)
        want = _pq_reference_codes(sub, similarity._books_frame(spark, books))
        got = similarity._assign(emb, books, similarity._nearest_l2).select(
            "vec_id", "m", F.col("centroid_id").alias("code")
        )
        assert _sets_equal(got, want)


def test_dedup_clusters_window_form_components(spark):
    # chain 1-2-3-4-5, pair 10-11, triangle 20-21-22
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in dedup.dedup_clusters(pairs).collect()
    }
    want = {(i, 1) for i in (1, 2, 3, 4, 5)} | {(10, 10), (11, 10)} | {
        (i, 20) for i in (20, 21, 22)
    }
    assert got == want


def test_ivf_assign_keep_vec_matches_joinback(spark, sf_dir):
    emb = Q._t(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") % C.IVF_CENTROID_MOD == 0)
    books = similarity._vector_books(cents, 1)
    plain = similarity._assign(emb, books, similarity._nearest_cosine)
    kept = similarity._assign(emb, books, similarity._nearest_cosine, keep_vec=True)
    assert _sets_equal(
        kept.select("vec_id", "centroid_id"), plain.select("vec_id", "centroid_id")
    )
    # the passed-through vector is the original corpus vector
    back = kept.select("vec_id", F.col("sv").alias("embedding"))
    orig = emb.select("vec_id", F.col("embedding").cast("array<double>"))
    assert _sets_equal(back, orig)


def test_ts_similarity_scalar_scoring_matches_hof_reference(spark, sf_dir):
    from pyspark.sql import Window

    w = C.TSS_W
    ev = Q._t(spark, sf_dir, "events")
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, w - 1)
    )
    wins = ev.select(
        "user_id",
        F.col("event_id").alias("start_event_id"),
        F.collect_list("value").over(win).alias("arr"),
    ).filter(F.size("arr") == w)

    def znorm(arr):
        mean = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x) / F.lit(float(w))
        ex2 = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x) / F.lit(float(w))
        std = F.sqrt(F.greatest(ex2 - mean * mean, F.lit(0.0)))
        return F.when(std == 0.0, F.transform(arr, lambda x: F.lit(0.0))).otherwise(
            F.transform(arr, lambda x: (x - mean) / std)
        )

    q = (
        wins.filter(F.col("user_id") == C.TSS_QUERY_USER)
        .orderBy("start_event_id")
        .limit(1)
        .select(znorm(F.col("arr")).alias("qz"))
    )
    zw = wins.withColumn("zarr", znorm(F.col("arr")))
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(F.col("zarr"), F.col("qz"), lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ),
        6,
    )
    reference = (
        zw.crossJoin(F.broadcast(q))
        .select("user_id", "start_event_id", dist.alias("dist"))
        .orderBy("dist", "user_id", "start_event_id")
        .limit(C.TSS_TOPK)
    )
    current = Q.ex_ts_similarity(spark, sf_dir)
    assert reference.toPandas().equals(current.toPandas())


def test_pagerank_numeric_relabel_matches_string_trajectory(spark, sf_dir):
    from espkinesis_spark.functions import graph

    orders = Q._t(spark, sf_dir, "orders")
    li = Q._t(spark, sf_dir, "lineitem")
    string_edges = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    reference = graph.pagerank(string_edges)
    current = Q.ex_pagerank(spark, sf_dir)
    assert _sets_equal(reference, current)
