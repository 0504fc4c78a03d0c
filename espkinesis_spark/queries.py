"""Declared correctness queries: DQ-01..DQ-25 (SURVEY §2.10) + extensions.

Each entry is ``(spark, sf_dir) -> DataFrame``, DataFrame-API first, built
from the operator library so the declared inventory exercises the same code
paths users call. The streaming entries (``st_*``) are the availableNow
replay jobs of ``streaming/jobs.py``, registered directly. Every computed
column is aliased to match the oracle SQL in ``oracles.py`` exactly (the
driver compares by column name).

Ordering note: the driver's value-hash is order-insensitive, but ORDER BY is
kept where it defines the *result set* (LIMIT queries) and dropped where it
would only add a global sort stage.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from espkinesis_spark.functions import common as C
from espkinesis_spark.functions import dedup, multimodal, similarity, text
from espkinesis_spark.operators import core as ops
from espkinesis_spark.streaming import jobs
from espkinesis_spark.tables import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Reference-derived queries (SURVEY §2.10 DQ-01..DQ-17)
# --------------------------------------------------------------------------


def dq01(spark, sf_dir):
    """S1 scan: full-table count + id range (ref: transmitter PPM scan)."""
    return _t(spark, sf_dir, "events").agg(
        F.count("*").alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


def dq02(spark, sf_dir):
    """P1 truncating linear remap (ref: src/receiver/main.cpp:68-71)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select("event_id", ops.remap_range(F.col("value")).alias("sbus"))


def dq03(spark, sf_dir):
    """F6 range + sentinel predicate (ref: src/transmitter/main.cpp:190-213).

    The fixture's value column spans [0, ~560] and carries no literal
    sentinel, so the original [1000, 2000] ∪ {-1} predicate selected
    ZERO rows at every SF — green parity over the empty set proves
    neither leg (the round-10 vacuity audit). The range now sits inside
    the data ([100, 200]) and the sentinel is injected deterministically
    (every 97th event id — the ex_pii_scrub augmentation pattern),
    mirrored in the oracle, so BOTH predicate legs select rows."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "v",
        F.expr("CASE WHEN event_id % 97 = 0 THEN -1.0 ELSE value END"),
    )
    return ev.filter(
        F.col("v").between(100, 200) | (F.col("v") == -1)
    ).select("event_id")


def dq04(spark, sf_dir):
    """J1 point lookup by id (ref: TargetManager.h:66-89)."""
    return (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") == 42)
        .select("c_custkey", "c_name", "c_nationkey")
    )


def dq05(spark, sf_dir):
    """J3 lookup by attribute, first match (ref: TargetManager.h:112-135)."""
    return (
        _t(spark, sf_dir, "supplier")
        .orderBy("s_name", "s_suppkey")
        .select("s_suppkey", "s_name")
        .limit(1)
    )


def dq06(spark, sf_dir):
    """J4 registration-order id assignment (ref: TargetManager.h:49-63)."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    return ops.assign_ids(cust, "c_custkey").select("c_custkey", "reg_id")


def dq07(spark, sf_dir):
    """A2/A3 last value per key (ref: ack tracking / latest-frame hold)."""
    ev = _t(spark, sf_dir, "events")
    return ops.latest_per_key(ev, ["user_id"], "ts", ["event_id"]).select(
        "user_id", "event_type", "value"
    )


def dq08(spark, sf_dir):
    """A6 staleness: keys silent for >1h vs global max (ref: liveness)."""
    ev = _t(spark, sf_dir, "events")
    return ops.stale_keys(ev, ["user_id"], "ts", "INTERVAL 1 HOUR").select(
        "user_id", "last_ts"
    )


def dq09(spark, sf_dir):
    """A5 as-of semantics: latest purchase within 1h before each click
    (batch analog of override TTL, ref: src/transmitter/main.cpp:84-87)."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    res = ops.asof_last_match(
        clicks, purchases, key="user_id", left_ts="ts", right_ts="ts",
        lookback="INTERVAL 1 HOUR", right_val="event_id",
    )
    return res.select("event_id", F.col("asof_match").alias("active_override"))


def dq10(spark, sf_dir):
    """J5 fan-out: every key x every dim row (ref: radio broadcast loop)."""
    users = _t(spark, sf_dir, "events").select("user_id").distinct()
    region = _t(spark, sf_dir, "region").select("r_regionkey")
    return users.crossJoin(F.broadcast(region))


def dq11(spark, sf_dir):
    """T2/T4 resample: last event per key per minute (ref: pacing timers)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "user_id", F.date_trunc("minute", F.col("ts")).alias("w")
    ).agg(F.max("event_id").alias("last_event"))


def dq12(spark, sf_dir):
    """A4 snapshot aggregation by group (ref: targets_update doc)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_v")
    )


def dq13(spark, sf_dir):
    """A1 count (ref: TargetManager.h:138)."""
    return _t(spark, sf_dir, "supplier").agg(F.count("*").alias("n"))


def dq14(spark, sf_dir):
    """F2/F3 JSON field extraction with schema-typed cast."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k")
    )


def dq15(spark, sf_dir):
    """P3/P6 JSON build + re-extract round-trip (ref: TargetManager.h:145-182)."""
    ev = _t(spark, sf_dir, "events")
    j = F.to_json(F.struct("user_id", "event_type"))
    return ev.select(
        "event_id", F.get_json_object(j, "$.event_type").alias("event_type")
    )


def dq16(spark, sf_dir):
    """P2 hex formatting (ref: TargetManager.h:202-208 '%02X')."""
    return _t(spark, sf_dir, "nation").select(
        "n_nationkey", F.format_string("%02X", F.col("n_nationkey")).alias("hex2")
    )


def dq17(spark, sf_dir):
    """F6/K4 validation split into valid/skip/invalid classes."""
    ev = _t(spark, sf_dir, "events")
    cls = (
        F.when(F.col("value").between(1000, 2000), "valid")
        .when(F.col("value") == -1, "skip")
        .otherwise("invalid")
    )
    return ev.groupBy(cls.alias("cls")).agg(F.count("*").alias("n"))


# --------------------------------------------------------------------------
# North-star extensions (SURVEY §2.9, DQ-18..DQ-25)
# --------------------------------------------------------------------------


def dq18(spark, sf_dir):
    """Exact dedup groups with duplicates only.

    The fixture corpus is duplicate-free below sf0.1 (checked raw AND
    normalized), so the n > 1 filter returned the empty set at the
    driver gate's SF — vacuous parity (round-10 audit). Every 50th
    document is now replicated deterministically (offset id, same text —
    the ex_pii_scrub augmentation pattern, mirrored in the oracle), so
    the duplicate leg fires at every SF; organic sf0.1 duplicates ride
    along."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 10000000).alias("doc_id"), "text"
    )
    return (
        docs.union(dups)
        .groupBy("text")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .select("keep_id", "n")
    )


def dq19(spark, sf_dir):
    """Similarity top-1: nearest neighbor by rounded cosine, ties -> lowest id."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 50)
    return similarity.topk_bruteforce(queries_df, emb, k=1).select(
        "vec_id", "neighbor_id"
    )


def dq20(spark, sf_dir):
    """Text stats by language group."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.min("n_chars").alias("mn"),
        F.max("n_chars").alias("mx"),
        F.sum(
            F.when(F.length("text") == F.col("n_chars"), 1).otherwise(0)
        ).alias("len_ok"),
    )


def dq21(spark, sf_dir):
    """TPC-H Q1-style pricing summary — the flagship scan->filter->agg."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def dq22(spark, sf_dir):
    """Multi-join revenue rollup (customer x orders x lineitem x nation).

    Join order: facts join on their keys (shuffle), nation broadcast.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def dq23(spark, sf_dir):
    """Top-k with deterministic tie-break (TakeOrderedAndProject, no full sort)."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


def dq24(spark, sf_dir):
    """Set op: INTERSECT of event users and customer keys."""
    ev = _t(spark, sf_dir, "events").select(F.col("user_id").alias("k"))
    cu = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return ev.intersect(cu)


def dq25(spark, sf_dir):
    """Anti join: customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


# --------------------------------------------------------------------------
# LLM-data-pipeline extension queries (dedup / similarity / text / multimodal)
# --------------------------------------------------------------------------


def ex_dedup_exact(spark, sf_dir):
    """Exact dedup: all text groups with survivor id + multiplicity."""
    return dedup.exact_dedup_groups(_t(spark, sf_dir, "documents"))


def ex_minhash_sig(spark, sf_dir):
    """MinHash signatures (first 8 permutations) — exact md5-based oracle."""
    sh = dedup.shingles(_t(spark, sf_dir, "documents"))
    return dedup.minhash_signatures(sh, k=8)


def ex_neardup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup pairs, exact-Jaccard verified at >= 0.5."""
    return dedup.neardup_minhash(_t(spark, sf_dir, "documents"))


def ex_neardup_jaccard(spark, sf_dir):
    """Exact shared-shingle Jaccard near-dup baseline (non-LSH).

    df_cap=1000 bounds the hot-shingle self-join blow-up; testdata shingle
    document frequencies max out at ~25 so the cap is a no-op for the
    oracle while making the operator safe to point at a real corpus.
    """
    return dedup.neardup_jaccard_exact(_t(spark, sf_dir, "documents"), df_cap=1000)


def ex_simhash(spark, sf_dir):
    """48-bit SimHash signature per document."""
    return dedup.simhash(_t(spark, sf_dir, "documents"))


def ex_neardup_cosine(spark, sf_dir):
    """Embedding near-dup: pairs with rounded cosine >= 0.45."""
    return similarity.neardup_cosine(_t(spark, sf_dir, "embeddings"))


def ex_ann_topk(spark, sf_dir):
    """Brute-force cosine top-5 for query vectors (vec_id < 20)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < C.ANN_QUERY_MAX_ID)
    return similarity.topk_bruteforce(q, emb, k=C.ANN_TOPK).select(
        "vec_id", "rnk", "neighbor_id"
    )


def ex_containment_dedup(spark, sf_dir):
    """Shingle-containment near-dup (Broder's containment — the
    subset/boilerplate detector Jaccard misses): pairs where either
    direction's |A∩B|/|A| reaches CONTAIN_THRESHOLD. Single-pass
    shared-shingle self-join (one s-keyed exchange)."""
    return dedup.containment_pairs(_t(spark, sf_dir, "documents"))


def ex_ann_filtered(spark, sf_dir):
    """Metadata-FILTERED vector search (the production retrieval shape:
    a predicate narrows the corpus before similarity ranks it): top-3
    cosine neighbors per query vector restricted to vectors sharing the
    query's label. The label restriction is an EQUI-join key, so the
    search co-locates per label partition and cross-label pairs never
    materialize — the filter prunes the candidate space INSIDE the join,
    not after it."""
    from espkinesis_spark.functions.similarity import cosine, with_norm

    emb = _t(spark, sf_dir, "embeddings")
    q = with_norm(emb.filter(F.col("vec_id") < C.ANN_QUERY_MAX_ID)).select(
        "vec_id", "label", F.col("embedding").alias("__qv"), F.col("__norm").alias("__qn")
    )
    c = with_norm(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("__cl"),
        F.col("embedding").alias("__cv"),
        F.col("__norm").alias("__cn"),
    )
    pairs = (
        q.join(c, (q.label == c.__cl) & (q.vec_id != c.neighbor_id))
        .withColumn(
            "cos", cosine(F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn"))
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("vec_id", "label", "rnk", "neighbor_id", "cos")
    )


def ex_ann_ivf(spark, sf_dir):
    """IVF-bucketed approximate top-3 (deterministic centroids + nprobe)."""
    return similarity.topk_ivf(_t(spark, sf_dir, "embeddings"))


def ex_ann_lsh(spark, sf_dir):
    """LSH-bucketed approximate top-3 (sign-bit buckets over 8 dims)."""
    return similarity.topk_lsh(_t(spark, sf_dir, "embeddings"))


def ex_knn_graph(spark, sf_dir):
    """Degree-capped approximate mutual-kNN graph over the embedding
    corpus: LSH sign-bucket multiprobe candidates (the existing bounded
    source — one bucket-key shuffle, never corpus²), per-vector top-5 by
    cosine (row_number degree cap), then mutual-edge symmetrization via
    a self-join on the corpus-LINEAR n·k edge table. The graph feeds the
    existing PageRank/label-propagation entries at scale."""
    return similarity.knn_graph(_t(spark, sf_dir, "embeddings"))


def ex_knn_clusters(spark, sf_dir):
    """Semantic clustering by CONNECTIVITY: the mutual-kNN graph
    (ex_knn_graph's bounded LSH-multiprobe candidate source) pruned to
    STRONG edges (rounded cosine >= KNN_CLUSTER_MIN_COS — the raw
    mutual graph percolates into one giant component on any corpus),
    then fed into the large-star/small-star connected-components
    kernel — clusters = the pruned graph's components, cluster_id =
    min member id (the dedup_clusters contract), decorated with each
    cluster's size. The graph-native alternative to centroid
    clustering: no k to pick, no centroid trajectory to replay, and
    chain-shaped semantic neighborhoods stay single clusters where
    k-means splits them. Scale: edges are n·k (mutual-filtered,
    corpus-LINEAR), CC is O(log n) star rounds over that edge table,
    the size decoration is one cluster-keyed count — the corpus itself
    is never rescanned."""
    edges = similarity.knn_graph(_t(spark, sf_dir, "embeddings")).filter(
        F.col("cos") >= C.KNN_CLUSTER_MIN_COS
    )
    pairs = edges.select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    cc = dedup.dedup_clusters(pairs)
    sizes = cc.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return cc.join(sizes, "cluster_id").select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "cluster_size",
    )


def ex_knn_dedup_apply(spark, sf_dir):
    """Semantic dedup APPLIED via the kNN-graph clusters (completes the
    apply symmetry for the new cluster source — every cluster/pairs
    source ends in a dedup apply): each connectivity cluster keeps its
    min-id representative, the drop set is every other member, and the
    subtraction is the shared routed anti join (``apply_drop_set``,
    key='vec_id') — the embedding corpus scan is never shuffled.
    Survivor summary per label with an exact-integer id checksum."""
    vecs = _t(spark, sf_dir, "embeddings")
    edges = similarity.knn_graph(vecs).filter(
        F.col("cos") >= C.KNN_CLUSTER_MIN_COS
    )
    cc = dedup.dedup_clusters(
        edges.select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
    )
    drops = cc.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias("vec_id")
    )
    return (
        dedup.apply_drop_set(vecs, drops, key="vec_id")
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum("vec_id").cast("long").alias("sum_ids"),
        )
    )


def ex_perplexity_buckets(spark, sf_dir):
    """CCNet perplexity bucketing (Wenzek et al. 2020): every document
    scored under the corpus-trained bigram LM, then cut into head /
    middle / tail terciles of the corpus score distribution — the
    standard model-based quality gate for web-crawl training data (keep
    head, inspect middle, drop tail). Thresholds are exact discrete
    quantiles in integer micro-units, so the cut is engine-portable;
    ties take the lower bucket (pinned by test)."""
    return text.perplexity_buckets(_t(spark, sf_dir, "documents"))


def ex_balance_classes(spark, sf_dir):
    """Class-balanced downsampling: every language class reduced to the
    MINORITY class size (exact equalization — the complement of
    ex_domain_mix's temperature reweighting, which only tempers the
    skew). Membership is a deterministic md5-order top-m per class, so
    the sample is stable across runs, partitionings, and engines.
    Scale: one class-keyed count, a scalar min broadcast, one per-class
    window top-m — the window shuffles by class (5 langs here; at 100 TB
    the class count stays small while rows grow, so the per-class sort
    is the cost; a skewed giant class takes the salted two-phase top-m
    route ex_topk_per_group documents)."""
    docs = _t(spark, sf_dir, "documents")
    m = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("__n"))
        .agg(F.min("__n").cast("long").alias("__m"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("__r", F.row_number().over(w))
        .crossJoin(F.broadcast(m))
        .filter(F.col("__r") <= F.col("__m"))
        .select("doc_id", "lang", F.col("__r").cast("long").alias("sample_rank"))
    )


def ex_balance_classes_skew(spark, sf_dir):
    """The HOT-CLASS route for class balancing (the caveat
    ex_balance_classes documents, driver-proven — the
    ex_asof_features_skew precedent): the md5-order top-m per class runs
    in TWO phases — per (class, salt) partial top-m over
    BALANCE_SALTS deterministic salt partitions (each sort touches
    ~rows/SALTS — a giant class never serializes on one sort task),
    then the global per-class top-m over the ≤ SALTS·m phase-1
    survivors (a row can only be in the global top-m if it is in its
    salt-slice's top-m, so phase 1 is lossless). Output identical to
    ex_balance_classes; shares its oracle."""
    docs = _t(spark, sf_dir, "documents")
    m = (
        docs.groupBy("lang")
        .agg(F.count("*").alias("__n"))
        .agg(F.min("__n").cast("long").alias("__m"))
    )
    order = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]
    salted = docs.withColumn(
        "__salt", F.pmod(F.col("doc_id"), F.lit(C.BALANCE_SALTS))
    )
    w1 = Window.partitionBy("lang", "__salt").orderBy(*order)
    survivors = (
        salted.withColumn("__r1", F.row_number().over(w1))
        .crossJoin(F.broadcast(m))
        .filter(F.col("__r1") <= F.col("__m"))
    )
    w2 = Window.partitionBy("lang").orderBy(*order)
    return (
        survivors.withColumn("__r", F.row_number().over(w2))
        .filter(F.col("__r") <= F.col("__m"))
        .select("doc_id", "lang", F.col("__r").cast("long").alias("sample_rank"))
    )


def ex_zorder_layout(spark, sf_dir):
    """Z-order (Morton) layout key over events — the multi-dimensional
    clustering a 100 TB table wants at WRITE time: user_id and event
    time EACH range-quantized onto a 16-bit grid (both bounds from ONE
    scalar min/max pass, broadcast — a modular grid would leave any
    axis whose values undershoot the grid stuck in its low bits, never
    reaching the report's top bits), bits interleaved into one 32-bit
    z-value, then a 64-bucket layout report of rows per z-range plus
    the user- and time-EXTENT each range spans. Small extents on BOTH
    axes at once are the point of the curve (each bucket = one
    user-octile x one time-octile, so parquet footer stats prune on
    either predicate; a plain sort gets one axis only). The production
    write path is layout.zorder_write_plan (repartitionByRange +
    sortWithinPartitions on z — RangePartitioning plan-audited in
    tests); the report here is layout-key math + one bucket-keyed
    aggregate, all exact integers."""
    from espkinesis_spark.functions import layout

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_millis("ts").alias("t_ms")
    )
    bounds = ev.agg(
        F.min("t_ms").alias("__mn"),
        F.max("t_ms").alias("__mx"),
        F.min("user_id").cast("long").alias("__umn"),
        F.max("user_id").cast("long").alias("__umx"),
    )
    q = ev.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        "t_ms",
        layout.range_quantize("t_ms", "__mn", "__mx").alias("__tq"),
        layout.range_quantize("user_id", "__umn", "__umx").alias("__uq"),
    )
    z = q.select(
        "user_id",
        "t_ms",
        layout.z_value(F.col("__uq"), F.col("__tq")).alias("__z"),
    )
    shift = 2 * C.ZORDER_BITS - C.ZORDER_REPORT_BITS
    return (
        z.groupBy(F.shiftright(F.col("__z"), shift).alias("zbucket"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            (F.max("user_id") - F.min("user_id")).cast("long").alias("u_span"),
            (F.max("t_ms") - F.min("t_ms")).cast("long").alias("t_span_ms"),
        )
    )


def ex_zrange_query(spark, sf_dir):
    """Z-range box query — the READ side of the z-order layout: a
    (user-range × time-range) box is answered by first pruning to the
    z-buckets whose octile rectangles intersect the box, then applying
    the exact predicate to the survivors. The prefilter is LOSSLESS by
    the floor-div composition identity (octile(v) = (v-lo)·8 div span
    is monotone and equals the de-interleaved top-3 bucket bits), and
    the oracle answers the SAME box with the direct predicate and NO
    z-math at all — the equivalence IS the proof that bucket pruning
    dismisses nothing (the ex_range_join pattern). The pruning itself
    (≤25 of 64 octile cells for the quarter-box — half-range per axis
    spans 4-5 octiles) is pinned by test, along with losslessness over
    a sweep of box shapes; on a z-ordered file layout the same bucket
    set becomes parquet file skipping via footer stats (tests/test_io's
    write-path test)."""
    from espkinesis_spark.functions import layout

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "user_id", F.unix_millis("ts").alias("t_ms")
    )
    bounds = ev.agg(
        F.min("t_ms").alias("__mn"),
        F.max("t_ms").alias("__mx"),
        F.min("user_id").cast("long").alias("__umn"),
        F.max("user_id").cast("long").alias("__umx"),
    )
    # The z-bucket-set intersection test, evaluated in its algebraically
    # reduced form. A row's 6-bit report bucket is z_value(uq >> 13,
    # tq >> 13, bits=3), and bucket_axis_bits() just de-interleaves those
    # axis octiles back out — so "bucket's octile rectangle intersects
    # the box" is EXACTLY "(uq >> 13) BETWEEN box-octiles AND (tq >> 13)
    # BETWEEN box-octiles" (the interleave/de-interleave round-trip is
    # pinned by tests/test_extensions' z-report-bucket identity test and
    # the grid-corner test). Comparing the shifted quantiles directly
    # keeps the SAME surviving bucket set while dropping the z-interleave
    # from the per-row filter entirely: the r15-observed wide form (32
    # interleave terms, inlined ~12x by project collapse) blew Janino's
    # 64 KB method limit into interpreted execution, and even the
    # compiled 6-term form measured ~7x slower than this reduction at
    # sf0.1 (r16 A/B: 1.86s -> 0.26s steady-state). On the z-ordered
    # FILE layout the bucket set still drives footer-stat file skipping
    # (tests/test_io) — there the bucket is a stored column, not a
    # per-row recompute.
    axis_shift = C.ZORDER_BITS - C.ZORDER_REPORT_BITS // 2
    q = (
        ev.crossJoin(F.broadcast(bounds))
        .withColumn("__uq", layout.range_quantize("user_id", "__umn", "__umx"))
        .withColumn("__tq", layout.range_quantize("t_ms", "__mn", "__mx"))
        # the middle-half box on each axis, in raw units (exact ints)
        .withColumn("__qulo", F.expr("__umn + (__umx - __umn + 1) div 4"))
        .withColumn("__quhi", F.expr("__umn + (3 * (__umx - __umn + 1)) div 4 - 1"))
        .withColumn("__qtlo", F.expr("__mn + (__mx - __mn + 1) div 4"))
        .withColumn("__qthi", F.expr("__mn + (3 * (__mx - __mn + 1)) div 4 - 1"))
    )
    pre = q.filter(
        F.shiftright(F.col("__uq"), axis_shift).between(
            F.expr("(__qulo - __umn) * 8 div (__umx - __umn + 1)"),
            F.expr("(__quhi - __umn) * 8 div (__umx - __umn + 1)"),
        )
        & F.shiftright(F.col("__tq"), axis_shift).between(
            F.expr("(__qtlo - __mn) * 8 div (__mx - __mn + 1)"),
            F.expr("(__qthi - __mn) * 8 div (__mx - __mn + 1)"),
        )
    )
    exact = pre.filter(
        F.col("user_id").between(F.col("__qulo"), F.col("__quhi"))
        & F.col("t_ms").between(F.col("__qtlo"), F.col("__qthi"))
    )
    return exact.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


def ex_zrange_bigmin(spark, sf_dir):
    """BIGMIN-style z-range box query — the tighter read-side pruning the
    octile cross-product (``ex_zrange_query``) can't deliver on SKEWED
    boxes. A (middle-SIXTEENTH of users) x (middle-half of time) box
    keeps whole user-octiles under the 3-bit-per-axis grid — 2x the
    rows/files it needs on the thin axis — while the quadtree z-interval
    cover (``layout.z_box_intervals``, Tropf & Herzog 1981) descends
    until the box is tiled exactly or the 32-interval budget is hit, so
    the prefilter is a broadcast LEFT-SEMI range join against the
    (budget-bounded, driver-side) interval list
    (``layout.z_interval_prefilter``). The cover is computed at
    plan-build time from ONE 4-scalar min/max reduce (a summary collect,
    the IVF-centroid / sketch-interval precedent — never data-sized;
    note for explain-only tooling: this makes DataFrame CONSTRUCTION
    itself run one small Spark job — tools/plan_sweep.py documents the
    exception); no shuffle added, no UDF, and on a z-ordered layout the
    same intervals ARE the parquet footer-stat file skip (tests/test_io
    pins files-read < files-written and that the interval set skips at
    least as many files as the octile set).
    The oracle answers the SAME box with the direct predicate and NO
    z-math — the equivalence proves the cover dismisses nothing
    (losslessness: quantization is monotone, every matching cell lies in
    an emitted quad, a quad's z-values are contiguous)."""
    from espkinesis_spark.functions import layout

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "user_id", F.unix_millis("ts").alias("t_ms")
    )
    b = ev.agg(
        F.min("t_ms").alias("mn"),
        F.max("t_ms").alias("mx"),
        F.min("user_id").cast("long").alias("umn"),
        F.max("user_id").cast("long").alias("umx"),
    ).first()
    umn, umx, mn, mx = b["umn"], b["umx"], b["mn"], b["mx"]
    span_u, span_t = umx - umn + 1, mx - mn + 1
    # the skewed box, exact ints (the oracle replays this arithmetic)
    qulo, quhi = umn + 7 * span_u // 16, umn + 8 * span_u // 16 - 1
    qtlo, qthi = mn + span_t // 4, mn + 3 * span_t // 4 - 1

    intervals = layout.z_box_intervals(
        layout.range_quantize_py(qulo, umn, umx),
        layout.range_quantize_py(quhi, umn, umx),
        layout.range_quantize_py(qtlo, mn, mx),
        layout.range_quantize_py(qthi, mn, mx),
    )
    bounds = spark.range(1).select(
        F.lit(mn).alias("__mn"),
        F.lit(mx).alias("__mx"),
        F.lit(umn).alias("__umn"),
        F.lit(umx).alias("__umx"),
    )
    z = ev.crossJoin(F.broadcast(bounds)).withColumn(
        "__z",
        layout.z_value(
            layout.range_quantize("user_id", "__umn", "__umx"),
            layout.range_quantize("t_ms", "__mn", "__mx"),
        ),
    )
    exact = layout.z_interval_prefilter(z, "__z", intervals).filter(
        F.col("user_id").between(F.lit(qulo), F.lit(quhi))
        & F.col("t_ms").between(F.lit(qtlo), F.lit(qthi))
    )
    return exact.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


def ex_lang_id(spark, sf_dir):
    """Heuristic language identification."""
    return text.lang_id(_t(spark, sf_dir, "documents")).select("doc_id", "lang_pred")


def ex_text_stats(spark, sf_dir):
    """Per-document quality statistics."""
    return text.text_stats(_t(spark, sf_dir, "documents"))


def ex_token_count(spark, sf_dir):
    """Whitespace + BPE-ish regex token counts."""
    return text.token_counts(_t(spark, sf_dir, "documents"))


def ex_fingerprint(spark, sf_dir):
    """Key-collision fingerprint + rolling-hash prefix fingerprint."""
    return text.fingerprints(_t(spark, sf_dir, "documents"))


def ex_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity splits sessions)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros (not a raw numeric cast) so the gap math is explicit about
    # epoch semantics and independent of the column's on-disk encoding
    ts_sec = F.unix_micros(F.col("ts")) / F.lit(1000000.0)
    gap = ts_sec - F.lag(ts_sec).over(w)
    new_sess = F.when(gap.isNull() | (gap > C.SESSION_GAP_MINUTES * 60), 1).otherwise(0)
    sess = (
        ev.withColumn("__new", new_sess)
        .withColumn(
            "session_id",
            F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
        )
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
    )


def ex_multimodal_meta(spark, sf_dir):
    """Binary-column metadata: byte length + content md5."""
    media = multimodal.attach_binary(_t(spark, sf_dir, "documents"))
    return media.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.content_md5").alias("content_md5"),
    )


def ex_multimodal_features(spark, sf_dir):
    """Real encode → decode → feature path: each document's bytes become an
    actual RIFF/WAVE container (8-bit PCM), the pure-Python codec parses the
    chunk structure back, and features (n_samples, rate, channels, mean/peak
    amplitude) come from the decoded samples. The oracle recomputes the
    same features from the text bytes, so the decode round-trip is
    value-checked, not rows-only."""
    media = multimodal.synthesize_wav(_t(spark, sf_dir, "documents"))
    return multimodal.extract_features(media).withColumn(
        "mean_val", F.round(F.col("sum_val") / F.col("n_units"), 4)
    )


def ex_multimodal_frames(spark, sf_dir):
    """Frame sampling over binary payloads: every 3rd 64-byte frame, md5'd
    (video-keyframe plumbing; payload bytes are ASCII so the oracle computes
    the same frames in text space)."""
    media = multimodal.attach_binary(_t(spark, sf_dir, "documents"))
    return multimodal.sample_frames(media)


def ex_multimodal_resize(spark, sf_dir):
    """Resize: fixed 8x8 'thumbnail' per payload via byte striding.
    Restricted to payloads >= 64 bytes (the strided path — the pad-cycle
    path for tiny payloads is unit-tested) and summarized as md5(thumb) so
    the oracle can rebuild the identical strided selection in text space
    (payloads are ASCII, asserted in tests)."""
    media = multimodal.attach_binary(
        _t(spark, sf_dir, "documents").filter(F.length("text") >= 64)
    )
    return multimodal.resize_media(media).select(
        "doc_id", "width", "height", F.md5(F.col("thumb")).alias("thumb_md5")
    )


def ex_image_neardup(spark, sf_dir):
    """Perceptual image near-dup (the multimodal leg of the dedup stack):
    synthesize REAL 24-bpp BMP containers from the documents (9x8 gray
    grid, fixed-stride prefix sampling so near-dup docs yield near-dup
    images), dHash each through the real decode path, then a banded
    Hamming candidate join (16-bit bands — an equi-join, never
    all-pairs) with exact xor-popcount verification at radius
    IMG_HAM_MAX. Every step is integer-exact, so the oracle replays the
    pixel grid, the 64 gradient bits, the bands, and the Hamming filter
    from the raw text."""
    media = multimodal.synthesize_gray_bmp(_t(spark, sf_dir, "documents"))
    return multimodal.hamming_neardup(
        multimodal.image_dhash(media), max_hamming=C.IMG_HAM_MAX
    )


def ex_image_dedup_apply(spark, sf_dir):
    """Perceptual dedup APPLIED (closes the modality asymmetry — text had
    pairs → clusters → drop set → surviving corpus, image stopped at
    pairs): dHash Hamming pairs → large-star/small-star connected
    components → drop non-canonical members → per-source survivor
    summary. The corpus scan is never shuffled (dedup_apply's routed
    anti-join shape); the only non-dim exchanges touch the ~40 B/doc
    fingerprint table and the pair/cluster frames."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.synthesize_gray_bmp(docs)
    return media_dedup_summary(
        docs,
        multimodal.hamming_neardup(multimodal.image_dhash(media), max_hamming=C.IMG_HAM_MAX),
    )


def ex_audio_dedup_apply(spark, sf_dir):
    """Acoustic dedup APPLIED: envelope-fingerprint Hamming pairs →
    connected components → drop set → per-source survivor summary, the
    same shared pairs→clusters→apply tail as the image/text chains
    (``dedup.apply_drop_set``). Corpus scan never shuffled."""
    docs = _t(spark, sf_dir, "documents")
    media = multimodal.synthesize_tone_wav(docs)
    return media_dedup_summary(
        docs,
        multimodal.hamming_neardup(
            multimodal.audio_envelope_hash(media), max_hamming=C.AUD_HAM_MAX
        ),
    )


def ex_video_dedup_apply(spark, sf_dir):
    """Video-shape dedup APPLIED: shared-keyframe pairs → connected
    components → drop set → per-source survivor summary (the
    ``apply_drop_set`` tail). Completes the modality symmetry — every
    near-dup pairs source (text MinHash, substring, image, audio, video)
    now ends in a deduplicated corpus."""
    docs = _t(spark, sf_dir, "documents")
    return media_dedup_summary(
        docs,
        multimodal.shared_frame_neardup(
            multimodal.sample_frames(multimodal.attach_binary(docs))
        ),
    )


def media_dedup_summary(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The tail of every media dedup-apply entry, batch and stream:
    (doc_id_a, doc_id_b) near-dup pairs → ``dedup.apply_pairs`` →
    ``dedup.survivor_summary`` over ``docs``."""
    return dedup.survivor_summary(
        dedup.apply_pairs(
            docs,
            pairs.select(F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b")),
        )
    )


def ex_waiting_orders(spark, sf_dir):
    """TPC-H Q21-shape: suppliers who SOLELY kept a finished multi-supplier
    order waiting (shipped > 60 days after the order date while every
    other supplier on the order shipped on time) — the classic
    EXISTS + NOT-EXISTS double-correlation stress. The Spark plan
    decorrelates to two stacked aggregations over ONE orderkey-keyed
    exchange (per-(order, supplier) late flag, then per-order
    supplier/late counts — the second agg reuses the first's
    partitioning since orderkey is its prefix), a filter, and a
    broadcast supplier-dim probe. No per-row subquery, no self-join of
    lineitem against itself."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
                ).cast("int")
            ).alias("late")
        )
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum("late").alias("n_late"),
        F.max(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("late_supp"),
    )
    numwait = (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .groupBy(F.col("late_supp").alias("s_suppkey"))
        .agg(F.count("*").cast("long").alias("numwait"))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return numwait.join(F.broadcast(s), "s_suppkey").select(
        "s_suppkey", "s_name", "numwait"
    )


def ex_image_neardup_incr(spark, sf_dir):
    """Incremental perceptual ingest: new documents (doc_id % 10 == 0)
    checked against the EXISTING corpus fingerprint store only — the
    candidate join is batch x corpus, never corpus x corpus (the
    production shape for continuous ingestion; text's
    ex_dedup_incremental for the Hamming modality)."""
    docs = _t(spark, sf_dir, "documents")
    hashes = multimodal.image_dhash(multimodal.synthesize_gray_bmp(docs))
    new_h = hashes.filter(F.col("doc_id") % 10 == 0)
    corpus_h = hashes.filter(F.col("doc_id") % 10 != 0)
    return multimodal.hamming_neardup_incremental(
        new_h, corpus_h, max_hamming=C.IMG_HAM_MAX
    )


def ex_image_neardup_wide(spark, sf_dir):
    """The corpus-scale candidate-volume knob exercised end-to-end:
    ``hamming_neardup(bucket_bands=2)`` groups two adjacent 16-bit bands
    into one 32-bit candidate bucket, quartering expected candidate
    volume at the cost of recall beyond Hamming radius
    n_bands/bucket_bands − 1 (the pigeonhole contract; every emitted
    pair's distance is still exact). The oracle replays the grouped
    bucket rule — band-ordered value concatenation per (doc, group) —
    so the driver hash proves the knob's candidate semantics, not just
    the shared verify stage."""
    media = multimodal.synthesize_gray_bmp(_t(spark, sf_dir, "documents"))
    return multimodal.hamming_neardup(
        multimodal.image_dhash(media), max_hamming=C.IMG_HAM_MAX, bucket_bands=2
    )


def ex_video_neardup(spark, sf_dir):
    """Video-shape near-dup (shared sampled keyframes): the keyframe
    table from the frame-sampling stage (every 3rd 64-byte frame, md5 —
    ex_multimodal_frames' plumbing) pairs documents sharing >=
    VID_SHARED_FRAMES distinct frame hashes. Hot frames (document
    frequency > VID_FRAME_DF_CAP) are dropped first — the same
    hot-shingle guard as the text dedup pipeline — so candidate volume
    stays linear. One hash-keyed equi-join + one pair-keyed count;
    payload bytes are ASCII so the oracle computes the identical frames
    in text space."""
    media = multimodal.attach_binary(_t(spark, sf_dir, "documents"))
    return multimodal.shared_frame_neardup(multimodal.sample_frames(media))


def ex_audio_neardup(spark, sf_dir):
    """Acoustic near-dup: synthesize REAL RIFF/WAVE containers from the
    documents (first AUD_FP_SAMPLES codepoints as 8-bit PCM), fingerprint
    each clip through the real decode path as energy-envelope gradient
    signs (Haitsma-Kalker shape: 32 exact-integer window sums -> 31
    bits), then the same banded Hamming join at radius AUD_HAM_MAX.
    Integer-exact end to end; the oracle replays windows/bits/bands from
    the raw text."""
    media = multimodal.synthesize_tone_wav(_t(spark, sf_dir, "documents"))
    return multimodal.hamming_neardup(
        multimodal.audio_envelope_hash(media), max_hamming=C.AUD_HAM_MAX
    )


# --------------------------------------------------------------------------
# Relational-analytics widening (rollup/pivot/percentiles/window/semi-join) —
# the aggregation & window surface SURVEY §2.5 notes as absent-but-declared.
# --------------------------------------------------------------------------


def ex_rollup(spark, sf_dir):
    """ROLLUP aggregation over returnflag x linestatus."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


def ex_pivot(spark, sf_dir):
    """Pivot event_type into per-user count columns (schema fixed for scale:
    explicit pivot values avoid a discovery pass)."""
    ev = _t(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
    )
    return piv.select(
        "user_id",
        *[
            F.coalesce(F.col(c), F.lit(0)).cast("long").alias(f"n_{c}")
            for c in ["click", "error", "purchase", "signup", "view"]
        ],
    )


def ex_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (median / p90) per event type."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
    )


def ex_window_analytics(spark, sf_dir):
    """Ranking + running aggregate per customer over their orders."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).cast("long").alias("rnk"),
        F.round(F.sum("o_totalprice").over(run), 2).alias("running_total"),
        F.round(F.lag("o_totalprice", 1).over(w), 2).alias("prev_price"),
    )


def ex_semijoin(spark, sf_dir):
    """Left-semi join: customers that have at least one order (EXISTS)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")


def ex_topk_per_group(spark, sf_dir):
    """Top-3 parts by retail price per brand (WindowGroupLimit path)."""
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        p.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("p_brand", "rnk", "p_partkey", "p_retailprice")
    )


def ex_shipping_priority(spark, sf_dir):
    """TPC-H Q3-style: top-10 unshipped orders by revenue (join + agg + top-k)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def ex_cube(spark, sf_dir):
    """CUBE aggregation over order status x priority (all 4 grouping sets)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("sum_price")
    )


def ex_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS ((returnflag), (linestatus), ())."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
    ).agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))


def ex_exists_shipped(spark, sf_dir):
    """TPC-H Q4-style: orders with at least one line shipped after the order
    date, counted by priority (correlated EXISTS ≡ left-semi join)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    sem = o.join(
        li, (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate), "left_semi"
    )
    return sem.groupBy("o_orderpriority").agg(F.count("*").alias("n"))


def ex_except(spark, sf_dir):
    """Set difference: customer keys that never appear as event users.

    Direction matters for non-vacuous evidence: event user ids are a
    SUBSET of customer keys at every SF, so the original
    events-minus-customers form was always empty (round-10 vacuity
    audit — a green hash over the empty set proves only that nothing
    spurious is emitted). Customers-minus-event-users is large and
    SF-sensitive, exercising the EXCEPT machinery for real."""
    ev = _t(spark, sf_dir, "events").select(F.col("user_id").alias("k")).distinct()
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return c.distinct().exceptAll(ev)


def ex_distinct_agg(spark, sf_dir):
    """Distinct aggregation: unique users + row count per event type."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("nu"), F.count("*").alias("n")
    )


def ex_custdist(spark, sf_dir):
    """TPC-H Q13-style: distribution of customers by order count (left outer
    join keeps zero-order customers; the dim side broadcasts)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def ex_promo_share(spark, sf_dir):
    """TPC-H Q14-style scalar aggregate: revenue share of large parts
    (p_size > 25), part dim broadcast into the lineitem scan."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_size")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return joined.agg(
        F.round(
            F.lit(100.0) * F.sum(F.when(F.col("p_size") > 25, rev)) / F.sum(rev), 4
        ).alias("large_share")
    )


def ex_scalar_funcs(spark, sf_dir):
    """Scalar string/math function surface over the nation dim."""
    n = _t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.upper("n_name").alias("up"),
        F.lower("n_name").alias("lo"),
        F.substring("n_name", 1, 3).alias("pre3"),
        F.length("n_name").cast("long").alias("len"),
        F.reverse(F.col("n_name")).alias("rev"),
        F.lpad(F.col("n_nationkey").cast("string"), 4, "0").alias("pad"),
        F.replace(F.col("n_name"), F.lit("A"), F.lit("@")).alias("repl"),
        (F.col("n_nationkey") % 7).cast("long").alias("m7"),
        F.round(F.sqrt(F.col("n_nationkey")), 6).alias("rt"),
        F.abs(F.col("n_nationkey") - 12).cast("long").alias("dist12"),
    )


def ex_range_window(spark, sf_dir):
    """Time-range window frame: per user, rolling 1h sum/count of event
    values (RANGE BETWEEN interval, not row-count frames)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp(F.col("ts")))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("sum_1h"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
    )


def ex_array_agg(spark, sf_dir):
    """Complex-type surface: per-order sorted line-number arrays + element
    ops (slice, contains, max). Array columns are emitted as CSV strings —
    the driver's canonicalizer cannot sort/hash raw array columns."""
    li = _t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_linenumber")).alias("lines")
    )
    return agg.select(
        "l_orderkey",
        F.concat_ws(",", F.col("lines").cast("array<string>")).alias("lines_csv"),
        F.size("lines").cast("long").alias("n"),
        F.concat_ws(",", F.slice("lines", 1, 2).cast("array<string>")).alias(
            "first2_csv"
        ),
        F.array_contains("lines", 1).alias("has1"),
        F.array_max("lines").alias("mx"),
    )


def ex_approx_distinct(spark, sf_dir):
    """Sketch aggregation: HLL approx distinct vs exact, emitting only
    violations of the 5% tolerance — the oracle expects zero rows, so the
    driver gate asserts the sketch's accuracy contract distributedly.
    rsd is pinned to 0.01 (5x headroom under the gate): the default 0.05
    sketch measured 6.7% error on the 10k-distinct sf0.1 groups — a
    1-sigma sketch cannot back a 1-sigma tolerance."""
    ev = _t(spark, sf_dir, "events")
    checked = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx"),
        F.countDistinct("user_id").alias("exact"),
    )
    return checked.filter(
        F.abs(F.col("approx") - F.col("exact")) > 0.05 * F.col("exact")
    ).select("event_type", "approx", "exact")


def ex_unpivot(spark, sf_dir):
    """Unpivot (stack) three lineitem measures into rows, then aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    stacked = li.selectExpr(
        "l_returnflag",
        "stack(3, 'quantity', l_quantity, 'discount', l_discount, 'tax', l_tax)"
        " AS (measure, val)",
    )
    return stacked.groupBy("l_returnflag", "measure").agg(
        F.round(F.sum("val"), 2).alias("total")
    )


def ex_scd2_history(spark, sf_dir):
    """SCD2-style validity intervals: each purchase's value holds per user
    until their next purchase (lead() closes the interval; NULL = current)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round("value", 4).alias("val"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


def ex_string_funcs2(spark, sf_dir):
    """Second string-function batch: translate, split_part, repeat,
    left/right slices, substring position."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.translate("p_name", "aeiou", "AEIOU").alias("tr"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("w1"),
        F.repeat(F.substring("p_name", 1, 2), 3).alias("rep"),
        F.substring("p_name", 1, 4).alias("l4"),
        F.col("p_name").substr(F.length("p_name") - 3, F.lit(4)).alias("r4"),
        F.instr("p_name", "a").cast("long").alias("pos_a"),
    )


def ex_map_funcs(spark, sf_dir):
    """Map-type surface: build a measure map per line item, extract by key,
    report cardinality."""
    li = _t(spark, sf_dir, "lineitem")
    m = F.create_map(
        F.lit("qty"), F.col("l_quantity"), F.lit("tax"), F.col("l_tax")
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.element_at(m, F.lit("qty")), 2).alias("qty"),
        F.size(m).cast("long").alias("msz"),
    )


def ex_union_all(spark, sf_dir):
    """Bag-semantics union across heterogeneous sources, then key counts."""
    ev = _t(spark, sf_dir, "events").select(F.col("user_id").alias("k"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    return ev.unionByName(c).groupBy("k").agg(F.count("*").alias("n"))


def ex_rank_funcs(spark, sf_dir):
    """Ranking-function surface: dense_rank / percent_rank / cume_dist /
    ntile over each customer's orders by price."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


def ex_fuzzy_match(spark, sf_dir):
    """Fuzzy string matching: nation-name pairs within Levenshtein
    distance 6 (dimension-sized cross join; at fact scale pre-block by
    length or prefix before the distance)."""
    a = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ka"), F.col("n_name").alias("na")
    )
    b = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("kb"), F.col("n_name").alias("nb")
    )
    return (
        a.join(b, F.col("ka") < F.col("kb"))
        .withColumn("dist", F.levenshtein("na", "nb").cast("long"))
        .filter(F.col("dist") <= 6)
        .select("ka", "kb", "dist")
    )


def ex_bitwise(spark, sf_dir):
    """Bitwise function surface over nation keys."""
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("long")
    return n.select(
        "n_nationkey",
        (k.bitwiseAND(F.lit(12))).alias("band"),
        (k.bitwiseOR(F.lit(5))).alias("bor"),
        (k.bitwiseXOR(F.lit(9))).alias("bxor"),
        F.shiftleft(k, 2).alias("shl"),
        F.shiftright(k, 1).alias("shr"),
    )


def ex_gapfill(spark, sf_dir):
    """Time-series gap fill + LOCF (the hypertable-rollup shape): per-user
    minute grid from first to last event (sequence + explode), left-joined
    counts with zero fill, and last-observation-carried-forward averages."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    per_min = ev.groupBy(
        "user_id", F.date_trunc("minute", F.col("ts")).alias("w")
    ).agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_v"))
    bounds = per_min.groupBy("user_id").agg(F.min("w").alias("lo"), F.max("w").alias("hi"))
    grid = bounds.select(
        "user_id",
        F.explode(F.expr("sequence(lo, hi, INTERVAL 1 MINUTE)")).alias("w"),
    )
    joined = grid.join(per_min, ["user_id", "w"], "left")
    locf = Window.partitionBy("user_id").orderBy("w").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return joined.select(
        "user_id",
        "w",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        F.last("avg_v", ignorenulls=True).over(locf).alias("avg_locf"),
    )


def ex_scalar_subquery(spark, sf_dir):
    """Correlated scalar subquery (TPC-H Q2 shape): each order's cheapest
    line price. Catalyst decorrelates this into an aggregate + join."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__orders_sq")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("__lineitem_sq")
    return spark.sql(
        """SELECT o_orderkey,
                  (SELECT ROUND(MIN(l_extendedprice), 2) FROM __lineitem_sq
                   WHERE l_orderkey = o_orderkey) AS min_price
           FROM __orders_sq"""
    )


def ex_null_logic(spark, sf_dir):
    """Three-valued logic surface: null-safe equality, coalesce/nullif, and
    null-aware aggregation over the extracted JSON field (which is NULL when
    the key is absent)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("k_present"),
        F.count(F.when(k.isNull(), 1)).alias("k_absent"),
        F.sum(F.coalesce(k, F.lit(0))).alias("k_sum"),
        F.count(F.when(F.col("user_id").eqNullSafe(F.lit(42)), 1)).alias("user42"),
        F.count(F.nullif(F.floor("value").cast("long"), F.lit(-1))).alias("non_sentinel"),
    )


def ex_group_concat(spark, sf_dir):
    """Ordered string aggregation: nation names per region."""
    n = _t(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations"),
        F.count("*").alias("n"),
    )


def ex_regex_funcs(spark, sf_dir):
    """Regex surface: extract, replace, and match over part names."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.col("p_name").rlike("^[a-m]").alias("first_half"),
    )


def ex_histogram(spark, sf_dir):
    """Histogram binning: event values in 100-wide bins (floor division
    keeps the bin rule portable)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("bin", F.floor(F.col("value") / 100).cast("long"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"), F.round(F.avg("value"), 4).alias("avg_v"))
    )


def ex_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17-shape: average yearly revenue lost if small-quantity
    orders (below 20% of the part's average order quantity) moved to
    scheduled deliveries — the correlated-AVG subquery stress. The Spark
    plan decorrelates to one (partkey) aggregate joined back to the same
    lineitem scan; the threshold compares EXACT integers
    (5·cnt·l_quantity < sum_qty ⟺ l_quantity < 0.2·avg — l_quantity is
    integral), and revenue accumulates as exact integer cents with the
    repo's single-integral-divide 2-dp rounding, so the scalar output is
    bit-identical in any partition order."""
    pp = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3"))
        .select("p_partkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(pp), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_partkey",
            F.col("l_quantity").cast("long").alias("q"),
            F.expr(
                "CAST(CASE WHEN l_extendedprice >= 0"
                " THEN floor(l_extendedprice * 100 + 0.5)"
                " ELSE -floor(-l_extendedprice * 100 + 0.5) END AS BIGINT)"
            ).alias("cents"),
        )
    )
    # per-part stats as a WINDOW over the same scan (the Q20 trick): one
    # lineitem scan + one partkey exchange, no aggregate-join replay
    w = Window.partitionBy("l_partkey")
    small = (
        li.withColumn("sum_q", F.sum("q").over(w).cast("long"))
        .withColumn("cnt", F.count("*").over(w).cast("long"))
        .filter(F.col("q") * 5 * F.col("cnt") < F.col("sum_q"))
    )
    return small.agg(
        F.count("*").cast("long").alias("n_lines"),
        F.expr(
            "CAST(CAST((CAST(sum(cents) AS DECIMAL(38,0)) * 200 + 700)"
            " div 1400 AS BIGINT) AS DOUBLE) / 100.0"
        ).alias("avg_yearly"),
    )


def ex_large_orders(spark, sf_dir):
    """TPC-H Q18-shape large-volume customers: orders whose total line
    quantity exceeds 200, with the owning customer. The HAVING semi-set
    (large-order keys + their exact bigint quantity sums) is a
    few-rows-per-million aggregate, but its row count still GROWS with
    the orders table, so the join routing is left to the optimizer: AQE
    broadcasts it when its runtime size is under the threshold and falls
    back to a shuffle join when it isn't (no forced broadcast that could
    blow the driver at large scale factors). Same for the customer dim,
    which also scales with SF."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("q")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("q").cast("long").alias("sum_qty"))
        .filter(F.col("sum_qty") > 200)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("price"),
            "sum_qty",
        )
    )


def ex_ship_priority_counts(spark, sf_dir):
    """TPC-H Q12-shape shipping-priority classification: per line status,
    how many 1996-shipped lines belong to urgent/high- vs lower-priority
    orders — join + conditional aggregation. The ship-window filter
    pushes to the lineitem scan; the orderkey join is the one exchange;
    the CASE counts partial-aggregate map-side."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_linestatus")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_count"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias("low_count"),
        )
    )


def ex_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19-shape disjunctive-predicate revenue: an OR of three
    (brand, size-range, quantity-range) conjunctions — the pushdown /
    CNF-extraction stress. Catalyst pushes the part-side disjunction
    into the part scan as an Or-filter PLUS the extracted common bound
    (p_size >= 1) — plan-audited; the mixed-table quantity clauses
    evaluate post-join (they reference both sides). The dim broadcasts.
    Revenue
    accumulates as exact integer cents with one integral divide (scalar
    output, bit-identical in any partition order)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("q"),
        F.expr(
            "CAST(CASE WHEN l_extendedprice >= 0"
            " THEN floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)"
            " ELSE -floor(-(l_extendedprice * (1 - l_discount)) * 100 + 0.5)"
            " END AS BIGINT)"
        ).alias("cents"),
    )
    pt = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5)
         & F.col("q").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10)
           & F.col("q").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15)
           & F.col("q").between(20, 30))
    )
    return (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .filter(cond)
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.expr(
                "CAST(CAST(sum(cents) AS DECIMAL(38,0)) AS DOUBLE) / 100.0"
            ).alias("revenue"),
        )
    )


def ex_bm25(spark, sf_dir):
    """Okapi BM25 top-k retrieval for a fixed query-term set (the
    relevance-mining pass of a curation pipeline): one doc_id-keyed token
    shuffle, query-sized broadcast df table, micro-unit integer score
    accumulation (exact in any partition order — the single ln rides the
    ex_tfidf 6-dp precedent), TakeOrderedAndProject top-k. The oracle
    replays the identical expression text."""
    return text.bm25_topk(_t(spark, sf_dir, "documents"))


def ex_tfidf(spark, sf_dir):
    """TF-IDF top-3 terms per document (doc_id < 50): token explode ->
    per-(doc, term) tf -> document-frequency join -> windowed top-k.
    Deterministic: scores rounded to 6 dp, ties break to the lexically
    smallest term."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count("*").cast("double").alias("__n"))  # 1-row broadcast
    toks = docs.select(
        "doc_id", F.explode(text.tokens(F.lower(F.col("text")))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_counts = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.filter(F.col("doc_id") < 50)
        .join(df_counts, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("__n") / F.col("df")), 6))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "term", "tfidf")
    )


def ex_stat_agg(spark, sf_dir):
    """Statistical aggregates per event type: Pearson correlation, sample
    covariance/stddev/variance (skewness/kurtosis excluded: Spark uses
    population moments, DuckDB bias-corrected sample moments)."""
    ev = _t(spark, sf_dir, "events")
    uid = F.col("user_id").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.corr("value", uid), 4).alias("corr_uv"),
        F.round(F.covar_samp("value", uid), 4).alias("cov_uv"),
        F.round(F.stddev_samp("value"), 4).alias("sd_v"),
        F.round(F.var_samp("value"), 4).alias("var_v"),
    )


def ex_approx_quantile(spark, sf_dir):
    """Sketch-quantile accuracy gate: approximate medians must land between
    the exact 45th and 55th percentiles per event type; only violations are
    emitted, so the oracle expects the empty set."""
    ev = _t(spark, sf_dir, "events")
    checked = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5).alias("approx_p50"),
        F.expr("percentile(value, 0.45)").alias("lo"),
        F.expr("percentile(value, 0.55)").alias("hi"),
    )
    return checked.filter(
        (F.col("approx_p50") < F.col("lo")) | (F.col("approx_p50") > F.col("hi"))
    ).select("event_type", F.round("approx_p50", 4).alias("approx_p50"))


def ex_semantic_search(spark, sf_dir):
    """Cross-modal pipeline: ANN top-3 over embeddings joined back to the
    document table for content metadata (doc_id keys the embedding)."""
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("neighbor_id"), "n_chars"
    )
    q = emb.filter(F.col("vec_id") < 5)
    hits = similarity.topk_bruteforce(q, emb, k=3).select("vec_id", "rnk", "neighbor_id")
    return hits.join(F.broadcast(docs), "neighbor_id").select(
        "vec_id", "rnk", "neighbor_id", "n_chars"
    )


def ex_udf_surface(spark, sf_dir):
    """The registered-function surface (SURVEY §2.8) exercised from SQL:
    remap, channel validation, sentinel patch, MAC formatting, TTL clamp —
    all SQL scalar UDFs that Catalyst inlines into the scan."""
    from espkinesis_spark.functions.registry import register_sql_functions

    register_sql_functions(spark)
    _t(spark, sf_dir, "events").createOrReplaceTempView("__espk_events")
    return spark.sql(
        """SELECT event_id,
            espk_remap(CAST(FLOOR(value) AS BIGINT)) AS sbus,
            espk_valid_channels(array(CAST(FLOOR(value) AS INT), -1)) AS ok,
            element_at(espk_patch(array(-1, 1500), array(CAST(FLOOR(value) AS INT), 0)), 1)
                AS patched0,
            espk_mac(X'A1B2C3D4E5F6') AS mac,
            espk_ttl_ms(4000000, 1000000) AS ttl
        FROM __espk_events"""
    )


def ex_date_funcs(spark, sf_dir):
    """Date/time function surface over order dates."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.dayofmonth("o_orderdate").cast("long").alias("d"),
        F.quarter("o_orderdate").cast("long").alias("q"),
        F.date_trunc("month", F.col("o_orderdate")).alias("mon_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate").cast("date"))
        .cast("long")
        .alias("age_days"),
    )


def ex_frame_decode(spark, sf_dir):
    """S3/F1 wire round-trip, driver-checkable: deterministic channel values
    derived from event_id are packed into the 16-byte ESP-NOW binary frame
    (8 x uint16 LE), every 97th payload truncated to 12 bytes and every
    193rd NULLed outright, then decoded through
    sources.decode_espnow_frames (exact-length gate + per-byte re-base).
    The oracle recomputes the channel arithmetic directly, so the value
    hash proves the encode -> binary -> decode loop is lossless and the
    length filter routes exactly the malformed rows — including NULL
    payloads, which the dead-letter contract must not silently drop."""
    from espkinesis_spark.streaming.sources import FRAME_CHANNELS, decode_espnow_frames

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type")
    # concat of per-byte lpad(hex()) beats a single format_string here:
    # String.format re-parses its pattern every row (measured +20% on the
    # 30x scale ladder), while 32 small hex/lpad allocations stay cheap
    hex_parts = []
    for i in range(FRAME_CHANNELS):
        c = f"(1000 + pmod(event_id * 7 + {i * 131}, 1001))"
        hex_parts.append(f"lpad(hex({c} % 256), 2, '0')")  # low byte (LE first)
        hex_parts.append(f"lpad(hex({c} div 256), 2, '0')")
    raw = ev.withColumn("data", F.expr(f"unhex(concat({', '.join(hex_parts)}))"))
    raw = raw.withColumn(
        "data",
        F.when(
            F.col("event_id") % 193 == 0, F.lit(None).cast("binary")
        ).when(
            F.col("event_id") % 97 == 0, F.expr("substring(data, 1, 12)")
        ).otherwise(F.col("data")),
    )
    frames, dead = decode_espnow_frames(raw)
    row_sum = F.aggregate("channels", F.lit(0).cast("long"), lambda a, x: a + x)
    tagged = frames.select(
        "event_type", F.lit(1).alias("ok"), row_sum.alias("rs")
    ).unionByName(
        dead.select("event_type", F.lit(0).alias("ok"), F.lit(0).cast("long").alias("rs"))
    )
    return tagged.groupBy("event_type").agg(
        F.sum("ok").cast("long").alias("n_valid"),
        F.sum(1 - F.col("ok")).cast("long").alias("n_dead"),
        F.sum("rs").cast("long").alias("checksum"),
    )


def ex_dedup_clusters(spark, sf_dir):
    """Connected components over MinHash near-dup pairs: (doc_id,
    cluster_id), cluster_id = min doc in the component. The keep/drop
    decision of a dedup pass (keep iff doc_id == cluster_id)."""
    pairs = dedup.neardup_minhash(_t(spark, sf_dir, "documents"))
    return dedup.dedup_clusters(pairs)


def ex_correlated_min(spark, sf_dir):
    """TPC-H Q2-shape correlated min-subquery: each customer's cheapest
    order(s). Spark decorrelates to a per-key window min — one shuffle on
    the correlation key, no per-row subquery execution."""
    w = Window.partitionBy("o_custkey")
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("__min", F.min("o_totalprice").over(w))
        .filter(F.col("o_totalprice") == F.col("__min"))
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("price"),
        )
    )


def ex_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: downsample English docs to 10%,
    keep other languages at 50% (training-data language rebalancing)."""
    from espkinesis_spark.functions import sampling

    docs = _t(spark, sf_dir, "documents")
    out = sampling.stratified_sample(
        docs, "lang", rates={"en": 10}, default_pct=50, key_col="doc_id"
    )
    return out.select("doc_id", "lang", "source")


def ex_hash_split(spark, sf_dir):
    """Deterministic train/val/test routing by hash bucket; per-split,
    per-language counts (the split audit a training pipeline reports)."""
    from espkinesis_spark.functions import sampling

    docs = _t(spark, sf_dir, "documents")
    split = sampling.hash_split(docs, "doc_id", {"train": 90, "val": 5, "test": 5})
    return split.groupBy("split", "lang").agg(F.count("*").alias("n"))


def ex_label_centroids(spark, sf_dir):
    """Per-label embedding centroid (mean per dimension) + L2 norm — the
    class-prototype aggregation of an embedding pipeline. posexplode +
    per-(label, dim) avg keeps the shuffle rows scalar-narrow. Output is
    one row per (label, dim) — scalar columns only, so the driver's
    hash-compare canonicalizer can sort it (a raw array<double> column
    cannot be factorized by pandas)."""
    emb = _t(spark, sf_dir, "embeddings")
    per_dim = (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.avg("x").alias("m_raw"))
    )
    w = Window.partitionBy("label")
    return per_dim.select(
        "label",
        "dim",
        F.round("m_raw", 6).alias("m"),
        F.round(F.sqrt(F.sum(F.col("m_raw") * F.col("m_raw")).over(w)), 6).alias(
            "centroid_norm"
        ),
    )


def ex_dup_spans(spark, sf_dir):
    """Exact-substring duplication report (Lee et al. 2022 dedup shape):
    per document, how many 10-token windows recur anywhere in the corpus
    and how many occurrences an exact-substring dedup pass would cut."""
    return dedup.dup_spans(_t(spark, sf_dir, "documents"))


def ex_pack_sequences(spark, sf_dir):
    """Sequence packing: assign docs to ~4096-token training bins by running
    token count, packed independently per source shard. The per-shard
    window (partitionBy source) keeps the cumulative sum parallel — the
    global-order variant would serialize on one partition; real pipelines
    pack within shards exactly so."""
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(text.tokens(F.col("text")))
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        docs.withColumn("n_tok", n_tok.cast("long"))
        .withColumn("__cum", F.sum("n_tok").over(w))
        .select(
            "doc_id",
            "source",
            "n_tok",
            F.floor((F.col("__cum") - F.col("n_tok")) / 4096).alias("bin_id"),
        )
    )


def ex_dedup_pipeline(spark, sf_dir):
    """MinHash near-dup over a PERSISTED bucketed shingle table: the shingle
    map is checkpointed once (bucketed by doc_id), and signatures + both
    verification sides read the bucketed scan — doc_id aggregations consume
    the bucket partitioning with no Exchange (plan-audited). Output and
    oracle identical to ex_neardup_minhash."""
    return dedup.neardup_minhash_persisted(_t(spark, sf_dir, "documents"))


def ex_skew_join(spark, sf_dir):
    """Skewed-key join through the salting operator: ~80% of lineitem rows
    are forced onto one key, then joined to nation via ``salted_join`` —
    the build side replicated SALT ways, the probe scattered uniformly
    across replicas, so the hot key's rows spread over SALT tasks instead
    of serializing on one. Result is identical to a plain join (the salt
    never escapes); the oracle is that plain join. Plan audit in
    tests/test_skew_and_tws.py pins the salt spread."""
    from espkinesis_spark.operators import skew

    probe = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 25 < 20, F.lit(0))
        .otherwise(F.col("l_orderkey") % 25)
        .cast("long")
        .alias("skew_key"),
        "l_quantity",
    )
    dim = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("skew_key"), "n_name"
    )
    return (
        skew.salted_join(probe, dim, "skew_key", salt=8)
        .groupBy("skew_key", "n_name")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
    )


def ex_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any 3-gram
    shingle with the held-out set (source='src0'), with the shared-shingle
    count as evidence. The held-out shingle set is dimension-sized and
    broadcast; the probe is a map-side hash join over the train shingles —
    no all-pairs anything."""
    docs = _t(spark, sf_dir, "documents")
    bench = dedup.shingles(docs.filter(F.col("source") == "src0")).select("s").distinct()
    train = dedup.shingles(docs.filter(F.col("source") != "src0"))
    return (
        train.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


def ex_decontaminate_apply(spark, sf_dir):
    """Decontamination APPLIED (the report's missing tail — the same
    pairs→drop→corpus closure every dedup modality got this round):
    training docs sharing >= DECON_MIN_SHARED shingles with the held-out
    set are REMOVED, and the surviving training corpus is summarized per
    source. The contaminated-id set rides the broadcast-probe report;
    the corpus subtraction is the routed apply_drop_set anti join."""
    docs = _t(spark, sf_dir, "documents")
    bench = dedup.shingles(docs.filter(F.col("source") == "src0")).select(
        "s"
    ).distinct()
    train = docs.filter(F.col("source") != "src0")
    contaminated = (
        dedup.shingles(train)
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= C.DECON_MIN_SHARED)
        .select("doc_id")
    )
    return dedup.survivor_summary(dedup.apply_drop_set(train, contaminated))


def ex_pii_scrub(spark, sf_dir):
    """PII redaction over a deterministically PII-augmented corpus
    (``pii_augmented``) — the scrub path has real matches to find.
    Zero-shuffle projection."""
    return text.pii_scrub(pii_augmented(_t(spark, sf_dir, "documents")))


def pii_augmented(docs: DataFrame) -> DataFrame:
    """The PII entries' input: the synthetic documents carry no
    addresses, so each doc gets an email and a long id derived from
    doc_id appended (same expression in the oracle). Per-row, so a
    stream applies it at ingest (``jobs.pii_scrub_stream``)."""
    return docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@testmail.org ref "),
            (F.col("doc_id") + F.lit(1_000_000)).cast("string"),
        ),
    )


def ex_quality_filter(spark, sf_dir):
    """Repetition-aware quality gate (duplicate-token fraction, top-token
    share, mean token length → keep verdict)."""
    return text.quality_filter(_t(spark, sf_dir, "documents"))


def ex_vocab(spark, sf_dir):
    """Corpus vocabulary build: top-100 tokens by frequency (tie → token
    asc), planned as TakeOrderedAndProject — no full sort."""
    return text.vocab(_t(spark, sf_dir, "documents"))


def ex_dedup_apply(spark, sf_dir):
    """End-to-end dedup retention: LSH pairs → connected components → drop
    non-canonical members, then summarize the surviving corpus per source.
    The oracle recomputes the same clusters with a recursive CTE."""
    return dedup.survivor_summary(dedup.dedup_apply(_t(spark, sf_dir, "documents")))


def ex_ann_recall(spark, sf_dir):
    """Recall@5 of the sign-LSH index against brute-force ground truth, per
    query vector — the measurement an ANN rollout needs before trusting the
    approximate path. Both sides use the 6-dp-rounded cosine with
    lowest-id tie-break, so the top-5 sets are deterministic."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < C.ANN_QUERY_MAX_ID)
    truth = similarity.topk_bruteforce(q, emb, k=C.ANN_TOPK).select(
        "vec_id", "neighbor_id"
    )
    approx = similarity.topk_lsh(emb, k=C.ANN_TOPK).select("vec_id", "neighbor_id")
    hits = (
        truth.join(approx, ["vec_id", "neighbor_id"])
        .groupBy("vec_id")
        .agg(F.count("*").alias("h"))
    )
    n_hits = F.coalesce(F.col("h"), F.lit(0)).cast("long")
    return q.select("vec_id").join(hits, "vec_id", "left").select(
        "vec_id",
        n_hits.alias("n_hits"),
        F.round(n_hits / C.ANN_TOPK, 4).alias("recall"),
    )


def ex_embed_quantize(spark, sf_dir):
    """Symmetric int8 quantization of the embedding table (scale + quantized
    summary stats per vector)."""
    return similarity.quantize_int8(_t(spark, sf_dir, "embeddings"))


def ex_kmeans(spark, sf_dir):
    """Trained IVF centroids: 2 Lloyd rounds from deterministic init, then
    one final assignment for cluster sizes. Output is one row per
    (centroid_id, dim) with member count, norm, and the 6-dp-rounded
    component — scalar columns only, so the driver's canonicalizer can
    sort/hash it (raw array<double> columns cannot be factorized by
    pandas; same landmine as ex_label_centroids). The oracle replays the
    identical trajectory in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_train(emb)
    assign = similarity.ivf_assign(
        emb,
        cents.select(F.col("centroid_id").alias("vec_id"), F.col("c").alias("embedding")),
    )
    sizes = assign.groupBy("centroid_id").agg(F.count("*").cast("long").alias("n"))
    return (
        cents.join(sizes, "centroid_id", "left")
        .select(
            "centroid_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
            F.round(
                F.sqrt(F.aggregate("c", F.lit(0.0), lambda a, x: a + x * x)), 6
            ).alias("centroid_norm"),
            F.posexplode("c").alias("dim", "x_raw"),
        )
        .select(
            "centroid_id", "n", "centroid_norm", "dim", F.round("x_raw", 6).alias("x")
        )
    )


def ex_ann_ivf_trained(spark, sf_dir):
    """The full ANN lifecycle on one plan: k-means-trained centroids feed
    the IVF probe (train → index → query). Same probe shape as ex_ann_ivf;
    only the centroid table changes — which is the point: a trained index
    is a drop-in DataFrame swap, not a new engine path."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_train(emb).select(
        F.col("centroid_id").alias("vec_id"), F.col("c").alias("embedding")
    )
    return similarity.topk_ivf(emb, centroids=cents)


def ex_ann_pq(spark, sf_dir):
    """Product-quantized ANN (Jégou et al. 2011) — the memory-side half
    of the billion-vector stack: per-subspace codebooks trained with the
    deterministic Lloyd trajectory (rounded-L2 argmin, 6-dp mean
    update), the corpus encoded to PQ_M byte-sized codes, queries scored
    by ADC (per-subspace dot-product lookups summed in bit-stable
    subspace order) against the reconstructions. The oracle replays the
    identical trajectory in one long-form CTE chain (the subspace index
    is a column, not m separate chains); a recall@k gate vs brute force
    lives in tests (the ann_recall pattern)."""
    return similarity.topk_pq(_t(spark, sf_dir, "embeddings"))


def ex_ann_ivfpq(spark, sf_dir):
    """IVFADC — IVF candidate pruning composed with PQ-ADC scoring, the
    architecture of every billion-vector ANN deployment: the probe rule
    cuts candidates to nprobe/n_centroids of the corpus, the PQ codes
    cut candidate memory to PQ_M bytes/vector. Both halves are existing
    DataFrames (ex_ann_ivf's candidate rule, ex_ann_pq's scorer) —
    composing indexes is a join, not a new engine path; the oracle
    assembles the same two CTE chains."""
    return similarity.topk_ivfpq(_t(spark, sf_dir, "embeddings"))


def ex_dq_checks(spark, sf_dir):
    """Data-quality constraint report (one row per check): primary-key
    duplicates, foreign-key orphans (big-big left-anti joins — the honest
    scale shape; no side is collectable), domain violations, null rates.
    The expectation-suite primitive every ingest pipeline runs before
    promoting a batch. Scan-local checks on the same table FUSE into one
    conditional aggregate per scan (an expectation suite batches its
    compatible checks per pass — the fact table is read once for every
    non-join check, not once per check); only the two orphan checks need
    their own anti-join branches."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")

    def one(name, df):
        return df.select(F.lit(name).alias("chk"), F.col("violations"))

    v = F.count("*").cast("long").alias("violations")
    o_local = (
        o.agg(
            (F.count("*") - F.countDistinct("o_orderkey")).cast("long").alias("pk"),
            # coalesce: SUM over zero rows is NULL where the unfused
            # filter+count was 0 (empty-table review catch)
            F.coalesce(
                F.sum((F.col("o_totalprice") <= 0).cast("long")), F.lit(0)
            ).cast("long").alias("npp"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("orders_pk_dups").alias("chk"),
                        F.col("pk").alias("violations"),
                    ),
                    F.struct(
                        F.lit("orders_nonpositive_price").alias("chk"),
                        F.col("npp").alias("violations"),
                    ),
                )
            ).alias("s")
        )
        .select("s.*")
    )
    return (
        o_local
        .unionAll(one("lineitem_fk_orphans", li.join(o.select("o_orderkey"), li["l_orderkey"] == o["o_orderkey"], "left_anti").agg(v)))
        .unionAll(one("orders_custkey_orphans", o.join(c.select("c_custkey"), o["o_custkey"] == c["c_custkey"], "left_anti").agg(v)))
        .unionAll(one("customer_null_name", c.filter(F.col("c_name").isNull()).agg(v)))
    )


def ex_dedup_incremental(spark, sf_dir):
    """Incremental ingest dedup: the src0 batch checked against the rest of
    the corpus via a new×corpus banded-signature join — candidate volume
    scales with the batch, never corpus². Intra-batch dups are out of
    scope by design (that's ex_neardup_minhash)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.neardup_incremental(
        docs.filter(F.col("source") == "src0"),
        docs.filter(F.col("source") != "src0"),
    )


def ex_dedup_substring(spark, sf_dir):
    """Exact-substring dedup APPLIED (Lee et al. 2022's rewrite —
    ex_dup_spans is the report): tokens covered by non-first-occurrence
    span windows are removed; emits per-doc surviving-token count and
    the md5 of the rewritten content. One span-hash-keyed shuffle + one
    (doc, pos)-keyed anti join + one doc-keyed rebuild."""
    return dedup.dup_spans_apply(_t(spark, sf_dir, "documents"))


def ex_chunk_docs(spark, sf_dir):
    """Overlapping character chunking with offsets + per-chunk md5 (RAG /
    context-window prep). Pure per-row fan-out, no shuffle."""
    return text.chunk_docs(_t(spark, sf_dir, "documents"))


def ex_unigram_logprob(spark, sf_dir):
    """Model-based quality scoring: each doc scored under a unigram LM
    trained on the corpus (vocab-sized broadcast model)."""
    return text.unigram_logprob(_t(spark, sf_dir, "documents"))


def ex_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training: the merge trajectory (rank,
    lhs, rhs, weighted pair count) of byte-pair encoding over the corpus
    word-frequency table — the flagship iterative LLM-pipeline op. The
    oracle replays the identical greedy-merge path in SQL, so the value
    hash proves every round's argmax AND the merge application."""
    return text.bpe_train(_t(spark, sf_dir, "documents"))


def ex_bpe_encode(spark, sf_dir):
    """Tokenize the corpus under the trained BPE merges: per-doc word /
    subword counts + chars-per-subword. The merge application runs on the
    vocab-sized distinct-words table only; the corpus side just explodes
    and joins the per-word counts back."""
    return text.bpe_encode(_t(spark, sf_dir, "documents"))


def ex_bpe_fertility(spark, sf_dir):
    """Tokenizer FAIRNESS rollup: fertility (subwords per word) of the
    corpus-trained BPE, aggregated PER LANGUAGE — the standard
    multilingual-tokenizer eval (a language whose fertility runs high
    pays more sequence length per sentence and is effectively
    undertrained at a fixed token budget). Rides the existing encode
    chain (merge application on the vocab-sized distinct-words table
    only), joins the language dimension, and reduces to one row per
    language: doc/word/subword exact-integer sums and the 4-dp
    fertility ratio derived from them."""
    docs = _t(spark, sf_dir, "documents")
    per_doc = text.bpe_encode(docs)
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_subwords").cast("long").alias("n_subwords"),
            F.round(F.sum("n_subwords") / F.sum("n_words"), 4).alias("fertility"),
        )
    )


def ex_token_budget_mix(spark, sf_dir):
    """TOKEN-budget mixture: the pretraining-corpus assembly op — a
    global token budget (50% of the corpus) is split across sources by
    temperature weights (∝ sqrt of the source's token mass, 9-dp
    rounded — the ex_domain_mix discipline), and each source
    contributes its deterministic md5-order PREFIX of whole documents
    until its budget is exhausted. Exact budgeting in tokens is what
    real mixtures specify ("N billion tokens from source X") —
    ex_domain_mix's rate-based acceptance only hits quotas in
    expectation. The per-source budget floor(sqrt(ts)/z * tt / 2) is
    BIT-identical across engines because every float op in it is a
    correctly-rounded IEEE primitive evaluated in a pinned order:
    sqrt/div/mul are single ops, and z (the one cross-row float sum)
    is folded SEQUENTIALLY over sources sorted by name in both engines
    (the ADC bit-stable-order discipline — a groupBy sum would be
    partition-order-dependent, and a 9-dp round would hit the two
    engines' different decimal-rounding rules). Scale: one source-keyed
    token rollup (source-cardinality-sized, checkpointed for its two
    consumers), a broadcast weight table, one per-source window cumsum
    (the pack_sequences shape)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(text.tokens(F.col("text"))).cast("long").alias("n_tok")
    )
    # per feeds BOTH the grand total and the budget table — materialize the
    # source-cardinality-sized rollup once so the corpus tokenize pass
    # doesn't run twice (the Q11/winnow shared-consumer rule)
    per = (
        docs.groupBy("source")
        .agg(F.sum("n_tok").alias("__ts"))
        .localCheckpoint(eager=True)
    )
    # z = Σ sqrt(ts) folded in sorted-source order (bit-stable); tt is an
    # exact integer sum — both engines then evaluate the identical
    # sqrt/div/mul/floor chain on identical inputs
    tot = per.agg(
        F.sum("__ts").alias("__tt"),
        F.expr(
            "aggregate(array_sort(collect_list(struct(source, __ts))),"
            " CAST(0.0 AS DOUBLE),"
            " (acc, x) -> acc + sqrt(CAST(x.__ts AS DOUBLE)))"
        ).alias("__z"),
    )
    budgets = per.crossJoin(F.broadcast(tot)).select(
        "source",
        F.expr(
            "CAST(floor(sqrt(CAST(__ts AS DOUBLE)) / __z * __tt / 2.0) AS BIGINT)"
        ).alias("__budget"),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("tok_cum", F.sum("n_tok").over(w))
        .join(F.broadcast(budgets), "source")
        .filter(F.col("tok_cum") <= F.col("__budget"))
        .select("doc_id", "source", "n_tok", "tok_cum")
    )


def ex_domain_mix(spark, sf_dir):
    """Temperature-scaled domain-mixture sampling (weights ∝ sqrt(n),
    deterministic md5-bucket quotas): per-source docs, mix weight,
    acceptance buckets and realized sample size."""
    from espkinesis_spark.functions import sampling

    return sampling.domain_mix(_t(spark, sf_dir, "documents"))


def ex_semdedup_apply(spark, sf_dir):
    """Semantic dedup APPLIED to the embedding corpus (completes the
    apply symmetry for the embedding modality): SemDeDup keep flags →
    drop set → the routed anti join (``apply_drop_set(key='vec_id')``)
    → per-label survivor summary with an exact-integer id checksum. The
    embedding corpus scan is never shuffled for the subtraction."""
    vecs = _t(spark, sf_dir, "embeddings")
    drops = (
        similarity.semdedup(vecs)
        .filter(~F.col("keep"))
        .select("vec_id")
    )
    return (
        dedup.apply_drop_set(vecs, drops, key="vec_id")
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum("vec_id").cast("long").alias("sum_ids"),
        )
    )


def ex_semdedup(spark, sf_dir):
    """Cluster-partitioned semantic dedup (SemDeDup, Abbas et al. 2023):
    k-means clusters bound the pairwise-cosine candidate space to
    same-cluster pairs; a vector is dropped when a lower-id cluster-mate
    is within the near-dup cosine threshold. One scalar row per vector
    (vec_id, centroid_id, keep); the oracle replays the identical
    k-means trajectory and the EXISTS drop rule in SQL."""
    return similarity.semdedup(_t(spark, sf_dir, "embeddings"))


def ex_embed_gram(spark, sf_dir):
    """Distributed embedding covariance (the PCA/whitening reduction):
    upper-triangle (dim_i, dim_j, cov) rows from per-batch numpy partial
    gramians — shuffle volume O(batches·d²), independent of corpus size.
    The oracle materializes the n×d² product space instead (fine at
    oracle scale only)."""
    return similarity.embed_gram(_t(spark, sf_dir, "embeddings"))


def ex_cooccur(spark, sf_dir):
    """Windowed token co-occurrence + PMI (word-embedding prep): top-100
    unordered neighbor pairs by count with their pointwise mutual
    information — pure array fan-out, one pair-keyed groupBy, broadcast
    unigram probes, TakeOrderedAndProject top-k."""
    return text.cooccur(_t(spark, sf_dir, "documents"))


def ex_pagerank(spark, sf_dir):
    """PageRank centrality over the customer→supplier trade graph (edges =
    order lineitems, multi-edges weight naturally): which suppliers does
    the order flow concentrate on. Fixed 3-iteration budget with a
    9-dp-rounded trajectory the SQL oracle replays iteration-by-iteration
    (the kmeans-trajectory trick); one dst-keyed shuffle per round."""
    from espkinesis_spark.functions import graph

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # Iterate on NUMERIC node ids and restore the 'c<k>'/'s<k>' labels at
    # the output only (r16, guide §2.3 narrower types): the three
    # dst-keyed contribution shuffles carried ~20 B string keys where 8 B
    # longs suffice. PageRank never orders or tie-breaks on the label
    # (unlike label propagation, whose min-label rule pins the string
    # form), so any bijection preserves the trajectory exactly: same
    # grouping sets, same 9-dp-rounded sums, same N.
    edges = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    ranks = graph.pagerank(edges)
    label = F.when(
        F.col("node") % 2 == 0, F.concat(F.lit("c"), F.expr("node div 2"))
    ).otherwise(F.concat(F.lit("s"), F.expr("(node - 1) div 2")))
    return ranks.select(label.alias("node"), "rank")


def ex_label_prop(spark, sf_dir):
    """Label-propagation community detection over the (undirected)
    customer↔supplier trade graph: which customer/supplier groups trade
    mostly among themselves. Fixed 3-round synchronous trajectory with
    min-label tie-break, replayed round-by-round by the SQL oracle; per
    round one src-keyed join + two map-side-partial vote aggregations."""
    from espkinesis_spark.functions import graph

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    return graph.label_propagation(edges)


def ex_heavy_hitters(spark, sf_dir):
    """Exact corpus heavy hitters (tokens above a 1/k frequency share) via
    a Misra-Gries bounded-memory candidate pass + an exact broadcast
    verification count — the streaming-sketch pattern with a deterministic
    exact output, so the sketch's order-dependence never reaches the
    result."""
    return text.heavy_hitters(_t(spark, sf_dir, "documents"))


def ex_sketch_quantile(spark, sf_dir):
    """Exact price percentiles (p1/p25/p50/p75/p99 of l_extendedprice)
    WITHOUT a global sort: mergeable per-partition order-statistic
    summaries narrow each percentile to a guaranteed candidate interval,
    then one exact pass selects the true order statistic (see
    functions/quantiles.py). The summarize-then-select shape replaces the
    full sort-shuffle with two single-column scans + summary-sized
    bookkeeping — the only exact-quantile plan that survives 100 TB. The
    output is exact and partitioning-independent, so the sketch's
    internals never reach the result (same discipline as
    ex_heavy_hitters)."""
    from espkinesis_spark.functions import quantiles

    return quantiles.sketch_quantiles(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice"
    )


def ex_hdr_quantile(spark, sf_dir):
    """MERGEABLE quantile sketch (HdrHistogram log-bucketing) over
    events.value — the streaming-capable complement to the exact-batch
    ex_sketch_quantile: bucket counts merge by integer addition (order-
    independent, bit-identical under any partitioning), sketch size is
    bounded (<= 64·2^(HDR_SUB_BITS+1) buckets) at any data size, and the
    reported bucket lower bound is guaranteed within relative
    2^-HDR_SUB_BITS of the true order statistic. One scan + one
    bucket-keyed map-side-partial shuffle; extraction is sketch-sized.
    The oracle replays the integer bucketing/extraction exactly."""
    from espkinesis_spark.functions import quantiles

    return quantiles.hdr_sketch_quantiles(_t(spark, sf_dir, "events"), "value")


def ex_hdr_quantile_grouped(spark, sf_dir):
    """Per-GROUP percentiles from the mergeable HDR sketch ("p99 per
    endpoint"): one scan + one (group, bucket)-keyed map-side-partial
    shuffle; every extraction window partitions BY GROUP, so the op has
    no single-partition stage at any group cardinality. Same integer
    bucketing/extraction as ex_hdr_quantile, replayed per group by the
    oracle."""
    from espkinesis_spark.functions import quantiles

    return quantiles.hdr_grouped_quantiles(
        _t(spark, sf_dir, "events"), "value", "event_type"
    )


def ex_quality_model(spark, sf_dir):
    """Model-based quality scoring: hashed-feature linear classifier over
    each document's tokens (the fasttext/logreg curation pass), as a
    zero-shuffle projection with exact-integer weight sums so both
    engines score bit-identically (see text.quality_model_score)."""
    return text.quality_model_score(_t(spark, sf_dir, "documents"))


def ex_token_entropy(spark, sf_dir):
    """Per-document Shannon entropy of the token distribution (+ the
    ln(n_distinct)-normalized form) — the information-density quality
    signal that catches degenerate repetition lexical stats miss."""
    return text.token_entropy(_t(spark, sf_dir, "documents"))


def ex_normalize_text(spark, sf_dir):
    """CCNet-style dedup normalization (lowercase, fixed-map accent fold,
    whitespace collapse) as hashes — the step every content-dedup hash
    runs on first. Pure zero-shuffle projection."""
    return text.normalize_text(_t(spark, sf_dir, "documents"))


def ex_bigram_logprob(spark, sf_dir):
    """Model-based quality scoring v2: each document scored under an
    add-alpha-smoothed bigram LM trained on the corpus — improbable word
    ORDER, not just improbable words (the unigram op's blind spot)."""
    return text.bigram_logprob(_t(spark, sf_dir, "documents"))


def ex_funnel(spark, sf_dir):
    """Two-step conversion funnel (click → purchase within 1 hour of the
    user's FIRST click): the classic product-analytics sequence query.
    Two per-user min-aggregations (map-side partials) and one user-keyed
    join — no window over the raw event stream, no self-join explosion."""
    ev = _t(spark, sf_dir, "events")
    first_click = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    first_purchase = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_click, "user_id")
        .filter(
            (F.col("ts") >= F.col("c_ts"))
            & (F.col("ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .select("user_id")
        .distinct()
    )
    clickers = first_click.agg(F.count("*").cast("long").alias("n_clickers"))
    converted = first_purchase.agg(F.count("*").cast("long").alias("n_converted"))
    return clickers.crossJoin(F.broadcast(converted)).select(
        "n_clickers",
        "n_converted",
        F.round(F.col("n_converted") / F.col("n_clickers"), 4).alias("conv_rate"),
    )


def ex_session_funnel(spark, sf_dir):
    """SESSION-WINDOWED conversion funnel: ex_funnel scoped to gap-based
    sessions via the native event-time construct — ``F.session_window``
    (30-min inactivity gap; an exactly-30-min gap MERGES — pinned by
    test). Per (user, session): the first click and last purchase as
    conditional min/max inside ONE session-window aggregation (no
    self-join, no second scan), then a scalar rollup counts sessions,
    click-sessions, and converted sessions (purchase at-or-after the
    first click in the SAME session). The session assignment itself is
    one user-keyed shuffle; everything after is session-sized."""
    ev = _t(spark, sf_dir, "events")
    sess = ev.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
        F.min(
            F.when(F.col("event_type") == "click", F.col("ts"))
        ).alias("first_click"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("last_purchase"),
    )
    return sess.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum(
            F.when(F.col("first_click").isNotNull(), 1).otherwise(0)
        ).cast("long").alias("n_click_sessions"),
        F.sum(
            F.when(
                F.col("first_click").isNotNull()
                & (F.col("last_purchase") >= F.col("first_click")),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_converted"),
    ).select(
        "n_sessions",
        "n_click_sessions",
        "n_converted",
        F.round(F.col("n_converted") / F.col("n_click_sessions"), 4).alias(
            "conv_rate"
        ),
    )


def ex_retention(spark, sf_dir):
    """Hourly cohort retention: users grouped by first-seen hour; how many
    are active again in the NEXT hour. Per-user min + exists-join keyed on
    user_id, then a cohort-keyed rollup — the standard retention matrix
    collapsed to its first off-diagonal."""
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("cohort")
    )
    next_hour_active = (
        ev.join(first_seen, "user_id")
        .filter(F.date_trunc("hour", F.col("ts")) == F.col("cohort") + F.expr("INTERVAL 1 HOUR"))
        .select("user_id")
        .distinct()
        .withColumn("retained", F.lit(1).cast("long"))
    )
    return (
        first_seen.join(next_hour_active, "user_id", "left")
        .groupBy("cohort")
        .agg(
            F.count("*").cast("long").alias("cohort_size"),
            F.sum(F.coalesce(F.col("retained"), F.lit(0))).cast("long").alias("retained"),
            F.round(
                F.sum(F.coalesce(F.col("retained"), F.lit(0))) / F.count("*"), 4
            ).alias("retention_rate"),
        )
    )


def ex_downsample(spark, sf_dir):
    """Largest-triangle time-series downsampling of the event stream to
    LTTB_BUCKETS visually-representative points (fixed-anchor LTTB
    variant: each bucket's anchors are its NEIGHBOR buckets' mean points,
    so per-bucket selections are independent and the argmax distributes —
    canonical LTTB chains selections sequentially, which cannot). First /
    last buckets pin the series endpoints, per LTTB convention.

    Scale shape: one scalar min/max pass, one bucket-keyed partial agg for
    the ≤NB anchor rows (the only window runs over that bucket-sized
    table), then a broadcast anchor join + one bucket-keyed min-struct
    argmax — no window or sort over the raw series. Anchor means round to
    6 dp and areas to LTTB_AREA_ROUND dp before the argmax so both engines
    pick identical points; ties break on (x, event_id), exact integers.
    """
    nb = C.LTTB_BUCKETS
    ev = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("mn"), F.max(F.unix_micros("ts")).alias("mx")
    )
    pts = (
        ev.crossJoin(F.broadcast(bounds))
        .select(
            "event_id",
            (F.unix_micros("ts") - F.col("mn")).alias("x_us"),
            F.col("value").alias("y"),
            "mn",
            "mx",
        )
        .select(
            "event_id",
            "x_us",
            "y",
            F.least(
                F.expr(f"(x_us * {nb}) div greatest(mx - mn, 1L)"), F.lit(nb - 1)
            ).cast("long").alias("b"),
        )
    )
    anchors = pts.groupBy("b").agg(
        F.round(F.avg(F.col("x_us").cast("double") / F.lit(1e6)), 6).alias("ax"),
        F.round(F.avg(F.col("y").cast("double")), 6).alias("ay"),
    )
    wb = Window.orderBy("b")  # anchor table is bucket-sized (≤NB rows)
    al = anchors.select(
        "b",
        F.lag("ax").over(wb).alias("lx"),
        F.lag("ay").over(wb).alias("ly"),
        F.lead("ax").over(wb).alias("rx"),
        F.lead("ay").over(wb).alias("ry"),
    )
    px = F.col("x_us").cast("double") / F.lit(1e6)
    area = F.round(
        F.abs(
            (F.col("lx") - F.col("rx")) * (F.col("y") - F.col("ly"))
            - (F.col("lx") - px) * (F.col("ry") - F.col("ly"))
        )
        * F.lit(0.5),
        C.LTTB_AREA_ROUND,
    )
    edge_first = F.col("lx").isNull()
    edge_last = F.col("rx").isNull()
    k1 = F.when(edge_first | edge_last, F.lit(0.0)).otherwise(-area)
    k2 = F.when(edge_first, F.col("x_us")).when(edge_last, -F.col("x_us")).otherwise(
        F.col("x_us")
    )
    k3 = F.when(edge_first, F.col("event_id")).when(
        edge_last, -F.col("event_id")
    ).otherwise(F.col("event_id"))
    sel = F.struct(
        k1.alias("k1"),
        k2.alias("k2"),
        k3.alias("k3"),
        F.col("event_id").alias("pid"),
        F.col("x_us").alias("pxu"),
        F.round(F.col("y"), 6).alias("py"),
        F.when(edge_first | edge_last, F.lit(0.0)).otherwise(area).alias("parea"),
    )
    return (
        pts.join(F.broadcast(al), "b")
        .groupBy("b")
        .agg(F.min(sel).alias("s"), F.count("*").cast("long").alias("n_points"))
        .select(
            F.col("b").alias("bucket"),
            F.col("s.pid").alias("event_id"),
            F.col("s.pxu").alias("x_us"),
            F.col("s.py").alias("y"),
            F.col("s.parea").alias("area"),
            "n_points",
        )
    )


def ex_downsample_seq(spark, sf_dir):
    """CANONICAL sequential LTTB (chained anchors — each bucket's left
    anchor is the previous bucket's SELECTED point), one chain per
    event-type series via applyInPandas: per-series parallelism is the
    scale shape (millions of series, one task each), complementing
    ex_downsample's distributable fixed-anchor variant for the
    single-giant-series case. Engine-exact floats: integer-derived
    coordinates and exact-integer-sum anchors make every compared double
    bit-identical with the oracle's unrolled step replay (see
    functions/timeseries.py)."""
    from espkinesis_spark.functions import timeseries

    return timeseries.lttb_sequential(
        _t(spark, sf_dir, "events"), series_col="event_type"
    )


def ex_ts_similarity(spark, sf_dir):
    """Time-series subsequence similarity search (the EDBT-2019 streaming
    similarity-search shape): z-normalized Euclidean distance between a
    query pattern and EVERY W-length sliding window of every user's value
    series, top-k closest windows. The query pattern is the first window
    of TSS_QUERY_USER, taken in-plan (1-row broadcast) — no side input.

    Scale shape: windows materialize via ONE user-keyed shuffle (window
    frame collect over (ts, event_id) order — rows carry W values each,
    W=16); z-normalization and the distance are per-row array folds
    (whole-stage codegen, sequential left-to-right in both engines → no
    float divergence); top-k plans as TakeOrderedAndProject (per-partition
    top-k + driver k-merge, never a global sort). Degenerate (constant)
    windows z-map to the zero vector.
    """
    w = C.TSS_W
    ev = _t(spark, sf_dir, "events")
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.currentRow, w - 1)
    )
    wins = (
        ev.select(
            "user_id",
            F.col("event_id").alias("start_event_id"),
            F.collect_list("value").over(win).alias("arr"),
        )
        .filter(F.size("arr") == w)
    )

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

    # Corpus-side scoring with SCALAR mean/std columns and a W-term
    # unrolled distance (r16, guide §1.2 per-task work): the HOF form
    # (two folds + a transform building zarr + a zip_with fold per row)
    # allocated three W-length arrays per window and ran interpreted
    # lambdas; the z-normalized array never needs to materialize —
    # dist² = Σ ((arr[i]-mean)/std - qz[i])². Left-assoc static sums are
    # bit-identical to the sequential folds (0.0 + x == x, the dot_w
    # argument), per-element whens reproduce the σ=0 → zero-vector rule,
    # and W=16 is safely under the giant-method JIT hazard the width-64
    # unroll hit (similarity.cosine_w notes). A/B at sf0.1: 2.4 s →
    # 0.45 s with exact row equality.
    def _ssum(terms):
        e = terms[0]
        for t in terms[1:]:
            e = e + t
        return e

    arr = F.col("arr")
    base = (
        wins.crossJoin(F.broadcast(q))
        .withColumn("__mean", _ssum([arr[i] for i in range(w)]) / F.lit(float(w)))
        .withColumn(
            "__ex2", _ssum([arr[i] * arr[i] for i in range(w)]) / F.lit(float(w))
        )
        .withColumn(
            "__std",
            F.sqrt(
                F.greatest(
                    F.col("__ex2") - F.col("__mean") * F.col("__mean"), F.lit(0.0)
                )
            ),
        )
    )

    def _zterm(i):
        z = F.when(F.col("__std") == 0.0, F.lit(0.0)).otherwise(
            (arr[i] - F.col("__mean")) / F.col("__std")
        )
        d = z - F.col("qz")[i]
        return d * d

    dist = F.round(F.sqrt(_ssum([_zterm(i) for i in range(w)])), 6)
    return (
        base.select("user_id", "start_event_id", dist.alias("dist"))
        .orderBy("dist", "user_id", "start_event_id")
        .limit(C.TSS_TOPK)
    )


def ex_anomaly(spark, sf_dir):
    """Windowed anomaly detection (the observability query a fleet
    operator runs on the A6-style liveness stream): hourly event counts
    per type z-scored against that type's own hourly distribution; hours
    with |z| > 2 flagged. All statistics are exact-integer sums divided
    once, so both engines compute bit-identical z-scores; constant series
    (σ=0) are never flagged. Two partial-aggregating shuffles (the second
    over type-sized data) + one broadcast join back. Scale bound: the
    int64 Σn² stays exact while per-hour-per-type counts are < ~3e8 over
    a year of hours; past that, compute the stats over a bounded trailing
    window or cast the squared term to DECIMAL(38,0)."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count("*").cast("long").alias("n"))
    return hourly_zscore_flags(hourly)


def hourly_zscore_flags(hourly: DataFrame) -> DataFrame:
    """z-score flagging over an (event_type, hr, n) hourly-count table —
    shared by the batch (ex_anomaly) and streaming-lambda (st_anomaly)
    entries. Exact integer sums; flags |round(z, 4)| > 2."""
    stats = hourly.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("sn"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sn2"),
        F.count("*").cast("long").alias("c"),
    )
    mean = F.col("sn") / F.col("c")
    var = F.col("sn2") / F.col("c") - mean * mean
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = F.when(std == 0.0, F.lit(0.0)).otherwise((F.col("n") - mean) / std)
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .select(
            "event_type",
            "hr",
            "n",
            F.round(mean, 4).alias("mean_n"),
            F.round(z, 4).alias("z"),
        )
        .filter(F.abs(F.col("z")) > 2.0)
    )


def ex_retention_matrix(spark, sf_dir):
    """The full cohort-retention matrix (ex_retention generalized): users
    cohorted by first-seen hour × activity at hour offsets 0..5 — the
    standard product-analytics triangle chart. Distinct (user, hour)
    activity collapses map-side BEFORE the cohort join, offsets filter on
    the hour delta (integer micros arithmetic, no float), and the final
    rollup is cohort×offset-keyed — ≤6 rows per cohort regardless of
    event volume."""
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("cohort")
    )
    active = ev.select(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).distinct()
    offset = (
        (F.unix_micros("hr") - F.unix_micros("cohort")) / F.lit(3_600_000_000)
    ).cast("long")
    per_offset = (
        active.join(first_seen, "user_id")
        .select("user_id", "cohort", offset.alias("off"))
        .filter((F.col("off") >= 0) & (F.col("off") <= 5))
        .groupBy("cohort", "off")
        .agg(F.count("*").cast("long").alias("active_users"))
    )
    sizes = first_seen.groupBy("cohort").agg(
        F.count("*").cast("long").alias("cohort_size")
    )
    return per_offset.join(sizes, "cohort").select(
        "cohort",
        "off",
        "cohort_size",
        "active_users",
        F.round(F.col("active_users") / F.col("cohort_size"), 4).alias("rate"),
    )


def ex_key_skew(spark, sf_dir):
    """Key-skew diagnostic over events.user_id: per-key counts reduced to a
    one-row skew summary (max/mean ratio, hottest-key share) — the cheap
    measurement that decides whether a join needs salting BEFORE a 100 TB
    run discovers it the hard way. Two partial-aggregating shuffles, the
    second over already key-sized data."""
    per = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n"))
    )
    return per.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n").cast("long").alias("n_rows"),
        F.max("n").cast("long").alias("max_n"),
        F.round(F.max("n") / F.avg("n"), 4).alias("skew_ratio"),
        F.round(F.max("n") / F.sum("n"), 6).alias("top_share"),
    )


def ex_volume_shipping(spark, sf_dir):
    """TPC-H Q7-style cross-nation volume shipping: revenue between
    distinct nations of a 4-nation trade bloc (directional pairs) by
    supplier nation / customer nation / ship year. Join-order + pushdown
    stress: the nation-name filter is applied to the 25-row dim FIRST and
    broadcast into supplier and customer, shrinking both to 4/25 of their
    rows before the one big lineitem⋈orders shuffle — the plan that
    survives 100 TB (filters at the scans, dims broadcast, a single
    orderkey-keyed exchange)."""
    want = ["NATION_1", "NATION_2", "NATION_3", "NATION_4"]
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name").isin(want))
    sup = (
        _t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(
            F.broadcast(nat.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            F.broadcast(nat.select("n_nationkey", F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "cust_nation")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).withColumn(
        "cents",
        F.expr(
            "CAST(CASE WHEN l_extendedprice >= 0"
            " THEN floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)"
            " ELSE -floor(-(l_extendedprice * (1 - l_discount)) * 100 + 0.5)"
            " END AS BIGINT)"
        ),
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cust), o.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.expr(
                "CAST(CAST(sum(cents) AS DECIMAL(38,0)) AS DOUBLE) / 100.0"
            ).alias("revenue"),
        )
    )


def ex_part_promotion(spark, sf_dir):
    """TPC-H Q20-style nested semi-join with a correlated aggregate
    (decorrelation stress, the Q20 shape minus the partsupp table —
    lineitem's (part, supplier) pairs stand in for supply): suppliers
    who in 1996 shipped a 'red' part and carried MORE THAN 30% of that
    part's total 1996 volume. Threshold compares exact integers
    (10·pair_qty > 3·part_qty over bigint sums — l_quantity is integral)
    so the predicate has no float boundary. The Spark plan decorrelates
    by hand: ONE lineitem scan into a (l_partkey, l_suppkey) partial-agg
    shuffle, the per-part total as a WINDOW over that pair table (no
    second scan, no self-join — the correlated subquery costs one
    part-keyed exchange of already pair-sized data), then a left-semi
    into the supplier dim — no per-row subquery anywhere."""
    red = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey"
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey", F.col("l_quantity").cast("long").alias("q"))
    )
    pair = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("q").cast("long").alias("pair_qty")
    )
    qual = (
        pair.withColumn(
            "part_qty",
            F.sum("pair_qty").over(Window.partitionBy("l_partkey")).cast("long"),
        )
        .filter(F.col("pair_qty") * 10 > F.col("part_qty") * 3)
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(qual, s.s_suppkey == qual.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("acctbal"))
    )


# --------------------------------------------------------------------------
# Round-9 additions: remaining classic TPC-H shapes + LLM-pipeline ops
# --------------------------------------------------------------------------


def _cents_sql(expr: str) -> str:
    """Sign-aware half-away-from-zero 2-dp fixed point (the repo's exact
    money discipline). The oracle writes the identical expression text, so
    cross-engine sums compare bit-exactly in any partition order."""
    return (
        f"CAST(CASE WHEN ({expr}) >= 0"
        f" THEN floor(({expr}) * 100 + 0.5)"
        f" ELSE -floor(-(({expr})) * 100 + 0.5) END AS BIGINT)"
    )


_DESCALE = "CAST(CAST(sum({c}) AS DECIMAL(38,0)) AS DOUBLE) / 100.0"


def ex_pricing_summary(spark, sf_dir):
    """The FULL TPC-H Q1 pricing summary (dq21 is the abbreviated
    flagship form with float sums): per (returnflag, linestatus) the
    complete column set — quantity/price/disc-price/charge sums, all
    three averages, row count — under the exact-integer discipline. All
    money terms accumulate as exact integer cents (discounts as
    micro-units), every double output is derived from those integer
    sums by division only — identical expression text in the oracle, so
    the result is bit-stable under any partitioning (dq21's float sums
    are not; this entry is the 100 TB-safe form). Plan: one lineitem
    scan with the date filter pushed, map-side partial aggregation into
    a 4-row group set."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-01 00:00:00").cast("timestamp")
    )
    li = li.select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("q"),
        F.expr(_cents_sql("l_extendedprice")).alias("price_c"),
        F.expr(_cents_sql("l_extendedprice * (1 - l_discount)")).alias("disc_c"),
        F.expr(
            _cents_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")
        ).alias("charge_c"),
        F.expr("CAST(floor(l_discount * 1000000 + 0.5) AS BIGINT)").alias("disc_u"),
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("q").cast("long").alias("sum_qty"),
        F.expr(_DESCALE.format(c="price_c")).alias("sum_base_price"),
        F.expr(_DESCALE.format(c="disc_c")).alias("sum_disc_price"),
        F.expr(_DESCALE.format(c="charge_c")).alias("sum_charge"),
        F.expr(
            "CAST(CAST(sum(q) AS DECIMAL(38,0)) AS DOUBLE)"
            " / CAST(count(*) AS DOUBLE)"
        ).alias("avg_qty"),
        F.expr(
            "CAST(CAST(sum(price_c) AS DECIMAL(38,0)) AS DOUBLE) / 100.0"
            " / CAST(count(*) AS DOUBLE)"
        ).alias("avg_price"),
        F.expr(
            "CAST(CAST(sum(disc_u) AS DECIMAL(38,0)) AS DOUBLE) / 1000000.0"
            " / CAST(count(*) AS DOUBLE)"
        ).alias("avg_disc"),
        F.count("*").cast("long").alias("count_order"),
    )


def ex_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5-shape local supplier volume: revenue per nation where the
    ordering customer and the supplier share that nation, for one region
    and one order year. nation⋈region is a 25-row broadcast into both
    the customer and supplier sides; customer/supplier/orders scale with
    SF, so those joins shuffle on their keys (no forced broadcast); the
    local-supplier condition (c_nationkey = s_nationkey) rides the
    supplier join as an extra predicate. Exact-cents revenue."""
    nat = (
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey").join(
        F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey", "n_name")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.expr(_cents_sql("l_extendedprice * (1 - l_discount)")).alias("cents"),
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .join(
            sup,
            (li.l_suppkey == sup.s_suppkey)
            & (cust.c_nationkey == sup.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.expr(_DESCALE.format(c="cents")).alias("revenue"),
        )
    )


def ex_forecast_revenue(spark, sf_dir):
    """TPC-H Q6-shape forecast revenue change: a pure filter-and-sum scan
    (date window + discount band + quantity cap) with no join at all —
    the pushdown benchmark. The discount band compares MICRO-UNIT
    INTEGERS (floor(d*1e6+0.5)), not raw doubles, so the boundary rows
    classify identically in both engines; revenue sums exact cents of
    extendedprice*discount."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.expr("CAST(floor(l_discount * 1000000 + 0.5) AS BIGINT)").alias("disc_u"),
        F.expr(_cents_sql("l_extendedprice * l_discount")).alias("cents"),
        "l_shipdate",
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("disc_u").between(50000, 70000)
            & (F.col("q") < 24)
        )
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.expr(_DESCALE.format(c="cents")).alias("revenue"),
        )
    )


def ex_market_share(spark, sf_dir):
    """TPC-H Q8-shape market share: NATION_1 suppliers' share of ECONOMY-
    part revenue sold to AMERICA-region customers, per order year. Both
    the numerator and denominator accumulate as exact integer cents; the
    share is ONE double divide of the two integer sums. The filtered
    part dim broadcasts (the ex_part_promotion precedent); customer and
    supplier joins shuffle; nation/region are 25/5-row broadcasts."""
    pt = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    nat_am = (
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey")
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(nat_am), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", (F.col("s_nationkey") == 1).alias("is_target")
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.expr(_cents_sql("l_extendedprice * (1 - l_discount)")).alias("cents"),
    )
    return (
        li.join(F.broadcast(pt), li.l_partkey == pt.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cust, o.o_custkey == cust.c_custkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy("o_year")
        .agg(
            F.expr(
                "CAST(CAST(sum(CASE WHEN is_target THEN cents ELSE 0 END)"
                " AS DECIMAL(38,0)) AS DOUBLE)"
                " / CAST(CAST(sum(cents) AS DECIMAL(38,0)) AS DOUBLE)"
            ).alias("mkt_share"),
            F.expr(_DESCALE.format(c="cents")).alias("total_revenue"),
        )
    )


def ex_product_profit(spark, sf_dir):
    """TPC-H Q9-shape product-type profit (partsupp-free: unit cost is
    defined as 60% of p_retailprice, both held as exact integer cents
    with an integral div). profit = revenue_cents − qty·unit_cost_cents
    per line, summed by supplier nation and order year. The name-
    filtered part slice still scales with SF, so it is NOT force-
    broadcast (ADVICE r9) — AQE routes that join from runtime stats;
    orders and supplier joins shuffle on their keys; nation is a 25-row
    fixed-size broadcast."""
    pt = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%blue%"))
        .select(
            "p_partkey",
            F.expr(
                "CAST((CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) * 6)"
                " div 10 AS BIGINT)"
            ).alias("cost_c"),
        )
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.col("l_quantity").cast("long").alias("q"),
        F.expr(_cents_sql("l_extendedprice * (1 - l_discount)")).alias("rev_c"),
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .withColumn("profit_c", F.col("rev_c") - F.col("q") * F.col("cost_c"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name", "o_year")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.expr(_DESCALE.format(c="profit_c")).alias("profit"),
        )
    )


def ex_returned_items(spark, sf_dir):
    """TPC-H Q10-shape returned-item losses: top-20 customers by revenue
    of returned lines in H1-1996. The lineitem⋈orders fact join reduces
    to a customer-keyed aggregate FIRST (customer-sized), then joins the
    customer dim and the 25-row nation broadcast — the dims never see
    line-level rows. Top-20 is TakeOrderedAndProject on (revenue desc,
    custkey) — the custkey tie-break makes the SET deterministic, no
    global sort."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey",
        F.expr(_cents_sql("l_extendedprice * (1 - l_discount)")).alias("cents"),
    )
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.expr("CAST(sum(cents) AS DECIMAL(38,0))").alias("rev_c"),
        )
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(nat), c.c_nationkey == nat.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "n_lines",
            F.expr("CAST(rev_c AS DOUBLE) / 100.0").alias("revenue"),
            F.col("rev_c"),
        )
        .orderBy(F.desc("rev_c"), F.asc("c_custkey"))
        .limit(20)
        .drop("rev_c")
    )


def ex_important_stock(spark, sf_dir):
    """TPC-H Q11-shape inventory concentration (partsupp-free: a part's
    'stocked value' is its total shipped qty × 60%-of-retail unit cost):
    parts whose value exceeds 1.5× the MEAN part value. Q11's literal
    fixed-fraction cut degenerates when the part count scales with SF
    (all rows at tiny SF, zero at large), so the threshold is relative
    to the mean — scale-invariant selectivity, same decorrelation
    stress. It compares exact integers (2·value·n > 3·total), no float
    boundary. Plan: one lineitem scan → part-keyed partial-agg shuffle;
    the global (total, n) is a 1-row aggregate of that part-sized table
    (localCheckpointed so the two consumers don't replay the scan),
    broadcast back as a cross join."""
    pt = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.expr(
            "CAST((CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) * 6)"
            " div 10 AS BIGINT)"
        ).alias("cost_c"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_quantity").cast("long").alias("q")
    )
    # part scales with SF — no forced broadcast (it would blow the driver
    # at large SFs, ADVICE r9); AQE routes the join from runtime stats,
    # exactly as ex_large_orders' r9 fix.
    per_part = (
        li.join(pt, li.l_partkey == pt.p_partkey)
        .groupBy("l_partkey")
        .agg(F.expr("CAST(sum(q * cost_c) AS DECIMAL(38,0))").alias("value_c"))
        .localCheckpoint(eager=True)
    )
    total = per_part.agg(
        F.expr("CAST(sum(value_c) AS DECIMAL(38,0))").alias("total_c"),
        F.count("*").cast("long").alias("n_parts"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.expr("value_c * n_parts * 2 > total_c * 3"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.expr("CAST(value_c AS DOUBLE) / 100.0").alias("value"),
        )
    )


def ex_top_supplier(spark, sf_dir):
    """TPC-H Q15-shape top supplier: the supplier(s) with maximum revenue
    over Q1-1996 shipments — tie-safe (ALL max-revenue suppliers
    qualify, the view-based Q15 contract). One lineitem scan → supplier-
    keyed partial-agg shuffle; the supplier-sized revenue table is
    localCheckpointed (two consumers: the max scalar and the probe), the
    1-row max broadcasts back, and the few winners broadcast into the
    supplier dim scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    ).select(
        "l_suppkey",
        F.expr(_cents_sql("l_extendedprice * (1 - l_discount)")).alias("cents"),
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.expr("CAST(sum(cents) AS DECIMAL(38,0))").alias("rev_c"))
        .localCheckpoint(eager=True)
    )
    mx = rev.agg(F.expr("max(rev_c)").alias("max_c"))
    winners = (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_c") == F.col("max_c"))
        .select("l_suppkey", F.expr("CAST(rev_c AS DOUBLE) / 100.0").alias("total_revenue"))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(F.broadcast(winners), s.s_suppkey == winners.l_suppkey).select(
        "s_suppkey", "s_name", "total_revenue"
    )


def ex_parts_supplier_counts(spark, sf_dir):
    """TPC-H Q16-shape supplier counts per part attribute (partsupp-free:
    the supply relation is lineitem's DISTINCT (part, supplier) pairs):
    per (brand, type, size) over a brand/type/size-filtered part set,
    how many distinct suppliers ship it — EXCLUDING flagged suppliers
    (negative account balance, the complaints stand-in) via an anti
    join. The pair distinct and the count-distinct share one part-keyed
    exchange; the filtered dims broadcast; the flagged-supplier key set
    is routed by the optimizer (grows with SF)."""
    pairs = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    pt = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("ECON%")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    flagged = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        pairs.join(flagged, pairs.l_suppkey == flagged.s_suppkey, "left_anti")
        .join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


def ex_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22-shape global sales opportunity: customers in a country
    set with above-average positive balance and NO RECENT orders (none
    since 2000-01-01 — this testdata has no order-less customers at
    all, so Q22's literal no-orders cut returns zero rows at every SF;
    the lapsed-customer form keeps the exact shape: scalar average +
    anti join on a filtered orders projection), counted per nation
    (country code = nationkey — the testdata has no phone column). The
    above-average predicate compares exact integers (bal_c·n_pos >
    sum_c, cross-multiplied — no float average); the recency filter
    pushes to the orders scan, which reads only two columns. The
    customer scan feeds both the average and the probe — table-sized,
    so it recomputes rather than caches (the documented multi-branch
    choice for corpus-sized frames)."""
    nations = [0, 3, 5, 7, 9, 11, 13]
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(nations)
    ).select(
        "c_custkey",
        "c_nationkey",
        F.expr(_cents_sql("c_acctbal")).alias("bal_c"),
    )
    pos = cust.filter(F.col("bal_c") > 0).agg(
        F.expr("CAST(sum(bal_c) AS DECIMAL(38,0))").alias("sum_c"),
        F.count("*").cast("long").alias("n_pos"),
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate")
            >= F.lit("2000-01-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(pos))
        .filter(F.expr("bal_c * n_pos > sum_c"))
        .join(o, cust.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("long").alias("numcust"),
            F.expr(
                "CAST(CAST(sum(bal_c) AS DECIMAL(38,0)) AS DOUBLE) / 100.0"
            ).alias("totacctbal"),
        )
    )


def ex_repetition_stats(spark, sf_dir):
    """Gopher-style repetition signals (Rae et al. 2021 'repetitious
    text' rules): per document, the duplicate word-trigram fraction and
    the hottest trigram's repeat count. One (doc, shingle)-keyed partial
    aggregation, then a doc-keyed map-side-combinable rollup; the ratio
    is one double divide of exact counters. The drop verdict applies the
    dup_frac > 0.1 rule."""
    sh = dedup.shingles(_t(spark, sf_dir, "documents"), distinct=False)
    return repetition_stats_from(sh)


def repetition_stats_from(sh):
    """ex_repetition_stats' rollup over an arbitrary (doc_id, s) trigram
    frame — shared with the streaming leg, whose ingest projection
    extracts exactly this shape (the dup_spans_tables extract/analyze
    split). Exact counters all the way; one final divide."""
    per_gram = sh.groupBy("doc_id", "s").agg(F.count("*").alias("cnt"))
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_grams"),
            F.count("*").cast("long").alias("n_distinct"),
            F.max("cnt").cast("long").alias("max_repeat"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_distinct",
            "max_repeat",
            F.expr(
                "CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)"
            ).alias("dup_frac"),
            F.expr(
                "CAST(n_grams - n_distinct AS DOUBLE) / CAST(n_grams AS DOUBLE)"
                " > 0.1"
            ).alias("drop_doc"),
        )
    )


def ex_asof_features(spark, sf_dir):
    """Point-in-time feature join (the leakage-safe enrichment every
    training pipeline needs): each event picks the user's most recent
    order at-or-before the event time, within a 1-year lookback — never
    a future order. Orders first reduce to one row per (custkey, day)
    (max orderkey — the deterministic tie rule), then ride the as-of
    composition: ONE user-keyed equi-join + re-aggregation on the event
    primary key (operators.core.asof_last_match; Spark has no native
    ASOF join). The match value is a composite day·2^44+orderkey bigint
    so max() picks the LATEST day, not the largest key (2^44 leaves
    headroom for ~1.7e13 order keys and ~500k days — no collision at
    any realistic scale factor; 2^20 would already overflow at TPC-H
    sf1's 1.5M orders); the oracle uses
    DuckDB's native ASOF JOIN on the same reduced order table.

    The event times are deterministically REBASED into the order-date
    span first (prime-spread modulus — see asof_feature_frame): the
    fixture's raw event clock (2024-01) sits entirely AFTER the last
    order (2001-08), so without the rebase the 365-day lookback matches
    zero rows and the parity evidence is vacuous (ADVICE r9). After the
    rebase ~73% of events match and ~27% exercise the NULL leg."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return asof_feature_frame(spark, sf_dir, ev)


def ex_asof_features_skew(spark, sf_dir):
    """ex_asof_features through the SKEW-SAFE kernel: the same
    point-in-time semantics, but matching runs as a cogrouped-pandas
    searchsorted kernel over hash buckets of the key (operators.core.
    asof_last_match_pandas) instead of join-then-reaggregate. This is
    the production shape for hot keys / dense right sides, where the
    join form amplifies the intermediate by up to lookback/granularity
    (≤365 rows per event here); the cogrouped kernel shuffles each side
    ONCE on the key's bucket and never materializes the candidate set.
    Outputs are identical by construction, so it shares ex_asof_features'
    oracle (plus a unit equivalence test against the join form)."""
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return asof_feature_frame(spark, sf_dir, ev, matcher="pandas")


# Composite-value epoch: strictly BELOW any representable order date so
# datediff is never negative (a pre-epoch order would make oval negative
# and the trunc-semantics div/% decode silently wrong — ADVICE r9). The
# guard raises loudly instead of decoding garbage.
_ASOF_EPOCH = "DATE '1992-01-01'"


def asof_feature_frame(spark, sf_dir, ev, matcher="join"):
    """ex_asof_features' composition over an arbitrary (event_id,
    user_id, ts) frame — shared with the streaming leg, which drains the
    event stream into exactly this shape, and with the skew-safe
    cogrouped-pandas variant (``matcher='pandas'``).

    The event clock is rebased into the order-date span: shifted ts =
    1995-06-01 + (epoch_seconds(ts)·1009 mod 190,000,000) seconds. The
    prime spread factor fans the fixture's one-month event window across
    the full 1995–2001 order history (a plain modulus would land every
    event in the same month); 190 M seconds tops out at 2001-06, inside
    the last order date. Deterministic pure integer arithmetic, mirrored
    exactly in the DuckDB oracle."""
    ev = ev.withColumn(
        "ts",
        F.expr(
            "timestampadd(SECOND,"
            " unix_micros(ts) div 1000000 * 1009 % 190000000,"
            " TIMESTAMP '1995-06-01 00:00:00')"
        ),
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("ots"),
        )
        .agg(F.max("o_orderkey").cast("long").alias("okey"))
        .withColumn(
            "oval",
            F.expr(
                f"CASE WHEN datediff(ots, {_ASOF_EPOCH}) < 0"
                " THEN CAST(raise_error("
                "'asof composite precondition: order date before the"
                " 1992-01-01 epoch') AS BIGINT)"
                f" ELSE CAST(datediff(ots, {_ASOF_EPOCH}) AS BIGINT)"
                " * 17592186044416 + okey END"
            ),
        )
        .drop("okey")
    )
    if matcher == "pandas":
        matched = ops.asof_last_match_pandas(
            ev,
            orders,
            key="user_id",
            left_ts="ts",
            right_ts="ots",
            lookback_s=365 * 86400,
            right_val="oval",
        )
    else:
        matched = ops.asof_last_match(
            ev,
            orders,
            key="user_id",
            left_ts="ts",
            right_ts="ots",
            lookback="INTERVAL 365 DAYS",
            right_val="oval",
        )
    return matched.select(
        "event_id",
        "user_id",
        F.expr(
            "CASE WHEN asof_match IS NULL THEN NULL ELSE"
            " CAST(asof_match div 17592186044416 AS BIGINT) END"
        ).alias("order_day"),
        F.expr(
            "CASE WHEN asof_match IS NULL THEN NULL ELSE"
            " CAST(asof_match % 17592186044416 AS BIGINT) END"
        ).alias("order_key"),
    )


def ex_winnow_fingerprint(spark, sf_dir):
    """Winnowing near-dup candidates (Schleimer et al. 2003, the MOSS
    fingerprint): per doc, trigram hashes in position order, the min
    hash of each 4-window kept as a fingerprint (guarantee: any shared
    run ≥ w+k−1 tokens shares a fingerprint), boilerplate fingerprints
    df-capped, then candidate pairs = docs sharing ≥ 2 fingerprints.
    One doc-keyed window pass + one fingerprint-keyed equi-join — never
    all-pairs; the df cap bounds per-fingerprint fanout at corpus
    scale."""
    return dedup.winnow_candidates(_t(spark, sf_dir, "documents"))


def ex_winnow_dedup_apply(spark, sf_dir):
    """Winnowing dedup APPLIED (the pairs → clusters → drop set →
    surviving corpus chain every other pairs source already ends in):
    winnow candidate pairs → large-star/small-star connected components
    → drop non-canonical members → per-source survivor summary. The
    corpus scan is never shuffled (apply_drop_set's routed anti-join
    shape); the non-dim exchanges touch only the fingerprint table and
    the pair/cluster frames."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.winnow_candidates(docs).select("doc_a", "doc_b")
    return dedup.survivor_summary(dedup.apply_pairs(docs, pairs))


def ex_range_join(spark, sf_dir):
    """Range join via time-bucket BINNING — the standard Spark technique
    for inequality joins (a raw t_a < t_b ≤ t_a + Δ self-join plans as
    BroadcastNestedLoop: quadratic, a scale-killer): bucket both sides
    to ⌊t/Δ⌋, the left side fans out to its own and the NEXT bucket
    (every in-range partner lands in one of the two), equi-join on
    (user, bucket) — plan-audited to stay a hash/merge join — then the
    exact range predicate filters the candidates. Semantics: per
    ordered (type_a → type_b) pair, how many same-user event pairs
    occur within 5 minutes, with the exact mean gap (integer micros
    sum, one divide). The two events scans are the self-join's two
    sides — corpus-sized, so recomputing beats materializing (the
    documented multi-branch rule); each side is a narrow 3-column
    projection."""
    delta_us = 300 * 1_000_000
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("t"),
    )
    a = ev.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("t").alias("t_a"),
        F.explode(
            F.array(
                F.expr(f"CAST(t div {delta_us} AS BIGINT)"),
                F.expr(f"CAST(t div {delta_us} AS BIGINT) + 1"),
            )
        ).alias("bucket"),
    )
    b = ev.select(
        "user_id",
        F.col("event_type").alias("type_b"),
        F.col("t").alias("t_b"),
        F.expr(f"CAST(t div {delta_us} AS BIGINT)").alias("bucket"),
    )
    return (
        a.join(b, ["user_id", "bucket"])
        .filter((F.col("t_b") > F.col("t_a")) & (F.col("t_b") <= F.col("t_a") + delta_us))
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr(
                "CAST(CAST(sum(t_b - t_a) AS DECIMAL(38,0)) AS DOUBLE)"
                " / 1000000.0 / CAST(count(*) AS DOUBLE)"
            ).alias("avg_gap_s"),
        )
    )


# --------------------------------------------------------------------------


def registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """name -> (spark, sf_dir) -> DataFrame for every declared query.

    Ordering is deliberate: correctness harnesses may sample a prefix
    window (historically the first 50 entries), so the window ROTATES
    between rounds to earn hard driver evidence for every entry. The
    round-16 layout executes the r15 VERDICT mandate exactly: positions
    1-16 are the SIXTEEN remaining r11-green entries (the oldest
    evidence anywhere after the green r15 window, in first-ever-green
    order as listed at the r15 tail head); positions 17-50 take the
    THIRTY-FOUR oldest r12-green entries, ordered by first-ever-green
    round with the documented alphabetical tie-break (nine r1-vintage,
    four r2, eighteen r3, and the first three of the r5 bucket —
    ex_bitwise is the first OUT) — so after a green r16 nothing in the
    registry predates r12 and the r11 cohort is retired. NO new entry
    this round: the op space is saturated and every window slot goes to
    evidence freshness. The REMAINING 16 r12-green entries sit at the
    TAIL HEAD in first-green order and rotate first in r17 (ex_bitwise,
    ex_chunk_docs, ex_custdist, ex_date_funcs, ex_dedup_apply,
    ex_dedup_incremental, ex_dedup_substring, ex_embed_gram,
    ex_image_neardup, ex_video_neardup, ex_ann_filtered,
    ex_audio_dedup_apply, ex_bm25, ex_containment_dedup,
    ex_decontaminate_apply, ex_zrange_bigmin — they plus the 34 oldest
    r13-green fill the r17 window and retire the r12 cohort); after
    them the tail lists r13-green, r14-green, then the 50 entries of
    the r15 window (freshest last), each cohort keeping its prior
    relative order. No existing plan changed this round, so no
    plan-change slots are needed.
    """
    return {
        # --- window 1-16: the 16 remaining r11-green entries (r15 VERDICT mandate #1, first-green order) ---
        "ex_token_entropy": ex_token_entropy,
        "ex_ts_similarity": ex_ts_similarity,
        "st_anomaly": jobs.anomaly_stream,
        "st_console_roundtrip": jobs.console_roundtrip_stream,
        "st_heavy_hitters": jobs.heavy_hitters_stream,
        "st_quality_gate": jobs.quality_gate_stream,
        "st_quality_model": jobs.quality_model_stream,
        "ex_audio_neardup": ex_audio_neardup,
        "st_audio_neardup": jobs.audio_neardup_stream,
        "st_image_neardup": jobs.image_neardup_stream,
        "st_video_neardup": jobs.video_neardup_stream,
        "st_audio_dedup_apply": jobs.audio_dedup_apply_stream,
        "st_image_dedup_apply": jobs.image_dedup_apply_stream,
        "st_video_dedup_apply": jobs.video_dedup_apply_stream,
        "st_hash_split": jobs.hash_split_stream,
        "st_zorder_layout": jobs.zorder_shard_stream,
        # --- window 17-50: the 34 oldest r12-green entries (first-green r1/r2/r3 + three r5) ---
        "dq04": dq04,
        "dq16": dq16,
        "dq19": dq19,
        "dq21": dq21,
        "dq22": dq22,
        "ex_cube": ex_cube,
        "ex_lang_id": ex_lang_id,
        "ex_text_stats": ex_text_stats,
        "ex_token_count": ex_token_count,
        "dq02": dq02,
        "dq09": dq09,
        "dq14": dq14,
        "ex_udf_surface": ex_udf_surface,
        "ex_decontaminate": ex_decontaminate,
        "ex_dedup_clusters": ex_dedup_clusters,
        "ex_dedup_pipeline": ex_dedup_pipeline,
        "ex_fuzzy_match": ex_fuzzy_match,
        "ex_gapfill": ex_gapfill,
        "ex_hash_split": ex_hash_split,
        "ex_histogram": ex_histogram,
        "ex_multimodal_features": ex_multimodal_features,
        "ex_multimodal_frames": ex_multimodal_frames,
        "ex_multimodal_resize": ex_multimodal_resize,
        "ex_pack_sequences": ex_pack_sequences,
        "ex_percentiles": ex_percentiles,
        "ex_pivot": ex_pivot,
        "ex_scalar_subquery": ex_scalar_subquery,
        "ex_scd2_history": ex_scd2_history,
        "ex_semantic_search": ex_semantic_search,
        "ex_skew_join": ex_skew_join,
        "ex_stratified_sample": ex_stratified_sample,
        "ex_ann_ivf_trained": ex_ann_ivf_trained,
        "ex_ann_recall": ex_ann_recall,
        "ex_array_agg": ex_array_agg,
        # --- tail head: remaining 16 r12-green entries (rotate first in r17) ---
        "ex_bitwise": ex_bitwise,
        "ex_chunk_docs": ex_chunk_docs,
        "ex_custdist": ex_custdist,
        "ex_date_funcs": ex_date_funcs,
        "ex_dedup_apply": ex_dedup_apply,
        "ex_dedup_incremental": ex_dedup_incremental,
        "ex_dedup_substring": ex_dedup_substring,
        "ex_embed_gram": ex_embed_gram,
        "ex_image_neardup": ex_image_neardup,
        "ex_video_neardup": ex_video_neardup,
        "ex_ann_filtered": ex_ann_filtered,
        "ex_audio_dedup_apply": ex_audio_dedup_apply,
        "ex_bm25": ex_bm25,
        "ex_containment_dedup": ex_containment_dedup,
        "ex_decontaminate_apply": ex_decontaminate_apply,
        "ex_zrange_bigmin": ex_zrange_bigmin,
        # --- tail: r13-green ---
        "ex_distinct_agg": ex_distinct_agg,
        "ex_dq_checks": ex_dq_checks,
        "ex_embed_quantize": ex_embed_quantize,
        "ex_exists_shipped": ex_exists_shipped,
        "ex_group_concat": ex_group_concat,
        "ex_hdr_quantile": ex_hdr_quantile,
        "ex_hdr_quantile_grouped": ex_hdr_quantile_grouped,
        "ex_image_dedup_apply": ex_image_dedup_apply,
        "ex_image_neardup_incr": ex_image_neardup_incr,
        "ex_image_neardup_wide": ex_image_neardup_wide,
        "ex_part_promotion": ex_part_promotion,
        "ex_semdedup_apply": ex_semdedup_apply,
        "ex_ship_priority_counts": ex_ship_priority_counts,
        "ex_small_qty_revenue": ex_small_qty_revenue,
        "ex_video_dedup_apply": ex_video_dedup_apply,
        "ex_waiting_orders": ex_waiting_orders,
        "st_bm25": jobs.bm25_stream,
        "st_containment_dedup": jobs.containment_stream,
        "st_dedup_substring": jobs.dedup_substring_stream,
        "st_hdr_quantile": jobs.hdr_quantile_stream,
        "ex_grouping_sets": ex_grouping_sets,
        "ex_neardup_jaccard": ex_neardup_jaccard,
        "ex_rollup": ex_rollup,
        "ex_semijoin": ex_semijoin,
        "ex_shipping_priority": ex_shipping_priority,
        "ex_topk_per_group": ex_topk_per_group,
        "ex_window_analytics": ex_window_analytics,
        "ex_range_window": ex_range_window,
        "ex_sessionize": ex_sessionize,
        "ex_key_skew": ex_key_skew,
        "ex_kmeans": ex_kmeans,
        "ex_label_centroids": ex_label_centroids,
        "ex_map_funcs": ex_map_funcs,
        "ex_null_logic": ex_null_logic,
        "ex_pii_scrub": ex_pii_scrub,
        "ex_promo_share": ex_promo_share,
        "ex_quality_filter": ex_quality_filter,
        "ex_rank_funcs": ex_rank_funcs,
        "ex_regex_funcs": ex_regex_funcs,
        "ex_scalar_funcs": ex_scalar_funcs,
        "ex_stat_agg": ex_stat_agg,
        "ex_string_funcs2": ex_string_funcs2,
        "ex_unigram_logprob": ex_unigram_logprob,
        "ex_union_all": ex_union_all,
        "ex_unpivot": ex_unpivot,
        "ex_vocab": ex_vocab,
        "st_vocab": jobs.vocab_stream,
        "ex_disjunctive_revenue": ex_disjunctive_revenue,
        "ex_volume_shipping": ex_volume_shipping,
        "ex_large_orders": ex_large_orders,
        # --- tail: r14-green ---
        "ex_forecast_revenue": ex_forecast_revenue,
        "ex_global_sales_opportunity": ex_global_sales_opportunity,
        "ex_important_stock": ex_important_stock,
        "ex_local_supplier_volume": ex_local_supplier_volume,
        "ex_market_share": ex_market_share,
        "ex_parts_supplier_counts": ex_parts_supplier_counts,
        "ex_pricing_summary": ex_pricing_summary,
        "ex_product_profit": ex_product_profit,
        "ex_range_join": ex_range_join,
        "ex_repetition_stats": ex_repetition_stats,
        "ex_returned_items": ex_returned_items,
        "ex_top_supplier": ex_top_supplier,
        "ex_winnow_dedup_apply": ex_winnow_dedup_apply,
        "ex_winnow_fingerprint": ex_winnow_fingerprint,
        "st_lang_id": jobs.lang_id_stream,
        "st_pii_scrub": jobs.pii_scrub_stream,
        "st_text_stats": jobs.text_stats_stream,
        "st_winnow_fingerprint": jobs.winnow_stream,
        "dq18": dq18,
        "ex_ann_ivf": ex_ann_ivf,
        "ex_ann_lsh": ex_ann_lsh,
        "ex_ann_topk": ex_ann_topk,
        "ex_dedup_exact": ex_dedup_exact,
        "ex_fingerprint": ex_fingerprint,
        "ex_minhash_sig": ex_minhash_sig,
        "ex_neardup_cosine": ex_neardup_cosine,
        "ex_neardup_minhash": ex_neardup_minhash,
        "dq03": dq03,
        "ex_multimodal_meta": ex_multimodal_meta,
        "ex_except": ex_except,
        "ex_dup_spans": ex_dup_spans,
        "ex_frame_decode": ex_frame_decode,
        "ex_anomaly": ex_anomaly,
        "ex_bigram_logprob": ex_bigram_logprob,
        "ex_bpe_encode": ex_bpe_encode,
        "ex_bpe_train": ex_bpe_train,
        "ex_cooccur": ex_cooccur,
        "ex_domain_mix": ex_domain_mix,
        "ex_downsample": ex_downsample,
        "ex_downsample_seq": ex_downsample_seq,
        "ex_funnel": ex_funnel,
        "ex_heavy_hitters": ex_heavy_hitters,
        "ex_label_prop": ex_label_prop,
        "ex_normalize_text": ex_normalize_text,
        "ex_pagerank": ex_pagerank,
        "ex_quality_model": ex_quality_model,
        "ex_retention": ex_retention,
        "ex_asof_features": ex_asof_features,
        "st_asof_features": jobs.asof_features_stream,
        "ex_ann_ivfpq": ex_ann_ivfpq,
        # --- tail: r15-green (the r15 window, freshest last) ---
        "ex_ann_pq": ex_ann_pq,
        "ex_asof_features_skew": ex_asof_features_skew,
        "ex_balance_classes": ex_balance_classes,
        "ex_balance_classes_skew": ex_balance_classes_skew,
        "ex_bpe_fertility": ex_bpe_fertility,
        "ex_knn_clusters": ex_knn_clusters,
        "ex_knn_dedup_apply": ex_knn_dedup_apply,
        "ex_knn_graph": ex_knn_graph,
        "ex_perplexity_buckets": ex_perplexity_buckets,
        "ex_session_funnel": ex_session_funnel,
        "ex_token_budget_mix": ex_token_budget_mix,
        "ex_zorder_layout": ex_zorder_layout,
        "ex_zrange_query": ex_zrange_query,
        "st_perplexity_buckets": jobs.perplexity_buckets_stream,
        "st_repetition_stats": jobs.repetition_stats_stream,
        "st_stratified_sample": jobs.stratified_sample_stream,
        "dq05": dq05,
        "dq06": dq06,
        "dq13": dq13,
        "dq20": dq20,
        "dq23": dq23,
        "dq25": dq25,
        "ex_simhash": ex_simhash,
        "dq01": dq01,
        "dq07": dq07,
        "dq08": dq08,
        "dq10": dq10,
        "dq11": dq11,
        "dq12": dq12,
        "dq15": dq15,
        "dq17": dq17,
        "dq24": dq24,
        "ex_tfidf": ex_tfidf,
        "st_ack_tracker": jobs.ack_tracker_stream,
        "st_command_plane": jobs.command_plane_stream,
        "st_content_dedup": jobs.content_dedup_stream,
        "st_dedup": jobs.dedup_stream,
        "st_latest_user": jobs.latest_per_user_stream,
        "st_override_asof": jobs.override_asof_stream,
        "st_session_window": jobs.session_window_stream,
        "st_sliding_counts": jobs.sliding_counts_stream,
        "st_stream_join": jobs.stream_stream_join,
        "st_window_counts": jobs.window_counts_stream,
        "ex_approx_distinct": ex_approx_distinct,
        "ex_approx_quantile": ex_approx_quantile,
        "ex_correlated_min": ex_correlated_min,
        "st_sink_roundtrip": jobs.sink_roundtrip_stream,
        "ex_retention_matrix": ex_retention_matrix,
        "ex_semdedup": ex_semdedup,
        "ex_sketch_quantile": ex_sketch_quantile,
    }
