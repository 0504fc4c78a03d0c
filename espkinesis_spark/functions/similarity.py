"""Similarity search over an embedding column (array<float>).

Three paths, same semantics (cosine rounded to 6 dp before any argmax /
threshold; ties break to the lowest neighbor id):

* brute-force top-k — the exact baseline. The (bounded) query set is
  broadcast into a matmul over each Arrow batch of the corpus.
* threshold near-dup — all pairs above a cosine threshold; one broadcast
  matmul while the corpus fits, blocked at real scale.
* IVF — deterministic coarse quantization: assign every vector to its
  nearest centroid, probe only the closest IVF_NPROBE centroid buckets.
  The scale path: candidate set shrinks by ~ (nprobe / n_centroids), the
  assignment pass is a broadcast join against the (small) centroid set,
  and the probe is an equi-join on centroid id — no all-pairs anywhere.

k-means (``kmeans_train``) keeps its Lloyd trajectory on the driver: the
centroids are a k-row array pair broadcast into the assignment matmul,
and each round is one aggregate collected back. SemDeDup (``semdedup``)
scores pairs cluster by cluster in one grouped Arrow stage.

The exact kernels (top-k, near-dup, IVF assignment, the SemDeDup cluster
stage) are Arrow-batched numpy matmuls sharing one rounded-cosine form
(``_cosine6``); the candidate-scoring joins compute dot products
JVM-side via zip_with/aggregate in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from espkinesis_spark.functions import common as C
from espkinesis_spark.plans.audit import plan_size_bytes as _plan_size_bytes


def _as_double(arr: Column) -> Column:
    return arr.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product (bit-stable across runs)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_w(a: Column, b: Column, width: int) -> Column:
    """``dot`` unrolled for a statically-known vector width (guide §1.2
    per-task work): the higher-order fold allocates a zip array and runs
    an interpreted lambda per element, which dominates candidate-join
    stages that evaluate millions of d² terms; the unrolled left-assoc
    sum is pure codegen. Bit-identical to ``dot``: the fold's seed makes
    its first step 0.0 + a[0]*b[0], and IEEE 0.0 + x == x for every x
    except -0.0 (sign only, which dies in the downstream subtraction /
    ordered-fold that every consumer applies)."""
    e = a[0] * b[0]
    for i in range(1, width):
        e = e + a[i] * b[i]
    return e


def _fanout_width(df: DataFrame, expand: int) -> int:
    """Partition count for an exchange feeding a stage that EXPANDS its
    input ~``expand``× (broadcast-candidate joins ahead of an argmin):
    AQE sizes coalesced partitions by the exchange's own bytes, blind to
    downstream fan-out, and at small inputs collapses the exchange to
    ONE partition — serializing the whole d² chain (measured 2.8 s →
    1.1 s on pq assign at sf0.1). Scale-adaptively derive the width from
    the Catalyst size estimate × fan-out at the guide's ~64 MB/partition
    target (§2.2), floored at the cluster's default parallelism so small
    inputs still use every core; at 100 TB the estimate term dominates
    and the floor is irrelevant."""
    spark = df.sparkSession
    floor = spark.sparkContext.defaultParallelism
    est = _plan_size_bytes(df)
    # unknown size: the parallelism floor, not an absurd partition count;
    # the 2^17 cap bounds the result — a single shuffle wider than that
    # is operationally wrong anyway
    if est is None:
        return floor
    return min(max(floor, est * max(expand, 1) // (64 << 20)), 1 << 17)


def sq_norm(a: Column) -> Column:
    return F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)


def with_norm(vecs: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach the L2 norm once (reused across every pairwise computation)."""
    return vecs.withColumn("__norm", F.sqrt(sq_norm(_as_double(F.col(vec_col)))))


def cosine(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    return F.round(dot(_as_double(a), _as_double(b)) / (norm_a * norm_b), C.COSINE_ROUND)


def _cosine6(a, b):
    """Rounded cosine of every row of ``a`` against every row of ``b``
    (float64 matrices): one BLAS matmul over the product of the L2 row
    norms, rounded to ``COSINE_ROUND`` dp — the numpy form of ``cosine``
    that every Arrow kernel here scores with."""
    import numpy as np

    na = np.sqrt((a * a).sum(axis=1))
    nb = na if b is a else np.sqrt((b * b).sum(axis=1))
    return np.round((a @ b.T) / (na[:, None] * nb[None, :]), C.COSINE_ROUND)


# NOTE (r16, measured twice): statically unrolling FULL-WIDTH (64-dim)
# kernels is a LOSS — an unrolled 64-term cosine A/B'd ~2.5× slower than
# the interpreted fold with identical plan shape and single evaluation
# (140k-pair projection 4.0 s vs 1.4 s), and a fused 64-avg k-means
# update 2× slower — consistent with HotSpot declining to JIT giant
# generated methods. Unrolls (dot_w) are used ONLY for narrow widths
# (PQ subvectors w=4; the W=16 ts-similarity distance).


def topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = C.ANN_TOPK,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query vector: (vec_id, rnk, neighbor_id, cos).

    Broadcast the (small) query matrix, BLAS matmul against each Arrow batch
    of the corpus, keep a local top-k per query per batch, then one tiny
    window merge over batches*k candidates — the scan over the corpus is a
    pure map, so the shape holds at any corpus size.
    """
    return _topk_per_query(_topk_candidates_numpy(queries, corpus, k, vec_col), k, "cos")


def _topk_per_query(scored: DataFrame, k: int, *extra: str) -> DataFrame:
    """The exact top-k tail every ANN path shares: rank each query's
    scored (vec_id, neighbor_id, cos) candidates by cos descending, ties
    to the lowest neighbor_id (deterministic for the oracle), and keep
    ranks 1..k as (vec_id, rnk, neighbor_id, *extra)."""
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("vec_id", "rnk", "neighbor_id", *extra)
    )


def _topk_candidates_numpy(
    queries: DataFrame, corpus: DataFrame, k: int, vec_col: str
) -> DataFrame:
    """Per-batch local top-k candidates (vec_id, neighbor_id, cos): the
    global merge only sees batches*k rows per query. Ties keep the lowest
    neighbor_id."""
    import numpy as np
    import pandas as pd

    rows = queries.select("vec_id", vec_col).collect()  # broadcast build side
    q_ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    q_mat = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    bc = queries.sparkSession.sparkContext.broadcast((q_ids, q_mat))

    def run(batches):
        qi, qm = bc.value
        for pdf in batches:
            c_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c_mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cos = _cosine6(c_mat, qm)
            out_q, out_n, out_c = [], [], []
            for j in range(len(qi)):
                col = np.where(c_ids != qi[j], cos[:, j], -np.inf)
                if len(col) > k:
                    # all rows >= the k-th largest value (ties included), then
                    # an exact (-cos, neighbor_id) sort of that tiny set
                    kth = np.partition(col, -k)[-k]
                    cand = np.nonzero(col >= kth)[0]
                else:
                    cand = np.nonzero(col > -np.inf)[0]
                order = np.lexsort((c_ids[cand], -col[cand]))[:k]
                sel = cand[order]
                out_q.extend([qi[j]] * len(sel))
                out_n.extend(c_ids[sel])
                out_c.extend(col[sel])
            yield pd.DataFrame(
                {
                    "vec_id": np.array(out_q, dtype=np.int64),
                    "neighbor_id": np.array(out_n, dtype=np.int64),
                    "cos": np.array(out_c, dtype=np.float64),
                }
            )

    return corpus.select("vec_id", vec_col).mapInPandas(
        run, schema="vec_id long, neighbor_id long, cos double"
    )


# Raw-bytes budget for collecting the whole corpus to the driver for a
# single-broadcast matmul; larger corpora go through the blocked path
# (block-pair groups scored executor-side). 64 MiB of plan-estimated bytes
# keeps the broadcast well inside the executor/driver defaults while the
# blocked path's per-group footprint stays ~2 x budget.
NEARDUP_BROADCAST_BYTES = 64 << 20

# Block-count ceiling for the blocked path. Each vector is shuffled to
# exactly n_blocks block-pair groups, so shuffle volume grows linearly in
# n_blocks; past ~64 blocks (≈4 TB of embeddings at the 64 MiB block
# budget) the right tool is an IVF/LSH pre-filter feeding exact_verify,
# not a wider all-pairs sweep.
NEARDUP_MAX_BLOCKS = 64


def neardup_cosine(vecs: DataFrame, threshold: float = C.NEARDUP_COSINE) -> DataFrame:
    """All pairs (a < b) with rounded cosine >= threshold.

    Routes on Catalyst's size estimate: the single-broadcast matmul kernel
    (each Arrow batch computes a (batch x corpus) BLAS matmul) when it fits
    ``NEARDUP_BROADCAST_BYTES``, otherwise the blocked path (corpus scored
    block-pair by block-pair, entirely on executors — no corpus data ever
    reaches the driver) — same output either way (equivalence-tested). A
    100 TB embedding table can never be collected to the driver, so
    routing on the plan estimate is what makes this the default-safe entry
    point.
    """
    size = _plan_size_bytes(vecs)
    if size is not None and size <= NEARDUP_BROADCAST_BYTES:
        return _neardup_cosine_numpy(vecs, threshold)
    import math

    # unknown size: the widest blocking, the safe direction
    n_blocks = (
        NEARDUP_MAX_BLOCKS
        if size is None
        else min(NEARDUP_MAX_BLOCKS, max(2, math.ceil(size / NEARDUP_BROADCAST_BYTES)))
    )
    return neardup_cosine_blocked(vecs, threshold, n_blocks)


def _neardup_cosine_numpy(probe: DataFrame, threshold: float) -> DataFrame:
    """Arrow-batched matmul kernel behind the same (vec_a, vec_b, cos)
    contract. The corpus is collected and broadcast (the auto-router only
    sends broadcast-sized corpora here); every probe batch matmuls against
    it, emitting pairs with probe_id < build_id."""
    import numpy as np
    import pandas as pd

    # Arrow toPandas, not collect(): the row-pickle path cost 0.61 s for
    # the 2000x64 sf0.1 build side vs 0.21 s through Arrow (r17, guide
    # §6 Arrow-for-driver-transfers); float64 bits are identical.
    pdf = probe.select("vec_id", "embedding").toPandas()
    if pdf.empty:
        return probe.sparkSession.createDataFrame(
            [], "vec_a long, vec_b long, cos double"
        )
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    bc = probe.sparkSession.sparkContext.broadcast((ids, mat))

    def run(batches):
        b_ids, b_mat = bc.value
        for pdf in batches:
            a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            a_mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cos = _cosine6(a_mat, b_mat)
            ai, bi = np.nonzero((cos >= threshold) & (a_ids[:, None] < b_ids[None, :]))
            yield pd.DataFrame(
                {"vec_a": a_ids[ai], "vec_b": b_ids[bi], "cos": cos[ai, bi]}
            )

    return probe.select("vec_id", "embedding").mapInPandas(
        run, schema="vec_a long, vec_b long, cos double"
    )


def neardup_cosine_blocked(
    vecs: DataFrame, threshold: float = C.NEARDUP_COSINE, n_blocks: int = 4
) -> DataFrame:
    """The beyond-broadcast near-dup path: 2-D block decomposition, scored
    entirely on executors.

    Every vector gets a block id (vec_id % n_blocks); every unordered pair
    of blocks (i <= j) becomes one group holding the vectors of both
    blocks, built by joining the corpus to the (tiny, broadcast) combo
    list and grouped with ``applyInPandas``. Each group BLAS-matmuls its
    two blocks and emits the qualifying pairs — diagonal groups take the
    strict upper triangle, off-diagonal groups the full cross product
    (blocks are disjoint, so each pair lands in exactly one group).

    No corpus data ever reaches the driver. Per-group memory is
    2 x corpus/n_blocks — pick n_blocks so a block fits the broadcast
    budget. Shuffle volume is n_blocks x corpus (each vector joins the
    n_blocks combos naming its block), so past ``NEARDUP_MAX_BLOCKS`` the
    right tool is an IVF/LSH pre-filter, not more blocks. Equivalent
    output to ``neardup_cosine`` (tested).
    """
    import numpy as np
    import pandas as pd

    spark = vecs.sparkSession
    tagged = vecs.select(
        "vec_id", "embedding", (F.col("vec_id") % n_blocks).cast("int").alias("__blk")
    )
    combos = (
        spark.range(n_blocks)
        .select(F.col("id").cast("int").alias("__bi"))
        .crossJoin(spark.range(n_blocks).select(F.col("id").cast("int").alias("__bj")))
        .filter(F.col("__bi") <= F.col("__bj"))
    )
    replicated = tagged.join(
        F.broadcast(combos),
        (F.col("__blk") == F.col("__bi")) | (F.col("__blk") == F.col("__bj")),
    )

    def score(key, pdf):
        i, j = int(key[0]), int(key[1])
        a = pdf[pdf["__blk"] == i]
        b = a if i == j else pdf[pdf["__blk"] == j]
        empty = pd.DataFrame(
            {
                "vec_a": np.array([], dtype=np.int64),
                "vec_b": np.array([], dtype=np.int64),
                "cos": np.array([], dtype=np.float64),
            }
        )
        if a.empty or b.empty:
            return empty
        a_ids = a["vec_id"].to_numpy(dtype=np.int64)
        b_ids = b["vec_id"].to_numpy(dtype=np.int64)
        a_mat = np.stack(a["embedding"].to_numpy()).astype(np.float64)
        b_mat = a_mat if i == j else np.stack(b["embedding"].to_numpy()).astype(np.float64)
        cos = _cosine6(a_mat, b_mat)
        hit = cos >= threshold
        if i == j:
            hit &= a_ids[:, None] < b_ids[None, :]
        ai, bi = np.nonzero(hit)
        if not len(ai):
            return empty
        va, vb = a_ids[ai], b_ids[bi]
        return pd.DataFrame(
            {"vec_a": np.minimum(va, vb), "vec_b": np.maximum(va, vb), "cos": cos[ai, bi]}
        )

    return replicated.groupBy("__bi", "__bj").applyInPandas(
        score, schema="vec_a long, vec_b long, cos double"
    )


def sign_bucket(vec: Column, bits: int = 8) -> Column:
    """Sign-bit LSH bucket: bit i = (vec[i] > 0), packed into a BIGINT.

    The cheapest possible hyperplane family (axis-aligned through the
    origin) — deterministic and SQL-expressible, so the oracle reproduces
    it. Random-rotation hyperplanes drop in behind the same bucket column.
    """
    v = _as_double(vec)
    terms = [
        F.when(F.element_at(v, i + 1) > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
        for i in range(bits)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def topk_lsh(
    vecs: DataFrame,
    query_max_id: int = C.ANN_QUERY_MAX_ID,
    bits: int = 8,
    k: int = C.IVF_TOPK,
    multiprobe: bool = True,
) -> DataFrame:
    """LSH-bucketed approximate top-k: candidates share one of the query's
    probe buckets; exact cosine top-k inside them.

    ``multiprobe`` probes the exact bucket plus every 1-bit-flip neighbor
    (bits+1 probes) — the standard recall fix for boundary vectors, at
    (bits+1)x the candidate volume but the same single bucket-key shuffle.
    Each corpus vector lives in exactly one bucket, and the probe list is
    distinct, so no candidate dedup is needed. Output (vec_id, rnk,
    neighbor_id) is deterministic for the oracle.
    """
    bucketed = vecs.withColumn("__bucket", sign_bucket(F.col("embedding"), bits))
    queries = bucketed.filter(F.col("vec_id") < query_max_id)
    probe_cols = [F.col("__bucket")]
    if multiprobe:
        probe_cols += [F.expr(f"__bucket ^ {2 ** i}") for i in range(bits)]
    q = (
        with_norm(queries)
        .select(
            "vec_id",
            F.explode(F.array(*probe_cols)).alias("__probe"),
            F.col("embedding").alias("__qv"),
            F.col("__norm").alias("__qn"),
        )
    )
    c = with_norm(bucketed).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("__bucket").alias("__cbucket"),
        F.col("embedding").alias("__cv"),
        F.col("__norm").alias("__cn"),
    )
    scored = (
        q.join(c, (F.col("__probe") == F.col("__cbucket")) & (F.col("vec_id") != F.col("neighbor_id")))
        .withColumn("cos", cosine(F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")))
    )
    return _topk_per_query(scored, k)


def knn_graph_auto_bits(n: int, target_bucket: int = C.KNN_BUCKET_TARGET) -> int:
    """Bucket-bit count that holds expected bucket occupancy constant as
    the corpus grows (vecs/bucket ~ target_bucket): in-bucket candidate
    work is |bucket|² per bucket, so FIXED bits turn quadratic at scale
    (the r10 ladder read 32× wall at 12× vectors with bits=8). The 8-bit
    floor means oracle-scale corpora replay the fixed-bits SQL rule
    exactly — the semdedup_auto_k discipline."""
    import math

    # cap: sign_bucket reads one embedding dim per bit (64-dim vectors),
    # and 2^20 buckets already suffice for ~67M vecs at the default target
    return min(20, max(8, math.ceil(math.log2(max(n // target_bucket, 2)))))


def knn_graph(
    vecs: DataFrame,
    bits: int | None = None,
    k: int = C.KNN_GRAPH_K,
    mutual: bool = True,
) -> DataFrame:
    """Degree-capped approximate k-nearest-neighbor GRAPH — the neighbor
    structure graph-clustering / connectivity-dedup pipelines consume.

    Candidates come from the EXISTING bounded source (the topk_lsh
    sign-bucket multiprobe family: same bucket or any 1-bit-flip bucket),
    so generation is one bucket-key shuffle and never corpus²; the degree
    cap is a per-vector row_number top-k (ties broken on neighbor id —
    deterministic for the oracle). ``mutual=True`` then keeps only edges
    where BOTH endpoints name each other (the standard kNN-graph
    sparsifier against hub vectors): a self-join on the DIRECTED edge
    table, which is n·k — corpus-LINEAR — so symmetrization never touches
    the corpus again. Output (src, dst, cos) with src < dst.

    ``bits=None`` (default) auto-scales the bucket count with the corpus
    (knn_graph_auto_bits) so per-bucket candidate volume stays constant —
    fixed bits are quadratic at scale. The remaining skew risk is a hot
    bucket (all-near-duplicate corpora collapse into few sign patterns);
    pre-split hot buckets exactly as the banded-minhash df cap does.
    """
    if bits is None:
        bits = knn_graph_auto_bits(vecs.count())
    bucketed = vecs.withColumn("__bucket", sign_bucket(F.col("embedding"), bits))
    probe_cols = [F.col("__bucket")] + [
        F.expr(f"__bucket ^ {2 ** i}") for i in range(bits)
    ]
    q = with_norm(bucketed).select(
        F.col("vec_id").alias("src"),
        F.explode(F.array(*probe_cols)).alias("__probe"),
        F.col("embedding").alias("__qv"),
        F.col("__norm").alias("__qn"),
    )
    c = with_norm(bucketed).select(
        F.col("vec_id").alias("dst"),
        F.col("__bucket").alias("__cbucket"),
        F.col("embedding").alias("__cv"),
        F.col("__norm").alias("__cn"),
    )
    scored = q.join(
        c, (F.col("__probe") == F.col("__cbucket")) & (F.col("src") != F.col("dst"))
    ).withColumn(
        "cos", cosine(F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn"))
    )
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst").asc())
    edges = (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("src", "dst", "cos")
    )
    if not mutual:
        return edges
    # the edge table feeds both sides of the mutual join — checkpoint the
    # n·k frame so the bucket-join + window pipeline runs ONCE, not twice
    # (the Q11/winnow shared-consumer rule)
    edges = edges.localCheckpoint(eager=True)
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return (
        edges.join(rev, ["src", "dst"])
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst", "cos")
    )


def ivf_assign(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign every vector to its nearest centroid (rounded cosine,
    tie → lowest centroid id).

    Broadcast the centroid matrix, one matmul + argmax per Arrow batch —
    the assignment is a pure map over the corpus, which is what makes IVF
    the scale path in the first place.
    """
    return _ivf_assign_numpy(vecs, _centroid_arrays(centroids))


def _centroid_arrays(centroids: DataFrame):
    """The (vec_id, embedding) centroid table as driver arrays
    ``(ids, mat)``, ids ascending: the one ``collect`` a DataFrame-held
    centroid set costs."""
    import numpy as np

    rows = sorted(centroids.select("vec_id", "embedding").collect(), key=lambda r: r["vec_id"])
    return (
        np.array([r["vec_id"] for r in rows], dtype=np.int64),
        np.array([list(r["embedding"]) for r in rows], dtype=np.float64),
    )


def _ivf_assign_numpy(vecs: DataFrame, centroids, keep_vec: bool = False) -> DataFrame:
    """Matmul assignment kernel against driver-held centroids
    ``(ids, mat)`` with ids ascending (``_centroid_arrays`` or the Lloyd
    loop), so a plain argmax over rounded cosines lands on the lowest id
    at ties. The arrays are broadcast; the corpus is one Arrow map.

    ``keep_vec=True`` passes the embedding column through the kernel
    unchanged: the k-means update and the SemDeDup cluster stage read the
    vector from the assignment's own rows instead of joining the
    assignment back to the corpus (a corpus-keyed shuffle join per use)."""
    import numpy as np
    import pandas as pd

    bc = vecs.sparkSession.sparkContext.broadcast(centroids)
    vec_field = next(f for f in vecs.schema.fields if f.name == "embedding")

    def run(batches):
        ci, cm = bc.value
        for pdf in batches:
            v_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            v_mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            out = {"vec_id": v_ids, "centroid_id": ci[np.argmax(_cosine6(v_mat, cm), axis=1)]}
            if keep_vec:
                out["embedding"] = pdf["embedding"]
            yield pd.DataFrame(out)

    schema = "vec_id long, centroid_id long"
    if keep_vec:
        schema += f", embedding {vec_field.dataType.simpleString()}"
    return vecs.select("vec_id", "embedding").mapInPandas(run, schema=schema)


def topk_ivf(
    vecs: DataFrame,
    query_max_id: int = C.ANN_QUERY_MAX_ID,
    centroid_mod: int = C.IVF_CENTROID_MOD,
    nprobe: int = C.IVF_NPROBE,
    k: int = C.IVF_TOPK,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the nprobe nearest centroid buckets,
    exact top-k inside them.

    Centroids default to the deterministic subsample (vec_id % mod == 0);
    pass ``centroids`` (vec_id, embedding) — e.g. ``kmeans_train`` output —
    for a trained index. Output (vec_id, rnk, neighbor_id). Deterministic —
    the oracle reproduces it exactly in SQL.
    """
    if centroids is None:
        centroids = vecs.filter(F.col("vec_id") % centroid_mod == 0)
    queries = vecs.filter(F.col("vec_id") < query_max_id)
    cand_ids = _ivf_candidates(vecs, queries, centroids, nprobe)
    q = with_norm(queries).select(
        "vec_id", F.col("embedding").alias("__qv"), F.col("__norm").alias("__qn")
    )
    c = with_norm(vecs).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cv"), F.col("__norm").alias("__cn")
    )
    scored = (
        cand_ids.filter(F.col("vec_id") != F.col("neighbor_id"))
        .join(q, "vec_id")
        .join(c, "neighbor_id")
        .withColumn("cos", cosine(F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")))
    )
    return _topk_per_query(scored, k)


def _ivf_candidates(
    vecs: DataFrame, queries: DataFrame, centroids: DataFrame, nprobe: int
) -> DataFrame:
    """The IVF probe rule as (vec_id, neighbor_id) pairs: each query's
    ``nprobe`` nearest centroids (broadcast centroid cross-join, cosine
    descending, ties to the lowest centroid id), joined to every vector
    ``ivf_assign`` put in those buckets. Self-pairs are kept; the
    scorer drops them."""
    assignment = ivf_assign(vecs, centroids)
    qc = (
        with_norm(queries)
        .select("vec_id", F.col("embedding").alias("__v"), F.col("__norm").alias("__vn"))
        .crossJoin(
            F.broadcast(
                with_norm(centroids).select(
                    F.col("vec_id").alias("centroid_id"),
                    F.col("embedding").alias("__c"),
                    F.col("__norm").alias("__cn"),
                )
            )
        )
        .withColumn("cos", cosine(F.col("__v"), F.col("__c"), F.col("__vn"), F.col("__cn")))
    )
    wq = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("centroid_id").asc())
    probes = (
        qc.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("vec_id", "centroid_id")
    )
    return probes.join(
        assignment.withColumnRenamed("vec_id", "neighbor_id"), "centroid_id"
    ).select("vec_id", "neighbor_id")


def quantize_int8(vecs: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization per embedding: scale = max|v| / 127,
    q_i = floor(v_i / scale + 0.5) — explicit half-up via floor so Spark
    and any SQL oracle round identically (no HALF_UP vs banker's drift).
    All-zero vectors quantize to all-zero with scale 0.

    Pure projection over the vector column — whole-stage codegen, zero
    shuffle, holds at any corpus size. Returns summary stats (sum/min/max
    of the quantized ints) rather than the int8 array so the result is
    compact and hash-comparable.
    """
    e = _as_double(F.col(vec_col))
    amax = F.array_max(F.transform(e, lambda x: F.abs(x)))
    scale = amax / F.lit(float(C.QUANT_LEVELS))
    q = F.when(
        amax > 0,
        F.transform(e, lambda x: F.floor(x / scale + F.lit(0.5)).cast("long")),
    ).otherwise(F.transform(e, lambda x: F.lit(0).cast("long")))
    return vecs.select(
        "vec_id",
        F.round(scale, 6).alias("scale"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_q"),
        F.array_min(q).alias("min_q"),
        F.array_max(q).alias("max_q"),
    )


def kmeans_train(
    vecs: DataFrame,
    k: int = C.KMEANS_K,
    iters: int = C.KMEANS_ITERS,
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over the embedding table with a deterministic,
    engine-portable trajectory: init centroids are the vectors with
    vec_id < k, assignment is the rounded-cosine argmax (ties to the
    lowest centroid id), and updated centroids are per-dim means rounded
    to 6 dp each round, so a SQL oracle replays the exact same path. A
    centroid that wins no vector drops out. Returns (centroid_id,
    c: array<double>), one row per surviving centroid, built from the
    driver-held centroids (``_lloyd``) — no Spark job beyond the
    trajectory's own."""
    ids, mat = _lloyd(vecs.select("vec_id", F.col(vec_col).alias("embedding")), k, iters)
    return vecs.sparkSession.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in zip(ids, mat)],
        "centroid_id long, c array<double>",
    )


def _lloyd(emb: DataFrame, k: int, iters: int):
    """The k-means trajectory over (vec_id, embedding), held on the
    driver: returns the centroids as ``(ids, mat)``, ids ascending.

    The init is one collect of the vec_id < k rows. Each round is ONE
    action: the assignment kernel matmuls against the broadcast arrays
    and passes the vector through (keep_vec), ``posexplode`` →
    ``groupBy(centroid_id, dim)`` takes ``round(avg(x), 6)`` with
    map-side partials, and the k × dim means are collected and rebuilt
    in dim order. The per-dim mean is still Spark's ``avg`` and 6-dp
    round, so the trajectory is the one the oracle replays; the round's
    shuffle is (centroid_id, dim, x) rows, never the corpus. ``iters`` is a fixed budget, so the loop
    costs iters × (map + narrow shuffle + k·dim collect) at any corpus
    size. (A fused 64-avg aggregate measured 2× slower than the
    posexplode form — the giant-generated-method pathology of the
    width-64 unrolled cosine.)"""
    import numpy as np

    ids, mat = _centroid_arrays(emb.filter(F.col("vec_id") < k))
    for _ in range(iters):
        rows = sorted(
            _ivf_assign_numpy(emb, (ids, mat), keep_vec=True)
            .select("centroid_id", F.posexplode(_as_double(F.col("embedding"))).alias("dim", "x"))
            .groupBy("centroid_id", "dim")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .collect()
        )
        ids = np.unique(np.array([r["centroid_id"] for r in rows], dtype=np.int64))
        mat = np.array([r["m"] for r in rows], dtype=np.float64).reshape(
            len(ids), len(rows) // max(len(ids), 1)
        )
    return ids, mat


def _probe_sub_dim(vecs: DataFrame, m: int, vec_col: str) -> int:
    """Subvector width for the statically-unrolled PQ kernels: one
    LIMIT-1 row lookup (O(1) — never a column scan; the table contract
    is fixed-width vectors per FIXTURES.md, same uniformity the fold
    form's zip_with already assumed). Empty corpus / NULL vector → any
    positive width works, every downstream frame is empty anyway."""
    row = vecs.select(F.size(F.col(vec_col)).alias("__d")).limit(1).first()
    d = int(row["__d"]) if row is not None and row["__d"] is not None else m
    return max(d, m) // m


def _subvectors(vecs: DataFrame, m: int = C.PQ_M, vec_col: str = "embedding") -> DataFrame:
    """(vec_id, m, sv): the vector split into ``m`` equal contiguous
    subspaces — PQ's long form. Keeping the subspace index as a COLUMN
    (instead of m separate frames) lets one train/assign pipeline handle
    every subspace simultaneously: the per-subspace argmin is a window
    partitioned by (vec_id, m), the codebook update a (m, code, dim)
    aggregation — no per-subspace loop, no m-fold plan blowup."""
    return vecs.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("m"),
        _as_double(F.col(vec_col)).alias("__e"),
    ).select(
        "vec_id",
        "m",
        F.expr(f"slice(__e, m * (size(__e) div {m}) + 1, size(__e) div {m})").alias("sv"),
    )


def _pq_assign(
    sub: DataFrame,
    cents: DataFrame,
    out_col: str = "centroid_id",
    keep_sv: bool = False,
    width: int | None = None,
) -> DataFrame:
    """Nearest codeword per (vector, subspace): rounded-L2 argmin, ties to
    the lowest centroid id — the deterministic, engine-portable rule
    (kmeans_train's discipline, L2 instead of cosine because PQ must
    preserve magnitude). d² expands to bit-stable sequential dot folds;
    the self-norms hoist OUT of the candidate join (computed once per
    subvector / per codeword, not once per pair), and the argmin is a
    lexicographic struct-MIN — a hash aggregate with map-side partials,
    measured ~2× the sort-window form, with the identical
    (d², centroid_id) ordering.

    ``keep_sv=True`` carries the subvector through the same aggregation
    (``sub`` is unique per (vec_id, m), so every row in a group holds the
    identical ``sv`` and ``first`` is deterministic) — the r16 shuffle cut:
    pq_train's update previously JOINED the assignment back to ``sub`` to
    re-fetch sv, re-shuffling the corpus-long subvector frame once per
    Lloyd round when one hash aggregate already had the value in hand.

    ``width`` (the statically-known subvector length) switches the three
    d² dot products to the unrolled codegen form (``dot_w``) — same
    values, no per-element lambda interpretation on the candidate-join
    rows."""
    _dot = (lambda a, b: dot_w(a, b, width)) if width else dot
    s = sub.withColumn("__svv", _dot(F.col("sv"), F.col("sv")))
    c = F.broadcast(cents.withColumn("__scc", _dot(F.col("c"), F.col("c"))))
    joined = s.join(c, "m")
    d2 = F.round(
        F.col("__svv") - 2 * _dot(F.col("sv"), F.col("c")) + F.col("__scc"),
        C.COSINE_ROUND,
    )
    aggs = [
        F.min(F.struct(d2.alias("d2"), F.col("centroid_id")))
        .getField("centroid_id")
        .alias(out_col)
    ]
    cols = ["vec_id", "m", out_col]
    if keep_sv:
        aggs.append(F.first("sv").alias("sv"))
        cols.append("sv")
    return joined.groupBy("vec_id", "m").agg(*aggs).select(*cols)


def pq_train(
    vecs: DataFrame,
    m: int = C.PQ_M,
    k: int = C.PQ_K,
    iters: int = C.PQ_ITERS,
    vec_col: str = "embedding",
    sub_dim: int | None = None,
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al. 2011): per-subspace
    Lloyd's k-means with the deterministic trajectory the SQL oracle
    replays — init codewords are the subvectors of vec_id < k, assignment
    the rounded-L2 argmin (ties to lowest id), update the 6-dp-rounded
    per-dim mean. Returns (m, centroid_id, c: array<double>).

    Scale shape per round: the codebook is m·k rows (tiny — broadcast),
    assignment is a map over the corpus-long subvector frame, the update
    shuffles narrow (m, code) + sub_dim doubles per row with map-side
    partials — exactly kmeans_train's cost envelope, ×1 regardless of m
    because the subspace index rides as a column. The subvector frame
    REPARTITIONS once up front: with the codebook broadcast, the whole d²
    map chain would otherwise run at the scan's file-partition count
    (measured 4 partitions = 4 busy cores on a 61M-row assignment at the
    30× ladder — 249 s of train that repartitioning cuts to the shuffle
    width).

    r16 shuffle cut (guide §2.3/§2.4): per round the assignment argmin
    CARRIES the subvector (keep_sv — one hash aggregate instead of
    argmin + join-back-to-sub, which re-shuffled and re-sorted the
    corpus-long frame every round), and the codeword update is ONE
    (m, code)-keyed aggregate of per-index means (``avg(sv[i])`` per
    subvector slot) instead of posexplode → (m, code, dim) aggregate →
    (m, code) collect_list re-aggregate — two exchanges and an
    ObjectHashAggregate replaced by one codegen hash aggregate. Values
    are unchanged: the per-(m, code, dim) mean averages the identical
    multiset either way, and the 6-dp round applies as before (the
    oracle replays the same trajectory; re-value-matched this round).
    The subvector width comes from one first() over the scan — a scalar
    summary lookup (the IVF-centroid precedent), never data-sized.

    The up-front repartition carries an EXPLICIT width from
    ``_fanout_width`` (input-size-derived): AQE sizes the coalesced
    exchange by its own bytes, blind to the k× candidate fan-out behind
    it, and at small inputs collapses it to ONE partition, serializing
    every Lloyd round (observed at sf0.1: post-AQE partition count 1)."""
    if sub_dim is None:
        sub_dim = _probe_sub_dim(vecs, m, vec_col)
    sub = _subvectors(vecs, m, vec_col).repartition(
        _fanout_width(vecs, k), "vec_id", "m"
    )
    cents = sub.filter(F.col("vec_id") < k).select(
        "m", F.col("vec_id").alias("centroid_id"), F.col("sv").alias("c")
    )
    for _ in range(iters):
        assign = _pq_assign(sub, cents, keep_sv=True, width=sub_dim)
        cents = assign.groupBy("m", F.col("centroid_id")).agg(
            F.array(
                *[F.round(F.avg(F.col("sv")[i]), 6) for i in range(sub_dim)]
            ).alias("c")
        )
    return cents


def pq_encode(
    vecs: DataFrame,
    cents: DataFrame,
    m: int = C.PQ_M,
    vec_col: str = "embedding",
    sub_dim: int | None = None,
) -> DataFrame:
    """Corpus → PQ codes (vec_id, m, code): each subvector's nearest
    codeword id. With PQ_K ≤ 256 a vector compresses to PQ_M bytes — the
    memory-side half of billion-vector ANN. Repartitioned up front
    (explicit fan-out-derived width, see pq_train) for the same
    broadcast-join parallelism reason as pq_train."""
    return _pq_assign(
        _subvectors(vecs, m, vec_col).repartition(
            _fanout_width(vecs, C.PQ_K), "vec_id", "m"
        ),
        cents,
        out_col="code",
        width=sub_dim,
    )


def _ordered_sum(col_struct, value_field: str):
    """Bit-stable sum of a collected (m, value) list: sort by subspace
    index, sequential fold — both engines add in the identical order, so
    the 6-dp output round is safe from aggregation-order drift."""
    return F.aggregate(
        F.transform(F.array_sort(col_struct), lambda s: s[value_field]),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def topk_pq(
    vecs: DataFrame,
    query_max_id: int = C.ANN_QUERY_MAX_ID,
    m: int = C.PQ_M,
    k: int = C.PQ_K,
    iters: int = C.PQ_ITERS,
    topk: int = C.ANN_TOPK,
    cents: DataFrame | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """PQ-coded approximate top-k via ADC (asymmetric distance
    computation): the corpus lives ONLY as PQ codes; each query keeps its
    full vector and scores a neighbor by summing per-subspace dot
    products against the neighbor's codewords — approx cosine =
    adc_dot / (|q| · |reconstruction|), 6-dp rounded with lowest-id
    ties. Output (vec_id, rnk, neighbor_id), the ANN family contract.

    Scale: the codebook (m·k rows) broadcasts everywhere; the per-pair
    work is queries × corpus × m NARROW rows (ids + one double) — the
    standard flat-ADC scan. ``candidates`` (vec_id, neighbor_id)
    restricts scoring to a pre-pruned pair set — topk_ivfpq passes the
    IVF candidate rule here, turning the flat scan into IVFADC.
    """
    sub_dim = _probe_sub_dim(vecs, m, "embedding")
    if cents is None:
        cents = pq_train(vecs, m, k, iters, sub_dim=sub_dim).localCheckpoint(eager=True)
    codes = pq_encode(vecs, cents, m, sub_dim=sub_dim)
    cw = cents.withColumn("scc", dot_w(F.col("c"), F.col("c"), sub_dim))
    coded = codes.join(
        F.broadcast(cw), (codes.m == cw.m) & (codes.code == cw.centroid_id)
    ).select(codes.vec_id, codes.m, "c", "scc")
    # per-neighbor reconstruction norm: ordered fold over subspaces
    nrec = coded.groupBy("vec_id").agg(
        F.sqrt(
            _ordered_sum(F.collect_list(F.struct("m", "scc")), "scc")
        ).alias("rnorm")
    )
    q = with_norm(vecs.filter(F.col("vec_id") < query_max_id))
    qsub = _subvectors(q, m).withColumnRenamed("vec_id", "qid")
    qn = q.select(F.col("vec_id").alias("qid"), F.col("__norm").alias("qnorm"))
    coded_n = coded.withColumnRenamed("vec_id", "neighbor_id")
    if candidates is None:
        terms = qsub.join(coded_n, "m").filter(
            F.col("qid") != F.col("neighbor_id")
        )
    else:
        cand = candidates.select(
            F.col("vec_id").alias("qid"), "neighbor_id"
        ).filter(F.col("qid") != F.col("neighbor_id"))
        terms = cand.join(qsub, "qid").join(coded_n, ["neighbor_id", "m"])
    terms = terms.select(
        "qid", "neighbor_id", "m", dot_w(F.col("sv"), F.col("c"), sub_dim).alias("term")
    )
    adc = terms.groupBy("qid", "neighbor_id").agg(
        _ordered_sum(F.collect_list(F.struct("m", "term")), "term").alias("dp")
    )
    scored = (
        adc.join(qn, "qid")
        .join(nrec.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .select(
            F.col("qid").alias("vec_id"),
            "neighbor_id",
            F.round(
                F.col("dp") / (F.col("qnorm") * F.col("rnorm")), C.COSINE_ROUND
            ).alias("cos"),
        )
    )
    return _topk_per_query(scored, topk)


def topk_ivfpq(
    vecs: DataFrame,
    query_max_id: int = C.ANN_QUERY_MAX_ID,
    centroid_mod: int = C.IVF_CENTROID_MOD,
    nprobe: int = C.IVF_NPROBE,
    topk: int = C.IVF_TOPK,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011) — the composition both indexes exist
    for, and the architecture of every billion-vector deployment: the
    IVF probe rule prunes candidates to nprobe buckets (the compute-side
    cut), then PQ codes score ONLY those candidates via ADC (the
    memory-side cut — the corpus lives as PQ_M bytes/vector, never full
    floats). The probe stage is ``_ivf_candidates``, the one IVF probe
    rule ``topk_ivf`` also runs, and the scorer is ``topk_pq`` restricted
    to those candidates: composing indexes is a join, not a new engine
    path.

    Scale: candidate volume is queries × (nprobe/n_centroids) × corpus —
    the IVF fraction — and each candidate costs m narrow LUT rows; the
    full-float corpus is touched only at train/encode time.
    """
    centroids = vecs.filter(F.col("vec_id") % centroid_mod == 0)
    queries = vecs.filter(F.col("vec_id") < query_max_id)
    cand = _ivf_candidates(vecs, queries, centroids, nprobe)
    return topk_pq(vecs, query_max_id, topk=topk, candidates=cand)


def semdedup_auto_k(n: int, target_cluster: int = C.SEMDEDUP_TARGET_CLUSTER) -> int:
    """Cluster count that holds per-cluster pairwise work constant as the
    corpus grows (pairs/vector ~ target_cluster/2): max(KMEANS_K,
    n // target_cluster). Keeping the KMEANS_K floor means oracle-scale
    corpora replay the fixed-k SQL trajectory exactly."""
    return max(C.KMEANS_K, n // target_cluster)


# Row block of the SemDeDup cluster stage: a cluster's pairs are scored
# BLOCK rows at a time against the cluster's later vectors, so the cosine
# tile is at most BLOCK x cluster doubles (4 MiB per 1,024-vector
# cluster), never cluster².
SEMDEDUP_ROW_BLOCK = 512


def semdedup(
    vecs: DataFrame,
    k: int | None = None,
    iters: int = C.KMEANS_ITERS,
    threshold: float = C.NEARDUP_COSINE,
    vec_col: str = "embedding",
    target_cluster: int = C.SEMDEDUP_TARGET_CLUSTER,
) -> DataFrame:
    """Cluster-partitioned semantic deduplication (the SemDeDup shape,
    Abbas et al. 2023): train k-means centroids, assign every embedding to
    its cluster, then compare pairs ONLY within a cluster and drop a
    vector when a lower-id cluster-mate sits within the cosine threshold.
    Returns one scalar row per vector: (vec_id, centroid_id, keep).

    The drop rule is the order-parallel variant — ``drop v iff ∃ u < v in
    the same cluster with cos(u, v) >= threshold`` — rather than the
    paper's sequential greedy sweep: it is embarrassingly parallel, needs
    no per-cluster iteration, and every drop it makes has a concrete
    witness pair (it can only over-drop vs greedy when a dropped vector is
    itself the sole witness for a later one).

    Two executor stages after the driver-held Lloyd trajectory
    (``_lloyd``): the assignment kernel matmuls every Arrow batch against
    the broadcast centroid arrays and passes the vector through, then ONE
    ``groupBy(centroid_id).applyInPandas`` scores each cluster: sorted by
    vec_id, the rounded cosine (``_cosine6``) of ``SEMDEDUP_ROW_BLOCK``
    rows at a time against the cluster's later vectors, so a cluster's
    memory is O(block × cluster) and its pair work O(cluster²).

    Scale shape: clustering is what makes this tractable at 100 TB —
    candidate pairs shrink from O(n²) to O(Σ cluster²). A FIXED k would
    creep back to quadratic (pairs ~ n²/k; measured 130x wall at 30x
    data), so when ``k`` is None it auto-scales as max(KMEANS_K,
    n // target_cluster) — the paper's n/k ≈ constant regime, which keeps
    pairs-per-vector at ~target_cluster/2 at any corpus size; at oracle
    scales the auto-k equals KMEANS_K so the SQL replay stays exact. A
    skewed giant cluster is one group (the skew fix is salting,
    operators/skew.py). The centroids are the bounded build side (k rows,
    held on the driver and broadcast) — at corpus sizes where n/1024
    outgrows broadcast limits, raise ``target_cluster`` so k stays
    build-side-sized (the paper's 5B-doc runs use ~100k clusters, i.e.
    clusters of ~50k).
    """
    import numpy as np
    import pandas as pd

    if k is None:
        k = semdedup_auto_k(vecs.count(), target_cluster)
    # the kernels read the canonical 'embedding' column — rename at the
    # boundary so any vec_col works
    emb = vecs.select("vec_id", F.col(vec_col).alias("embedding"))
    block = SEMDEDUP_ROW_BLOCK

    def keep_flags(pdf):
        pdf = pdf.sort_values("vec_id", kind="stable")
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        dropped = np.zeros(len(ids), dtype=bool)
        for lo in range(0, len(ids), block):
            # rows lo..lo+block against every vector from lo on: a vector
            # these rows can drop has a larger id, so it sits at or past lo
            hit = (_cosine6(mat[lo : lo + block], mat[lo:]) >= threshold) & (
                ids[lo : lo + block, None] < ids[None, lo:]
            )
            dropped[lo:] |= hit.any(axis=0)
        return pd.DataFrame(
            {"vec_id": ids, "centroid_id": pdf["centroid_id"].to_numpy(), "keep": ~dropped}
        )

    return (
        _ivf_assign_numpy(emb, _lloyd(emb, k, iters), keep_vec=True)
        .groupBy("centroid_id")
        .applyInPandas(keep_flags, schema="vec_id long, centroid_id long, keep boolean")
    )


def _gram_parts(vecs: DataFrame, vec_col: str, kernel) -> DataFrame:
    """The Arrow-batched partial-gramian extraction stage of embed_gram,
    exposed so the plan audit can assert the MapInPandas shape directly
    (the assembled query reads the MATERIALIZED d²-sized aggregate, so
    the kernel no longer appears in its final plan)."""
    return (
        vecs.select(vec_col)
        .filter(F.col(vec_col).isNotNull())
        .mapInPandas(kernel, schema="i int, j int, v long")
    )


def embed_gram(vecs: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Distributed covariance of the embedding matrix — the O(n·d²)
    reduction at the heart of PCA / ZCA-whitening over a 100 TB embedding
    store. Returns the upper triangle as scalar rows
    (dim_i, dim_j, cov) with cov = E[x_i·x_j] − E[x_i]·E[x_j] of the
    EG_QUANT-fixed-point-quantized embedding, reported to 6 dp; the d×d
    eigen-solve that follows is driver-trivial.

    Scale shape: each Arrow batch reduces to ONE d×d partial gramian
    (numpy ``X.T @ X``) plus the per-dim sums and row count, encoded as
    d(d+1)/2 + d + 1 narrow (i, j, v) rows — so the shuffle volume is
    O(batches · d²), independent of n, with map-side partial aggregation
    on (i, j). No explode of the n×d² product space ever materializes
    (the oracle does exactly that, which is fine at oracle scale only).

    Float discipline (the quality_model_score / timeseries rule: derive
    every compared double from exact integers): float summation is not
    associative, so a float gramian differs across partitionings in the
    last ulp and a 6-dp round can split a boundary value — the r6 driver
    run proved it. Instead each element quantizes to integer EG_QUANT-ths
    (sign-aware half-away ``floor(|x|·1e6 + 0.5)``), the gramian / sums /
    count accumulate as exact int64s per batch and exact decimal(38,0)
    across batches (a partial stays exact while
    batch_rows · (EG_QUANT·max|x|)² < 2⁶³ — ~10⁵ rows of unit-norm
    vectors per 10k-row Arrow batch is ~10¹⁷, far inside), and the 6-dp
    value is produced by ONE integral divide — half-away of
    num / den2 with num = n·g − sᵢ·sⱼ and den2 = n²·EG_QUANT (the 10⁶
    output scale cancels one EG_QUANT factor, which requires
    EG_QUANT == 10⁶; the cancellation keeps every intermediate well
    under the 38-digit decimal cap to n ≈ 10¹² rows) — so the result is
    bit-identical for every partitioning and both engines.
    """
    import numpy as np
    import pandas as pd

    def run(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # sign-aware half-away fixed point (the timeseries convention,
            # written identically in the oracle SQL)
            q = np.where(
                x >= 0,
                np.floor(x * float(C.EG_QUANT) + 0.5),
                -np.floor(-x * float(C.EG_QUANT) + 0.5),
            ).astype(np.int64)
            # loud overflow guard for the documented precondition
            # batch_rows · (EG_QUANT·max|x|)² < 2⁶³: a silent int64 wrap
            # here would surface only as an unexplained driver-hash
            # divergence (ADVICE r7). float bound check is exact enough —
            # the margin to 2⁶³ is astronomically wide for real inputs.
            qmax = float(np.abs(q).max()) if q.size else 0.0
            if qmax and len(q) * qmax * qmax >= float(2**63):
                raise ValueError(
                    "embed_gram int64 batch-gramian would overflow: "
                    f"batch_rows={len(q)} max|q|={qmax:.3g}; "
                    "reduce the Arrow batch size or the input magnitude"
                )
            d = q.shape[1]
            iu = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu[0], np.arange(d), [-1]]).astype(np.int32),
                    "j": np.concatenate([iu[1], np.full(d, -1), [-1]]).astype(np.int32),
                    "v": np.concatenate(
                        [(q.T @ q)[iu], q.sum(axis=0), [q.shape[0]]]
                    ).astype(np.int64),
                }
            )

    # NULL vectors contribute nothing (the SQL mirror's UNNEST over a NULL
    # array yields no rows; an unguarded np.stack would crash instead)
    parts = _gram_parts(vecs, vec_col, run)
    # cross-batch accumulation in decimal(38,0): exact integers with no
    # int64 overflow cliff at cluster scale (sum precision caps at 38).
    # The d²-sized aggregate feeds FOUR branches (total, both sum sides,
    # gramian) — materialize it once or each branch re-runs the corpus
    # scan + gramian kernel (the multi-branch mapInPandas hazard).
    agg = (
        parts.groupBy("i", "j")
        .agg(F.sum(F.col("v").cast("decimal(38,0)")).alias("v"))
        .localCheckpoint(eager=True)
    )
    tot = agg.filter(F.col("i") == -1).select(F.col("v").alias("n"))
    sums = agg.filter((F.col("i") >= 0) & (F.col("j") == -1)).select(
        F.col("i").alias("d"), F.col("v").alias("s")
    )
    gram = agg.filter(F.col("j") >= 0).select(
        F.col("i").alias("dim_i"), F.col("j").alias("dim_j"), F.col("v").alias("g")
    )
    si = F.broadcast(sums.select(F.col("d").alias("dim_i"), F.col("s").alias("si")))
    sj = F.broadcast(sums.select(F.col("d").alias("dim_j"), F.col("s").alias("sj")))
    return (
        gram.crossJoin(F.broadcast(tot))
        .join(si, "dim_i")
        .join(sj, "dim_j")
        .select(
            "dim_i",
            "dim_j",
            (F.col("n") * F.col("g") - F.col("si") * F.col("sj")).alias("num"),
            # den2 = n²·EG_QUANT (NOT squared): the target value is
            # num·10⁶ / (n²·EG_QUANT²) and 10⁶ = EG_QUANT cancels, so the
            # scaling multiply that would overflow decimal(38,0) around
            # n ≈ 7e9 rows (review catch) never happens — headroom now
            # runs to n ≈ 1e12-ish, bounded by num itself
            (
                F.col("n") * F.col("n") * F.lit(C.EG_QUANT).cast("decimal(38,0)")
            ).alias("den2"),
        )
        # ONE integral divide makes the 6-dp value exact: half-away of
        # num/den2 is floor((2·|num| + den2) / (2·den2)) with the sign
        # re-applied; `div` on decimals is Spark's IntegralDivide
        .select(
            "dim_i",
            "dim_j",
            F.expr(
                "CASE WHEN num >= 0"
                " THEN (2 * num + den2) div (2 * den2)"
                " ELSE -((-2 * num + den2) div (2 * den2)) END"
            ).alias("cov6"),
        )
        .select(
            "dim_i",
            "dim_j",
            (F.col("cov6").cast("double") / F.lit(1e6)).alias("cov"),
        )
    )
