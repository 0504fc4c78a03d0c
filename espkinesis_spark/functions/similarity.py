"""Similarity search over an embedding column (array<float>).

Every path scores a 6-dp rounded cosine in numpy, ties to the lowest
neighbor id. Two top-k stages take the scorer ``score(q_mat, c_mat)``
(rows × candidates) as an argument, the way ``_assign`` takes
``nearest``; each keeps a local top-k per query (``_topk_select``) that
one window tail (``_topk_per_query``) merges:

* the broadcast stage (``_topk_candidates_numpy``): the bounded query set
  broadcast into one Arrow map over the corpus — brute force with
  ``_cosine6`` (a BLAS matmul over the row-norm product), sign-bit LSH
  with ``_cosine6`` masked to the probe buckets, flat PQ with ``_adc6``.
* the keyed stage (``_keyed_topk``): IVF lists, the kNN graph's sign
  buckets and label partitions, each query replicated into every key it
  probes and scored by one cogroup per key; IVFADC is the IVF lists
  scored by ``_adc6``. IVF is the scale path: the candidate set shrinks
  by ~ (nprobe / n_centroids), and the assignment and the probe are maps
  against the broadcast centroids — no all-pairs anywhere.

Threshold near-dup is one broadcast matmul while the corpus fits,
blocked at real scale.

k-means (``kmeans_train``) and PQ (``pq_train``) share one Lloyd loop
(``_lloyd``) that keeps the codebooks on the driver: k-means is one
subspace scored by rounded cosine, PQ is m subspaces scored by rounded
L2. The codebooks are array pairs broadcast into one assignment kernel
(``_assign``, also behind ``ivf_assign``, SemDeDup's final assignment and
``pq_encode``), and each round is one aggregate collected back. SemDeDup
(``semdedup``) scores pairs cluster by cluster in one grouped Arrow
stage. No scorer runs JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from espkinesis_spark.functions import common as C
from espkinesis_spark.plans.audit import plan_size_bytes as _plan_size_bytes


def _as_double(arr: Column) -> Column:
    return arr.cast("array<double>")


def _cosine6(a, b):
    """Rounded cosine of every row of ``a`` against every row of ``b``
    (float64 matrices): one BLAS matmul over the product of the L2 row
    norms, rounded to ``COSINE_ROUND`` dp — the one cosine every kernel
    here scores with. It equals the oracle's rounded
    ``list_dot_product`` cosine on every sf0.1 pair."""
    import numpy as np

    na = np.sqrt((a * a).sum(axis=1))
    nb = na if b is a else np.sqrt((b * b).sum(axis=1))
    return np.round((a @ b.T) / (na[:, None] * nb[None, :]), C.COSINE_ROUND)


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
    return _topk_per_query(
        _topk_candidates_numpy(queries, corpus, k, _cosine6, vec_col), k, "cos"
    )


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
    queries: DataFrame, corpus: DataFrame, k: int, score, vec_col: str = "embedding"
) -> DataFrame:
    """The broadcast top-k stage: per-batch local top-k candidates
    (vec_id, neighbor_id, cos). The query set is collected once and
    broadcast; each Arrow batch of the corpus is scored by ``score``
    (query rows × batch rows), self-pairs masked, so the global merge
    only sees batches*k rows per query."""
    import numpy as np
    import pyarrow as pa

    # broadcast build side
    books = _vector_books(queries.select("vec_id", F.col(vec_col).alias("embedding")), 1)
    bc = queries.sparkSession.sparkContext.broadcast(books[0])

    def run(batches):
        q_ids, q_mat = bc.value
        for batch in batches:
            if not len(q_ids):
                continue  # an empty query set is a 0 × 0 matrix
            c_ids = batch.column(0).to_numpy()
            cos = score(q_mat, _rows(batch.column(1)))
            cos[q_ids[:, None] == c_ids[None, :]] = -np.inf
            r, c = _topk_select(c_ids, cos, k)
            yield pa.RecordBatch.from_pydict(
                {"vec_id": q_ids[r], "neighbor_id": c_ids[c], "cos": cos[r, c]}
            )

    return corpus.select("vec_id", vec_col).mapInArrow(
        run, schema="vec_id long, neighbor_id long, cos double"
    )


def _rows(vec):
    """An Arrow list array of equal-length vectors as a float64 matrix,
    one row per vector, read from the flat values buffer (no per-row
    Python objects)."""
    import numpy as np

    if np.unique(np.diff(vec.offsets.to_numpy())).size > 1:
        raise ValueError("every embedding must have the same length")
    return vec.flatten().to_numpy().astype(np.float64).reshape(len(vec), -1)


def _topk_select(c_ids, cos, k: int):
    """The one top-k selection: row and column indices of each row's
    best ``k`` entries of ``cos`` (rows × candidates), cos descending,
    ties to the lowest candidate id; a -inf entry is no candidate.
    Rows come out ascending, each row's entries best first."""
    import numpy as np

    live = cos > -np.inf
    if cos.shape[1] > k:
        # every entry >= the row's k-th largest value (ties included),
        # then an exact (-cos, id) sort of that small set
        live &= cos >= np.partition(cos, -k, axis=1)[:, -k, None]
    r, c = np.nonzero(live)
    order = np.lexsort((c_ids[c], -cos[r, c], r))
    r, c = r[order], c[order]
    first = np.searchsorted(r, r)
    keep = np.arange(len(r)) - first < k
    return r[keep], c[keep]


# Row block of the Arrow pair kernels (SemDeDup's cluster stage and the
# keyed top-k): a group's pairs are scored BLOCK rows at a time, so the
# cosine tile is at most BLOCK x group doubles (4 MiB per 1,024-vector
# group), never group².
PAIR_ROW_BLOCK = 512


def _keyed_topk(
    queries: DataFrame, corpus: DataFrame, k: int, score, *extra: str
) -> DataFrame:
    """The keyed top-k stage: each query's local top-k
    (vec_id, neighbor_id, cos, *extra) within every key it probes.

    ``queries`` is (vec_id, key, embedding, *extra), each query once per
    key it probes; ``corpus`` is (neighbor_id, key, embedding), each
    vector in its one key. One ``cogroup(...).applyInArrow`` scores a
    key group with ``score`` over the flat Arrow buffers,
    ``PAIR_ROW_BLOCK`` query rows at a time, masks self-pairs and keeps
    each query's top k (``_topk_select``); ``_topk_per_query`` merges a
    query's groups. A (query, neighbor) pair meets in at most one group
    when the probe keys are distinct, so the merge needs no dedup."""
    import numpy as np
    import pyarrow as pa

    block = PAIR_ROW_BLOCK

    def run(q, c):
        q_ids = q.column("vec_id").to_numpy()
        c_ids = c.column("neighbor_id").to_numpy()
        parts = [(np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0))]
        if len(q_ids) and len(c_ids):
            q_mat = _rows(q.column("embedding").combine_chunks())
            c_mat = _rows(c.column("embedding").combine_chunks())
            for lo in range(0, len(q_ids), block):
                s = score(q_mat[lo : lo + block], c_mat)
                s[q_ids[lo : lo + block, None] == c_ids[None, :]] = -np.inf
                r, cc = _topk_select(c_ids, s, k)
                parts.append((r + lo, cc, s[r, cc]))
        rows, cols, cos = (np.concatenate(p) for p in zip(*parts))
        out = {"vec_id": q_ids[rows], "neighbor_id": c_ids[cols], "cos": cos}
        return pa.table({**out, **{e: q.column(e).take(rows) for e in extra}})

    schema = "vec_id long, neighbor_id long, cos double" + "".join(
        f", {e} {queries.schema[e].dataType.simpleString()}" for e in extra
    )
    return (
        queries.select("vec_id", "key", "embedding", *extra)
        .groupBy("key")
        .cogroup(corpus.select("neighbor_id", "key", "embedding").groupBy("key"))
        .applyInArrow(run, schema=schema)
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
    (bits+1)x the candidate volume. The query set is bounded, so this is
    the broadcast stage: a candidate is in a probed bucket iff its sign
    code (``sign_bucket``'s bits) differs from the query's in at most
    ``multiprobe`` bits, and ``_cosine6`` is masked to -inf elsewhere —
    no shuffle of the corpus. Output (vec_id, rnk, neighbor_id) is
    deterministic for the oracle.
    """
    import numpy as np

    def score(q_mat, c_mat):
        apart = (q_mat[:, None, :bits] > 0) != (c_mat[None, :, :bits] > 0)
        return np.where(apart.sum(axis=2) <= multiprobe, _cosine6(q_mat, c_mat), -np.inf)

    queries = vecs.filter(F.col("vec_id") < query_max_id)
    return _topk_per_query(_topk_candidates_numpy(queries, vecs, k, score), k)


def _lsh_topk(vecs: DataFrame, bits: int, k: int) -> DataFrame:
    """Sign-bucket candidates of every vector, scored by the keyed stage:
    each vector replicated into its multiprobe buckets (its own plus every
    1-bit flip) against every vector in its one bucket. Each vector's
    local top k per bucket."""
    bucketed = vecs.select(
        "vec_id", "embedding", sign_bucket(F.col("embedding"), bits).alias("key")
    )
    probes = [F.col("key")] + [F.expr(f"key ^ {2 ** i}") for i in range(bits)]
    q = bucketed.select("vec_id", F.explode(F.array(*probes)).alias("key"), "embedding")
    return _keyed_topk(q, bucketed.withColumnRenamed("vec_id", "neighbor_id"), k, _cosine6)


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
    sign-bucket multiprobe family: same bucket or any 1-bit-flip bucket,
    scored bucket by bucket in the keyed Arrow stage), so generation is
    one bucket-key shuffle and never corpus²; the degree cap is the
    per-vector row_number top-k of ``_topk_per_query`` (ties broken on
    neighbor id — deterministic for the oracle). ``mutual=True`` then
    keeps only edges where BOTH endpoints name each other (the standard
    kNN-graph sparsifier against hub vectors): a self-join on the
    DIRECTED edge table, which is n·k — corpus-LINEAR — so symmetrization
    never touches the corpus again. Output (src, dst, cos) with src < dst.

    ``bits=None`` (default) auto-scales the bucket count with the corpus
    (knn_graph_auto_bits) so per-bucket candidate volume stays constant —
    fixed bits are quadratic at scale. The remaining skew risk is a hot
    bucket (all-near-duplicate corpora collapse into few sign patterns):
    its group is scored ``PAIR_ROW_BLOCK`` rows at a time, so memory
    stays bounded but its work is one task; pre-split hot buckets exactly
    as the banded-minhash df cap does.
    """
    if bits is None:
        bits = knn_graph_auto_bits(vecs.count())
    edges = _topk_per_query(_lsh_topk(vecs, bits, k), k, "cos").select(
        F.col("vec_id").alias("src"), F.col("neighbor_id").alias("dst"), "cos"
    )
    if not mutual:
        return edges
    # the edge table feeds both sides of the mutual join — checkpoint the
    # n·k frame so the keyed stage + window pipeline runs ONCE, not twice
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
    return _assign(vecs, _vector_books(centroids, 1), _nearest_cosine).select(
        "vec_id", "centroid_id"
    )


def _nearest_cosine(v, c):
    """Index of each row's nearest codeword by rounded cosine (``_cosine6``,
    largest wins; ``argmax`` keeps the first, so ties go to the lowest
    id of an ascending codebook)."""
    import numpy as np

    return np.argmax(_cosine6(v, c), axis=1)


def _fold(a, b):
    """Dot products over the last axis as the left-to-right fold
    a₀b₀ + a₁b₁ + … — the order the oracle's scalar loops sum in (BLAS and
    ``np.sum`` pair and block the terms, so their last ulp differs)."""
    acc = a[..., 0] * b[..., 0]
    for j in range(1, a.shape[-1]):
        acc += a[..., j] * b[..., j]
    return acc


def _nearest_l2(v, c):
    """Index of each row's nearest codeword by rounded L2, ties to the
    lowest id: d² = round(svv − 2·sv·c + cc, 6) with every dot product
    a ``_fold``, rounded half away from zero on y = d²·10⁶ like the
    oracle's ``round``. Rounding is monotone, so the winner is the first
    codeword whose y rounds to R, the rounded row minimum: the first
    with y < R + ½ (y ≤ R + ½ when R < 0)."""
    import numpy as np

    y = _fold(v[:, None, :], c[None, :, :])
    y *= -2.0
    y += _fold(v, v)[:, None]
    y += _fold(c, c)[None, :]
    y *= 1e6
    lo = y.min(axis=1)
    r = np.trunc(lo)
    r += np.sign(lo) * (np.abs(lo - r) >= 0.5)
    top = np.where(r < 0, np.nextafter(r + 0.5, np.inf), r + 0.5)
    return np.argmax(y < top[:, None], axis=1)


def _books(sub, ids, mat, m: int):
    """``m`` driver-held codebooks from aligned (subspace, id, vector)
    arrays: one ``(ids, mat)`` pair per subspace, ids ascending, so a
    first-index argmax/argmin lands on the lowest id at ties."""
    import numpy as np

    order = np.lexsort((ids, sub))
    sub, ids, mat = sub[order], ids[order], mat[order]
    return [(ids[sub == s], mat[sub == s]) for s in range(m)]


def _matrix(vectors):
    """Equal-length vectors as a float64 matrix (0 × 0 for none)."""
    import numpy as np

    if not len(vectors):
        return np.zeros((0, 0))
    return np.array(vectors, dtype=np.float64).reshape(len(vectors), -1)


def _vector_books(vecs: DataFrame, m: int):
    """The (vec_id, embedding) rows of ``vecs`` as ``m`` codebooks, each
    vector split into m contiguous subvectors of ``size div m`` dims (the
    split ``_assign`` makes): the one collect a DataFrame-held centroid
    set, a Lloyd init or a broadcast query set costs."""
    import numpy as np

    rows = vecs.select("vec_id", "embedding").collect()
    mat = _matrix([r[1] for r in rows])
    n, w = len(rows), mat.shape[1] // m
    return _books(
        np.tile(np.arange(m), n),
        np.repeat(np.array([r[0] for r in rows], dtype=np.int64), m),
        mat[:, : m * w].reshape(n * m, w),
        m,
    )


def _assign(vecs: DataFrame, books, nearest, keep_vec: bool = False) -> DataFrame:
    """The one assignment kernel: every (vec_id, embedding) row split into
    ``len(books)`` subvectors, each scored against its subspace's
    driver-held codebook ``(ids, mat)`` by ``nearest`` (rows × codewords
    → winning index). Emits (vec_id, m, centroid_id) per vector and
    subspace. The codebooks are broadcast; the corpus is one Arrow map
    (``mapInArrow``: the vectors arrive as one flat values buffer and the
    subvectors leave as one, with no per-row pandas objects).

    ``keep_vec=True`` also emits each subvector as ``sv`` (the whole
    vector when m = 1): the Lloyd update and the SemDeDup cluster stage
    read it from the assignment's own rows instead of joining back to
    the corpus."""
    import numpy as np
    import pyarrow as pa

    m = len(books)
    bc = vecs.sparkSession.sparkContext.broadcast(books)

    def run(batches):
        for batch in batches:
            ids, mat = batch.column(0).to_numpy(), _rows(batch.column(1))
            n = len(ids)
            w = mat.shape[1] // m
            subs = mat[:, : m * w].reshape(n, m, w)
            codes = np.stack(
                [ci[nearest(subs[:, s], cm)] for s, (ci, cm) in enumerate(bc.value)], axis=1
            )
            out = {
                "vec_id": np.repeat(ids, m),
                "m": np.tile(np.arange(m, dtype=np.int32), n),
                "centroid_id": codes.ravel(),
            }
            if keep_vec:
                out["sv"] = pa.ListArray.from_arrays(
                    np.arange(0, n * m * w + 1, w, dtype=np.int32), subs.reshape(-1)
                )
            yield pa.RecordBatch.from_pydict(out)

    schema = "vec_id long, m int, centroid_id long" + (", sv array<double>" if keep_vec else "")
    return vecs.select("vec_id", "embedding").mapInArrow(run, schema=schema)


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
    return _topk_per_query(
        _keyed_topk(*_ivf_lists(vecs, queries, centroids, nprobe), k, _cosine6), k
    )


def _ivf_lists(vecs: DataFrame, queries: DataFrame, centroids: DataFrame, nprobe: int):
    """The IVF probe rule as the keyed stage's two sides, keyed by IVF
    list: the queries (vec_id, key, embedding), each once per probed
    list — its ``nprobe`` nearest centroids by rounded cosine, ties to the
    lowest centroid id, its own list kept — and the corpus (neighbor_id,
    key, embedding), each vector in the list ``ivf_assign`` gives it. One
    collect of the centroids; the probe and the assignment are maps
    against them (the assignment passes the vector through, so nothing
    joins back to the corpus)."""
    import pyarrow as pa

    books = _vector_books(centroids, 1)
    bc = vecs.sparkSession.sparkContext.broadcast(books[0])

    def probe(batches):
        c_ids, c_mat = bc.value
        for batch in batches:
            vec = batch.column(1)
            r, c = _topk_select(c_ids, _cosine6(_rows(vec), c_mat), nprobe)
            yield pa.RecordBatch.from_pydict(
                {"vec_id": batch.column(0).take(r), "key": c_ids[c], "embedding": vec.take(r)}
            )

    q = queries.select("vec_id", "embedding")
    emb_type = q.schema["embedding"].dataType.simpleString()
    probes = q.mapInArrow(probe, schema=f"vec_id long, key long, embedding {emb_type}")
    corpus = _assign(vecs, books, _nearest_cosine, keep_vec=True).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("centroid_id").alias("key"),
        F.col("sv").alias("embedding"),
    )
    return probes, corpus


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
    emb = vecs.select("vec_id", F.col(vec_col).alias("embedding"))
    books = _lloyd(emb, 1, k, iters, _nearest_cosine)
    return _books_frame(vecs.sparkSession, books).select("centroid_id", "c")


def _books_frame(spark, books) -> DataFrame:
    """Driver codebooks as a local (m, centroid_id, c: array<double>) frame."""
    return spark.createDataFrame(
        [
            (s, int(i), [float(x) for x in row])
            for s, (ids, mat) in enumerate(books)
            for i, row in zip(ids, mat)
        ],
        "m int, centroid_id long, c array<double>",
        verifySchema=False,
    )


def _lloyd(emb: DataFrame, m: int, k: int, iters: int, nearest):
    """The one Lloyd trajectory over (vec_id, embedding) split into ``m``
    subspaces, held on the driver: k-means is one subspace scored by
    ``_nearest_cosine``, PQ is m subspaces scored by ``_nearest_l2``.
    Returns the m codebooks ``(ids, mat)``, ids ascending.

    The init is one collect of the vec_id < k rows. Each round is ONE
    action: the assignment kernel passes every subvector through
    (keep_vec), ``posexplode`` → ``groupBy(m, centroid_id, dim)`` takes
    ``round(avg(x), 6)`` with map-side partials, and the means come back
    through Arrow and are rebuilt in dim order. A codeword that wins
    nothing drops out. The mean is Spark's ``avg`` and 6-dp round, the
    trajectory the oracle replays; the shuffle is (m, centroid_id, dim,
    x) rows, never the corpus. (A fused 64-avg aggregate measured 2×
    slower than the posexplode form.)"""
    books = _vector_books(emb.filter(F.col("vec_id") < k), m)
    if not len(books[0][0]):
        return books  # no codeword, so no vector is ever assigned
    for _ in range(iters):
        pdf = (
            _assign(emb, books, nearest, keep_vec=True)
            .select("m", "centroid_id", F.posexplode("sv").alias("dim", "x"))
            .groupBy("m", "centroid_id", "dim")
            .agg(F.round(F.avg("x"), 6).alias("x"))
            .toPandas()
            .sort_values(["m", "centroid_id", "dim"])
        )
        head = (pdf["dim"] == 0).to_numpy()
        books = _books(
            pdf["m"].to_numpy()[head],
            pdf["centroid_id"].to_numpy()[head],
            pdf["x"].to_numpy().reshape(int(head.sum()), -1),
            m,
        )
    return books


def pq_train(
    vecs: DataFrame,
    m: int = C.PQ_M,
    k: int = C.PQ_K,
    iters: int = C.PQ_ITERS,
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al. 2011): per-subspace
    Lloyd's k-means with the deterministic trajectory the SQL oracle
    replays — init codewords are the subvectors of vec_id < k, assignment
    the rounded-L2 argmin (ties to lowest id), update the 6-dp-rounded
    per-dim mean. Returns (m, centroid_id, c: array<double>), built from
    the driver-held codebooks of ``_lloyd`` (k-means' loop, run over m
    subspaces at once)."""
    emb = vecs.select("vec_id", F.col(vec_col).alias("embedding"))
    return _books_frame(vecs.sparkSession, _lloyd(emb, m, k, iters, _nearest_l2))


def pq_encode(
    vecs: DataFrame,
    cents: DataFrame,
    m: int = C.PQ_M,
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus → PQ codes (vec_id, m, code): each subvector's nearest
    codeword id in the (m, centroid_id, c) codebook. With PQ_K ≤ 256 a
    vector compresses to PQ_M bytes — the memory-side half of
    billion-vector ANN. One collect of the codebook, then the assignment
    map."""
    import numpy as np

    rows = cents.select("m", "centroid_id", "c").collect()
    books = _books(
        np.array([r[0] for r in rows]),
        np.array([r[1] for r in rows], dtype=np.int64),
        _matrix([r[2] for r in rows]),
        m,
    )
    emb = vecs.select("vec_id", F.col(vec_col).alias("embedding"))
    return _assign(emb, books, _nearest_l2).select(
        "vec_id", "m", F.col("centroid_id").alias("code")
    )


def _adc6(books):
    """The PQ-ADC scorer (asymmetric distance computation, Jégou et al.
    2011) over the driver-held codebooks: ``score(q_mat, c_mat)`` encodes
    each candidate (``_nearest_l2`` per subspace) and returns
    round(dp / (|q| · |reconstruction|), 6) as ``_cosine6`` rounds. dp
    sums the subspace terms q_m · codeword and the reconstruction norm²
    the codewords' own, each 0.0-seeded over ascending m; every dot
    product and |q|² is a ``_fold``, the order the oracle sums in."""
    import numpy as np

    w = books[0][1].shape[1]
    own = [_fold(cm, cm) for _, cm in books]

    def score(q_mat, c_mat):
        dp = np.zeros((len(q_mat), len(c_mat)))
        rn = np.zeros(len(c_mat))
        for s, (_, cm) in enumerate(books):
            sub = slice(s * w, (s + 1) * w)
            code = _nearest_l2(c_mat[:, sub], cm)
            dp += _fold(q_mat[:, None, sub], cm[None, :, :])[:, code]
            rn += own[s][code]
        qn = np.sqrt(_fold(q_mat, q_mat))
        return np.round(dp / (qn[:, None] * np.sqrt(rn)[None, :]), C.COSINE_ROUND)

    return score


def topk_pq(
    vecs: DataFrame,
    query_max_id: int = C.ANN_QUERY_MAX_ID,
    m: int = C.PQ_M,
    k: int = C.PQ_K,
    iters: int = C.PQ_ITERS,
    topk: int = C.ANN_TOPK,
) -> DataFrame:
    """PQ-coded approximate top-k via ADC (asymmetric distance
    computation): each query keeps its full vector and scores a neighbor
    by summing per-subspace dot products against the neighbor's
    codewords — approx cosine = adc_dot / (|q| · |reconstruction|),
    6-dp rounded with lowest-id ties. Output (vec_id, rnk, neighbor_id),
    the ANN family contract.

    The codebooks train on the driver (``_lloyd``); the flat-ADC scan is
    the broadcast top-k stage scored by ``_adc6``, which encodes each
    corpus batch as it scores it, so the corpus is read once.
    """
    emb = vecs.select("vec_id", "embedding")
    books = _lloyd(emb, m, k, iters, _nearest_l2)
    queries = vecs.filter(F.col("vec_id") < query_max_id)
    return _topk_per_query(_topk_candidates_numpy(queries, emb, topk, _adc6(books)), topk)


def topk_ivfpq(
    vecs: DataFrame,
    query_max_id: int = C.ANN_QUERY_MAX_ID,
    centroid_mod: int = C.IVF_CENTROID_MOD,
    nprobe: int = C.IVF_NPROBE,
    topk: int = C.IVF_TOPK,
) -> DataFrame:
    """IVFADC (Jégou et al. 2011) — the composition both indexes exist
    for: the IVF probe rule prunes candidates to nprobe lists (the
    compute-side cut), and ADC scores only those candidates against
    their PQ reconstructions (the memory-side cut where a store keeps
    only the codes). The lists are ``_ivf_lists``, the probe rule
    ``topk_ivf`` runs, scored by the keyed stage with ``_adc6`` over
    ``topk_pq``'s codebooks instead of ``_cosine6``: composing indexes
    is a change of scorer, not a new engine path. Candidate volume is
    queries × (nprobe/n_centroids) × corpus.
    """
    books = _lloyd(vecs.select("vec_id", "embedding"), C.PQ_M, C.PQ_K, C.PQ_ITERS, _nearest_l2)
    centroids = vecs.filter(F.col("vec_id") % centroid_mod == 0)
    queries = vecs.filter(F.col("vec_id") < query_max_id)
    lists = _ivf_lists(vecs, queries, centroids, nprobe)
    return _topk_per_query(_keyed_topk(*lists, topk, _adc6(books)), topk)


def semdedup_auto_k(n: int, target_cluster: int = C.SEMDEDUP_TARGET_CLUSTER) -> int:
    """Cluster count that holds per-cluster pairwise work constant as the
    corpus grows (pairs/vector ~ target_cluster/2): max(KMEANS_K,
    n // target_cluster). Keeping the KMEANS_K floor means oracle-scale
    corpora replay the fixed-k SQL trajectory exactly."""
    return max(C.KMEANS_K, n // target_cluster)


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
    the broadcast centroid arrays and passes the vector through as
    ``sv``, then ONE
    ``groupBy(centroid_id).applyInPandas`` scores each cluster: sorted by
    vec_id, the rounded cosine (``_cosine6``) of ``PAIR_ROW_BLOCK``
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
    block = PAIR_ROW_BLOCK

    def keep_flags(pdf):
        pdf = pdf.sort_values("vec_id", kind="stable")
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        mat = np.stack(pdf["sv"].to_numpy())
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
        _assign(emb, _lloyd(emb, 1, k, iters, _nearest_cosine), _nearest_cosine, keep_vec=True)
        .select("vec_id", "centroid_id", "sv")
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
