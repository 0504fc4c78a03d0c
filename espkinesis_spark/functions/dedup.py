"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of each variant at 100 TB):

* exact        — one hash-partitioned groupBy on the text (or its md5);
                 map-side partial aggregation keeps the shuffle narrow.
* MinHash+LSH  — per-doc signatures (narrow, no shuffle), band buckets,
                 then a bucket equi-join. Candidate pairs ~ O(dups), not
                 O(n^2); the only shuffles are on (band, bucket) and on the
                 candidate pair keys for exact verification.
* SimHash      — a single 64-bit-ish signature per doc; near-dup = equal
                 signature (or small Hamming distance via pivoted bands).
* n-gram Jaccard — exact pairwise similarity *restricted to candidates*
                 (or to an explicit pair list); never all-pairs at scale.

All hashing is md5-based so the DuckDB oracle reproduces it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from espkinesis_spark.functions import common as C
from espkinesis_spark.functions.text import tokens


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup: one surviving doc_id per distinct text.

    Returns (keep_id, n) per text group. At scale, group on md5(text) to
    keep shuffle rows narrow; here text itself keeps the oracle trivial.
    """
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n")
    ).drop("text")


def shingles(
    docs: DataFrame, text_col: str = "text", distinct: bool = True
) -> DataFrame:
    """Distinct word 3-gram shingles per document: (doc_id, s).

    Docs shorter than 3 tokens degrade to one (shorter) shingle — same rule
    as the oracle. Pure projection + explode: no shuffle with
    ``distinct=False`` — the form a STREAM computes at ingest (distinct is
    an aggregation and would force update-mode state; dedupe after the
    drain instead).
    """
    toks = tokens(F.col(text_col))
    sh = F.expr(
        "transform(sequence(1, greatest(size(__toks) - 2, 1)),"
        f" i -> concat_ws(' ', slice(__toks, i, {C.SHINGLE_WORDS})))"
    )
    out = docs.withColumn("__toks", toks).select(
        "doc_id", F.explode(sh).alias("s")
    )
    return out.distinct() if distinct else out


def minhash_signatures(doc_shingles: DataFrame, k: int = C.MINHASH_K) -> DataFrame:
    """MinHash signatures: sig_j = MIN over shingles of (A_j*h + B_j) mod P,
    with h = first 60 bits of md5(s) reduced mod P (common.py constants).

    One md5 per shingle + k multiply-mods (all inside whole-stage codegen) —
    the md5-per-permutation alternative allocates k hash strings per shingle
    and stalls in GC at scale. One groupBy(doc_id) computes all k mins as
    partial aggregates (map-side combine — the shuffle carries k longs per
    doc, not the shingle set).

    Expressions are built as SQL strings (r16): the k-term Column-operator
    loop cost ~0.7 s of driver-side Py4J round trips PER QUERY BUILD
    (measured; the parsed plan is identical and value-equality was
    A/B-checked) — at 32 permutations that was the single largest
    constant in every MinHash entry's construction.
    """
    h = f"(cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint) % {C.MINHASH_P})"
    aggs = [
        F.expr(
            f"min(({C.MINHASH_A[j]}L * __h + {C.MINHASH_B[j]}L) % {C.MINHASH_P})"
        ).alias(f"sig{j:02d}")
        for j in range(k)
    ]
    return (
        doc_shingles.selectExpr("doc_id", f"{h} AS __h")
        .groupBy("doc_id")
        .agg(*aggs)
    )


def _banded(signatures: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc_id, band, bucket) rows: bucket = md5(band || its sig slice).
    Built as one SQL expression string (r16): the bands×rows nested
    Column-operator loop was pure Py4J construction overhead per query
    build; the parsed plan is identical."""
    n_sigs = sum(c.startswith("sig") for c in signatures.columns)
    if bands * rows > n_sigs:
        raise ValueError(f"bands*rows = {bands * rows} exceeds {n_sigs} signatures")
    structs = ", ".join(
        "struct({b} AS band, md5(concat_ws('|', '{b}', {sigs})) AS bucket)".format(
            b=b,
            sigs=", ".join(f"sig{b * rows + r:02d}" for r in range(rows)),
        )
        for b in range(bands)
    )
    return signatures.select(
        "doc_id", F.explode(F.expr(f"array({structs})")).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")


def lsh_candidates(
    signatures: DataFrame, bands: int = C.LSH_BANDS, rows: int = C.LSH_ROWS
) -> DataFrame:
    """Band the signatures and bucket-join for candidate pairs (a < b).

    ``bands`` x ``rows`` consecutive sigs (default from common.py; tune per
    corpus: more bands/fewer rows raises recall and candidate volume,
    P(candidate | jaccard j) = 1 - (1 - j^rows)^bands); bucket key =
    md5(band || sigs-in-band). The self-join is an equi-join on
    (band, bucket) — at scale this is the *only* pairwise step and touches
    only colliding docs.
    """
    banded = _banded(signatures, bands, rows)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def exact_jaccard(pairs: DataFrame, doc_shingles: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for an explicit pair list.

    Joins the pair list to both shingle sets; intersection = matching-shingle
    count, union = |A| + |B| - intersection. Shuffles on doc_id / pair keys
    only — never materializes non-candidate pairs.
    """
    return _jaccard(_pair_overlap(pairs, doc_shingles, "i"), doc_shingles)


def _pair_overlap(pairs: DataFrame, sh: DataFrame, name: str) -> DataFrame:
    """(doc_a, doc_b, ``name``): the shingles each listed pair shares, by
    joining the pair list to both shingle sets — pair-keyed, so no pair
    outside the list is ever formed."""
    return (
        pairs.join(sh.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias(name))
    )


def _with_sizes(inter: DataFrame, sh: DataFrame) -> DataFrame:
    """An (doc_a, doc_b, i) intersection table with both shingle-set
    sizes attached as ``na`` and ``nb`` (one doc-keyed aggregate)."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    return inter.join(
        sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a"
    ).join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")


def _jaccard(inter: DataFrame, sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) from an intersection table: i / (na + nb - i),
    rounded to 6 dp."""
    return _with_sizes(inter, sh).select(
        "doc_a",
        "doc_b",
        F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6).alias("jaccard"),
    )


def neardup_minhash(docs: DataFrame, threshold: float = C.JACCARD_THRESHOLD) -> DataFrame:
    """End-to-end MinHash near-dup: shingle → sign → LSH bucket-join →
    exact-Jaccard verification → threshold filter.

    Output (doc_a, doc_b, jaccard) for verified pairs. Recall is governed by
    the band config (common.py): P(miss | j=0.8) ≈ 8e-8. The shingle table
    feeds three stages (signatures, both sides of the verification join);
    recomputing it is a cheap codegen'd map — measured faster than caching,
    which steals unified memory from the bucket join and causes spills. At
    100 TB, checkpoint it to a bucketed table instead.
    """
    sh = shingles(docs)
    cands = lsh_candidates(minhash_signatures(sh))
    return exact_jaccard(cands, sh).filter(F.col("jaccard") >= threshold)


_BUCKETED_CLEANUPS: set[str] = set()


def _register_bucketed_cleanup(spark, table: str, app_dir: str) -> None:
    """Tear down the app-scoped bucketed scratch (table + data dir) at
    interpreter exit — once per table. Best-effort: if the session is
    already gone the DROP is skipped, but the data dir still goes."""
    if table in _BUCKETED_CLEANUPS:
        return
    _BUCKETED_CLEANUPS.add(table)
    import atexit
    import shutil

    def _cleanup() -> None:
        try:
            spark.sql(f"DROP TABLE IF EXISTS {table}")
        except Exception:
            pass
        shutil.rmtree(app_dir, ignore_errors=True)

    atexit.register(_cleanup)


def _sweep_stale_scratch(root: str, max_age_s: int = 86400) -> None:
    """Remove sibling app scratch dirs a dead/crashed session left behind
    (their atexit never ran). Age-gated so a concurrent LIVE session's
    dir — necessarily younger than a day — is never touched."""
    import os
    import shutil
    import time

    try:
        entries = os.listdir(root)
    except OSError:
        return
    cutoff = time.time() - max_age_s
    for name in entries:
        p = os.path.join(root, name)
        try:
            if os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass


def neardup_minhash_persisted(
    docs: DataFrame,
    threshold: float = C.JACCARD_THRESHOLD,
    table: str | None = None,
    path: str | None = None,
    n_buckets: int = 8,
) -> DataFrame:
    """The SURVEY scale note made real: checkpoint the shingle table ONCE to
    a parquet table bucketed by doc_id, then feed signatures and both
    verification sides from the bucketed scan.

    ``neardup_minhash`` recomputes the shingle map three times (cheap
    codegen at test scale); at 100 TB recomputation triples the document
    scan, and every doc_id-keyed stage (signature groupBy, size groupBy)
    re-shuffles. The bucketed table pre-shuffles once at write time:
    downstream doc_id aggregations consume the bucket partitioning with NO
    Exchange (plan-audited in tests/test_plan_audits.py). Same output as
    ``neardup_minhash`` (shared oracle).

    The default table name and path are scoped by application id (the
    drain-directory rule): a bare fixed path races two concurrent
    sessions — the driver gate overwrites the table while a local run
    reads it mid-rewrite, which surfaced as a one-off parity flake.

    Cleanup expectation (ADVICE r9 — app-scoped names accumulate without
    bound otherwise): the default table + path are torn down at
    interpreter exit (atexit: DROP TABLE + rmtree of the app's scratch
    dir), and each call best-effort sweeps sibling scratch dirs older
    than a day, so crashed sessions can't pile up /tmp data either. The
    catalog entry itself is in-memory (no Hive metastore here) and dies
    with the session; callers passing an EXPLICIT table/path own their
    lifecycle.
    """
    import os
    import re
    import tempfile

    from espkinesis_spark.io import save_bucketed

    spark = docs.sparkSession
    app = re.sub(r"[^A-Za-z0-9_]", "_", spark.sparkContext.applicationId)
    explicit = table is not None or path is not None
    if table is None:
        table = f"espk_shingles_bucketed_{app}"
    if path is None:
        path = os.path.join(
            tempfile.gettempdir(), "espk_bucketed", app, "shingles"
        )
    if not explicit:
        _register_bucketed_cleanup(spark, table, os.path.dirname(path))
        _sweep_stale_scratch(os.path.dirname(os.path.dirname(path)))
    save_bucketed(
        shingles(docs), table, ["doc_id"], n_buckets, sort_by=["doc_id"], path=path
    )
    sh = spark.table(table)
    cands = lsh_candidates(minhash_signatures(sh))
    return exact_jaccard(cands, sh).filter(F.col("jaccard") >= threshold)


def containment_pairs(
    docs: DataFrame,
    threshold: float = C.CONTAIN_THRESHOLD,
    df_cap: int | None = None,
) -> DataFrame:
    """Shingle-set CONTAINMENT near-dup: C(A,B) = |A∩B| / |A| (and the
    symmetric C(B,A)) for every pair sharing >= 1 shingle, kept when
    either direction reaches ``threshold``. Jaccard misses
    subset/boilerplate duplication — a doc wholly contained in a much
    larger one has i/(na+nb-i) ≈ na/nb — while containment reads 1.0;
    this is the template/boilerplate detector of the dedup stack
    (Broder's containment measure).

    Scale shape: the intersection counts come from ``_intersections``,
    the one shared-shingle stage ``neardup_jaccard_exact`` also scores
    (one s-keyed exchange, no pair list materialized separately); sizes
    ride a doc-keyed aggregate. ``df_cap`` is that stage's hot-shingle
    guard — REQUIRED at corpus scale on natural text, where
    stopword-ish shingles shared by thousands of docs make the capless
    self-join quadratic: the 30x ladder (bounded-vocab corpus, ~50x
    shingle volume) did not finish capless inside 10 min, while
    df_cap=64 reads 18x wall at ~50x work (the dup_spans cost class),
    with exactness preserved for every pair sharing >= 1 sub-cap
    shingle (equivalence-tested).
    """
    return containment_from_shingles(shingles(docs), threshold, df_cap)


def containment_from_shingles(
    sh: DataFrame,
    threshold: float = C.CONTAIN_THRESHOLD,
    df_cap: int | None = None,
) -> DataFrame:
    """The scoring half of ``containment_pairs``: runs identically over a
    live distinct-shingle frame (batch) or a drained + deduped store
    (streaming)."""
    # The shingle table feeds the df-annotation window AND the per-doc
    # sizes aggregate (two plan branches) — materialize it once (r17,
    # guide §5; the winnow_candidates_from precedent). The checkpoint is
    # one shingle-table write, the same byte class as each consumer's own
    # shuffle, and replaces a second tokenize+explode+distinct pass.
    # A/B at sf0.1: batch leg 2.03 → 1.86 s, values identical.
    sh = sh.localCheckpoint(eager=True)
    return (
        _with_sizes(_intersections(sh, df_cap), sh)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("i") / F.col("na"), 6).alias("cont_a_in_b"),
            F.round(F.col("i") / F.col("nb"), 6).alias("cont_b_in_a"),
        )
        .filter(
            (F.col("cont_a_in_b") >= threshold) | (F.col("cont_b_in_a") >= threshold)
        )
    )


def _intersections(sh: DataFrame, df_cap: int | None) -> DataFrame:
    """(doc_a, doc_b, i) with doc_a < doc_b and i = |A ∩ B| for every pair
    of a distinct (doc_id, s) table that shares a candidate shingle.

    Without a cap every shingle is a candidate and the shared-shingle
    self-join *is* the intersection count (each matching shingle
    contributes one row). With ``df_cap``, shingles in more than
    ``df_cap`` documents are hot: they generate no candidates (the join
    stays bounded by cap² per shingle) but still count — the hot part of
    i is joined on the pair list the cold part produced, never all-pairs
    — so i stays exact for every pair sharing >= 1 sub-cap shingle."""
    if df_cap is None:
        cold, hot = sh, None
    else:
        from pyspark.sql import Window

        # df via a window over the SAME s-partitioning the self-join needs:
        # the exchange is shared, so the cap costs no extra shuffle of sh
        annotated = sh.withColumn("__df", F.count("*").over(Window.partitionBy("s")))
        cold = annotated.filter(F.col("__df") <= df_cap).select("doc_id", "s")
        hot = annotated.filter(F.col("__df") > df_cap).select("doc_id", "s")
    i_cold = (
        cold.select(F.col("doc_id").alias("doc_a"), "s")
        .join(cold.select(F.col("doc_id").alias("doc_b"), "s"), "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i" if hot is None else "ic"))
    )
    if hot is None:
        return i_cold
    i_hot = _pair_overlap(i_cold.select("doc_a", "doc_b"), hot, "ih")
    return i_cold.join(i_hot, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        (F.col("ic") + F.coalesce(F.col("ih"), F.lit(0))).alias("i"),
    )


def neardup_jaccard_exact(
    docs: DataFrame,
    threshold: float = C.JACCARD_THRESHOLD,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact (non-LSH) near-dup baseline: candidate pairs = docs sharing at
    least one shingle. Correctness baseline for the LSH path; at 100 TB use
    ``neardup_minhash`` instead.

    ``df_cap`` guards the self-join against hot shingles (stopword-ish
     3-grams shared by thousands of docs blow the join up quadratically):
    shingles with document frequency > df_cap are excluded from CANDIDATE
    GENERATION only — verification still scores the full shingle sets, so
    any pair that shares at least one sub-cap shingle gets its exact
    jaccard. Near-dup pairs above a meaningful threshold share many
    shingles, so recall loss requires EVERY shared shingle to be hot —
    df_cap trades that sliver of recall for a join bounded by cap² per
    shingle (``_intersections``).
    """
    # Two-to-three consumers of the shingle table (df window / join sides /
    # sizes) — checkpoint once instead of re-running tokenize + explode +
    # distinct per branch (r17, guide §5). A/B at sf0.1: 2.69 → 2.32 s,
    # values identical.
    sh = shingles(docs).localCheckpoint(eager=True)
    return _jaccard(_intersections(sh, df_cap), sh).filter(F.col("jaccard") >= threshold)


def simhash(docs: DataFrame, bits: int = C.SIMHASH_BITS) -> DataFrame:
    """SimHash over whitespace tokens (with multiplicity), md5-derived bits.

    bit_j(token) = bit (3 - j%4) of nibble j//4 of md5(token); the signature
    sets bit j iff sum over tokens of (2*bit_j - 1) > 0, packed into a
    BIGINT as sum(2^j). The DuckDB oracle spells this with arithmetic
    (floor/power/mod); here the whole signature is computed inside one
    Arrow batch per task — a pure map with zero shuffle and no row
    explosion, the shape that survives 100 TB.
    """
    import pandas as pd

    def run(batches):
        sign = simhash_signer(bits)
        for pdf in batches:
            sig = pd.Series([sign(t) for t in pdf["text"]], dtype="int64")
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": sig.values})

    return docs.select("doc_id", "text").mapInPandas(run, schema="doc_id long, simhash long")


def simhash_signer(bits: int = C.SIMHASH_BITS):
    """The per-text SimHash signature ``text -> int`` behind ``simhash``
    (and the registry's ``espk_simhash48`` UDF), with its own md5 cache.

    bit_j(token) is exactly the MSB-first bit order of the digest bytes, so
    ``np.unpackbits`` over the first ceil(bits/8) digest bytes reproduces
    it directly.
    """
    import hashlib

    import numpy as np

    nbytes = (bits + 7) // 8
    weights = np.int64(1) << np.arange(bits, dtype=np.int64)
    cache: dict[str, np.ndarray] = {}

    def token_bits(t: str) -> np.ndarray:
        v = cache.get(t)
        if v is None:
            d = hashlib.md5(t.encode("utf-8")).digest()[:nbytes]
            v = np.unpackbits(np.frombuffer(d, dtype=np.uint8))[:bits].astype(np.int64)
            cache[t] = v
        return v

    def sign(text: str) -> int:
        counts: dict[str, int] = {}
        for t in C.split_tokens(text):
            counts[t] = counts.get(t, 0) + 1
        s = np.zeros(bits, dtype=np.int64)
        for t, c in counts.items():
            s += c * (2 * token_bits(t) - 1)
        return int(weights[s > 0].sum())

    return sign


def _ckpt(df: DataFrame, mode: str) -> DataFrame:
    """Truncate iterative lineage. ``local`` pins executor-local blocks
    (fast; dies with an executor); ``reliable`` writes to the configured
    checkpoint dir (sparkContext.setCheckpointDir) and survives executor
    loss — the right mode for long multi-round jobs on real clusters."""
    if mode == "reliable":
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: connect every strictly-larger neighbor of u to the
    minimum of N(u) ∪ {u}. One groupBy + one join, both on node id.

    No trailing distinct (r16): the only consumer is small∘large, and
    _small_star's first step re-orients and DISTINCTs its input — the
    extra exchange+aggregate per round deduplicated rows that were about
    to be deduplicated again. Duplicate edges cannot change the
    neighborhood minimum (min is duplicate-blind).

    The min stays a groupBy + join-back rather than a window over the
    u-keyed shuffle (r16 review): a window buffers a hot node's ENTIRE
    neighborhood in one task — and a converged dup cluster is a star on
    its minimum, so the hottest node's degree is the largest cluster's
    size — while the aggregate reduces it map-side and the join is
    AQE-skew-splittable (guide §2.5: skew handling applies to joins,
    not windows). The ~0.15 s/round local window win was not worth the
    scale hazard."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("__m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: orient edges high→low, then connect every smaller
    neighbor (and u itself) to the minimum of the oriented neighborhood.
    groupBy + join-back for the same skew reason as _large_star."""
    d = (
        edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = d.groupBy("u").agg(F.min("v").alias("__m"))
    nbr = (
        d.join(mins, "u")
        .filter(F.col("v") != F.col("__m"))
        .select(F.col("v").alias("u"), F.col("__m").alias("v"))
    )
    own = mins.select("u", F.col("__m").alias("v"))
    return nbr.union(own).distinct()


def dedup_clusters(
    pairs: DataFrame, max_iters: int = 25, checkpoint: str = "local"
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, cluster_id) with
    cluster_id = min doc_id in the component (keep iff doc_id == cluster_id).

    Near-dup PAIRS overcount the work a dedup pass must do — the keep/drop
    decision needs CLUSTERS (A~B, B~C must drop two docs, not settle two
    independent pairs).

    The large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond") converges in O(log n) rounds even
    on chain graphs. A fully-contracted component is a star on its minimum,
    and stars are fixpoints of small∘large — so each round checks whether
    the edge set changed and stops at the first fixpoint. The check is one
    action over the EDGE set, which is near-dup-pair-sized — orders of
    magnitude smaller than the corpus at any scale — and real dup graphs
    converge in 2-4 rounds. max_iters bounds the adversarial case;
    exhausting it without a fixpoint raises RuntimeError instead of
    returning silently-wrong split clusters.

    ``checkpoint='reliable'`` swaps the per-round ``localCheckpoint`` for
    reliable checkpointing (requires ``sparkContext.setCheckpointDir``) so
    a lost executor cannot kill a long run.
    """
    edges = _ckpt(
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        checkpoint,
    )
    # Fixpoint check, count-gated (r16): both edge sets are DISTINCT
    # (small_star ends in distinct), so set equality ⟺ |nxt| == |edges|
    # AND nxt \ edges = ∅ (equal-cardinality subset ⇒ equality). The
    # count over a just-checkpointed frame is a near-free local-block
    # scan, so non-converged rounds skip the two anti-joins the old
    # symmetric-difference check paid every round; the one-direction
    # except runs only when the counts agree (typically once, at the
    # actual fixpoint).
    n_edges = edges.count()
    converged = False
    for _ in range(max_iters):
        nxt = _ckpt(_small_star(_large_star(edges)), checkpoint)
        n_nxt = nxt.count()
        if n_nxt == n_edges and nxt.exceptAll(edges).isEmpty():
            edges = nxt
            converged = True
            break
        edges, n_edges = nxt, n_nxt
    if not converged:
        raise RuntimeError(
            f"dedup_clusters not a fixpoint after {max_iters} rounds — "
            "raise max_iters (expected O(log n) convergence)"
        )
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("cluster_id")
    ).select(F.col("u").alias("doc_id"), "cluster_id")


# Corpus-scan size below which dedup_apply's drop set is safely broadcast-
# sized (drop set ≤ corpus keys; a ≤256 MB corpus cannot yield a drop set
# that troubles a 10 MB-order broadcast of bare int64 keys).
DEDUP_APPLY_BROADCAST_BYTES = 256 << 20


def dedup_apply(docs: DataFrame, threshold: float = C.JACCARD_THRESHOLD) -> DataFrame:
    """Full near-dup dedup pass applied to the corpus: LSH near-dup pairs →
    connected components → keep the min-doc_id canonical per cluster, drop
    every other member. Returns the surviving documents (original schema);
    ``apply_drop_set`` picks the anti-join's shape."""
    return apply_pairs(docs, neardup_minhash(docs, threshold))


def apply_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The shared dedup tail of every pairs source: near-dup ``pairs``
    (doc_a, doc_b) → ``dedup_clusters`` → drop every member but the
    cluster's min doc_id → ``apply_drop_set``. Returns the surviving
    documents."""
    drops = (
        dedup_clusters(pairs)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    return apply_drop_set(docs, drops)


def survivor_summary(docs: DataFrame) -> DataFrame:
    """Per-source summary of a (deduplicated) corpus: n_docs and
    sum_chars, both exact longs — the result shape of the dedup-apply
    entries."""
    return docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


def apply_drop_set(docs: DataFrame, drops: DataFrame, key: str = "doc_id") -> DataFrame:
    """The dedup anti-join stage alone: remove ``drops`` (bare ``key``
    ids) from ``docs``. Shared by every pairs-source (MinHash text,
    perceptual Hamming, substring, SemDeDup embeddings via
    ``key='vec_id'``) so each modality's dedup ends in the same apply
    shape. Routes on Catalyst's size estimate of the corpus scan (a
    reliable parquet stat, unlike the multi-stage drop-set plan's):

    * within ``DEDUP_APPLY_BROADCAST_BYTES``: map-side probe — the drop
      set broadcasts into a left-anti join and the corpus scan is never
      shuffled;
    * above it, or with no estimate: plain shuffled left-anti — the
      100 TB shape. At web-scale dup rates (30-50%) the drop set is
      corpus-scale; a broadcast there OOMs every executor, while the
      shuffle costs one exchange of bare keys."""
    from espkinesis_spark.plans.audit import plan_size_bytes

    size = plan_size_bytes(docs)
    if size is not None and size <= DEDUP_APPLY_BROADCAST_BYTES:
        return docs.join(F.broadcast(drops), key, "left_anti")
    # hint AGAINST broadcast so AQE keeps the exchange even if the drop
    # set's runtime stats look small mid-query
    return docs.join(drops.hint("shuffle_hash"), key, "left_anti")


def neardup_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    threshold: float = C.JACCARD_THRESHOLD,
    bands: int = C.LSH_BANDS,
    rows: int = C.LSH_ROWS,
) -> DataFrame:
    """Incremental near-dup: check an INCOMING batch against the EXISTING
    corpus without re-pairing the corpus with itself — the production
    ingest shape. The banded-signature join is new-batch × corpus on
    (band, bucket), so candidate volume scales with the batch, never the
    corpus squared; the corpus side is exactly the signature table a
    pipeline keeps persisted (neardup_minhash_persisted). Intra-batch
    duplicates are deliberately out of scope (run neardup_minhash on the
    batch for those). Output (doc_new, doc_old, jaccard) above threshold.
    """
    sh_new, sh_old = shingles(new_docs), shingles(corpus_docs)
    bn = _banded(minhash_signatures(sh_new), bands, rows)
    bo = _banded(minhash_signatures(sh_old), bands, rows)
    cands = (
        bn.alias("a")
        .join(bo.alias("b"), ["band", "bucket"])
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    verified = exact_jaccard(cands, sh_new.union(sh_old))
    return verified.filter(F.col("jaccard") >= threshold).select(
        F.col("doc_a").alias("doc_new"),
        F.col("doc_b").alias("doc_old"),
        "jaccard",
    )


def winnow_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003
    — the MOSS local fingerprinting scheme): trigram hashes in position
    order, then the minimum hash of every WINNOW_W-row sliding window,
    distinct per doc. Guarantee: two documents sharing a token run of at
    least WINNOW_W + SHINGLE_WORDS - 1 tokens share ≥1 fingerprint —
    unlike MinHash (whole-doc similarity), winnowing localizes, so it
    catches partial overlap.

    Scale shape: the window is over positions WITHIN one document, so
    the whole computation is a ZERO-SHUFFLE per-row projection — gram
    hashes as an array, sliding minima as an array transform, per-doc
    dedupe via array_distinct, one explode. No exchange at any corpus
    size (this also makes it directly usable as a stateless streaming
    ingest projection). Tail windows shorter than WINNOW_W are included
    (same rule in the oracle). Output is the ~|tokens|/w-sized
    fingerprint table a production pipeline persists (~the hamming
    fingerprint-table shape)."""
    toks = tokens(F.col(text_col))
    return (
        docs.withColumn("__toks", toks)
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
            # window min as a branch-free least() over direct element
            # accesses (r17, guide §1.2 per-task work): slice() allocates a
            # fresh W-element array per window position before array_min
            # folds it — O(tokens·W) allocations per document; least() over
            # W accesses reads in place. try_element_at returns NULL past
            # the array end and least() skips NULLs, so tail windows
            # shorter than W keep the exact slice semantics (equivalence
            # A/B'd: 0 differing rows at sf0.1; ~20% faster isolated).
            F.explode(
                F.expr(
                    "array_distinct(transform(sequence(1, size(__hs)),"
                    " i -> least({})))".format(
                        ", ".join(
                            "__hs[i-1]" if j == 0 else f"try_element_at(__hs, i+{j})"
                            for j in range(C.WINNOW_W)
                        )
                    )
                )
            ).alias("fp"),
        )
    )


def winnow_candidates(
    docs: DataFrame,
    min_shared: int = C.WINNOW_MIN_SHARED,
    max_df: int = C.WINNOW_MAX_DF,
    text_col: str = "text",
) -> DataFrame:
    """Near-dup candidate pairs from winnowing fingerprints: docs sharing
    ≥ ``min_shared`` fingerprints, after dropping boilerplate
    fingerprints appearing in more than ``max_df`` docs (the df cap that
    bounds per-fingerprint join fanout at corpus scale). One
    fingerprint-keyed equi-join, never all-pairs; the df filter shares
    the join's fp partitioning. The fingerprint table feeds three plan
    branches (df counts + both join sides), so it is localCheckpointed
    once (the hamming fingerprint-table rule)."""
    fp = winnow_fingerprints(docs, text_col=text_col)
    return winnow_candidates_from(fp, min_shared=min_shared, max_df=max_df)


def winnow_candidates_from(
    fp: DataFrame,
    min_shared: int = C.WINNOW_MIN_SHARED,
    max_df: int = C.WINNOW_MAX_DF,
) -> DataFrame:
    """``winnow_candidates`` from an existing distinct (doc_id, fp) key
    table — the entry point for a persisted store (the streaming leg
    drains fingerprints extracted at ingest into exactly this shape) and
    the one drop-hot shared-key count: ``multimodal.shared_frame_neardup``
    runs its frame-hash table through it. Unlike ``_intersections``'
    cap, a key past ``max_df`` is dropped, so it counts toward no pair."""
    fp = fp.localCheckpoint(eager=True)
    dfc = fp.groupBy("fp").agg(F.count("*").cast("long").alias("df"))
    kept = fp.join(dfc.filter(F.col("df") <= max_df), "fp").select("doc_id", "fp")
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def dup_spans(
    docs: DataFrame, span: int = C.SPAN_TOKENS, text_col: str = "text"
) -> DataFrame:
    """Per-document exact-substring duplication report.

    Emits, for every document with >= ``span`` tokens: ``n_spans`` (token
    windows), ``n_dup`` (windows whose text recurs anywhere else in the
    corpus — other doc or other position), ``n_cut`` (occurrences that are
    not the corpus-wide FIRST occurrence; exactly what an exact-substring
    dedup pass removes), and ``dup_ratio``.

    Scale shape: explode to (doc_id, pos, md5(span)) — a pure narrow map —
    then ONE shuffle on the span hash (window count + min-ord share the
    same partitioning) and one groupBy(doc_id) for the report. No joins,
    no driver data. At 100 TB the span hash is uniformly distributed, so
    no salting is needed; hot spans (boilerplate) skew only the count
    window, which AQE's skew handling splits.
    """
    from pyspark.sql import Window

    occ, _ = dup_spans_tables(docs, span, text_col)
    w = Window.partitionBy("__h")
    # first-occurrence order is the lexicographic MIN of (doc_id, pos) —
    # struct ordering, not a doc_id*BASE+pos int64 composite, so there is
    # no collision bound for huge documents or doc_id ranges (the SQL
    # oracle keeps the ordinal form, valid while pos < SPAN_ORD_BASE,
    # which always holds at test scale)
    ordv = F.struct(F.col("doc_id").alias("d"), F.col("pos").alias("p"))
    marked = occ.select(
        "doc_id",
        (F.count("*").over(w) > 1).cast("int").alias("__is_dup"),
        (ordv != F.min(ordv).over(w)).cast("int").alias("__is_cut"),
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum("__is_dup").cast("long").alias("n_dup"),
        F.sum("__is_cut").cast("long").alias("n_cut"),
        F.round(F.sum("__is_dup") / F.count("*"), 4).alias("dup_ratio"),
    )


def dup_spans_apply(
    docs: DataFrame, span: int = C.SPAN_TOKENS, text_col: str = "text"
) -> DataFrame:
    """Exact-substring dedup APPLIED (the rewrite ``dup_spans`` only
    reports): every token covered by a non-first-occurrence span window
    is removed (Lee et al. 2022's substring dedup cuts the later
    occurrences; overlapping cut windows merge naturally through the
    position-set union). Emits one row per document —
    (doc_id, n_tokens, n_removed, kept_md5) with kept_md5 the md5 of the
    space-joined SURVIVING tokens in original order (md5('') when a doc
    is entirely duplicated text) — so the oracle can value-check the
    exact rewritten content without hauling it.

    Scale shape: the span table and first-occurrence window are exactly
    ``dup_spans``' one __h-keyed shuffle; the cut-position fan-out is a
    bounded ×span array explode; removal is one (doc, pos)-keyed
    LEFT-ANTI equi-join; the rebuild is a single doc_id-keyed
    aggregation whose per-group payload is one document's tokens (the
    same per-doc bound every text op here carries). No collects, no
    windows over the corpus, nothing driver-side.
    """
    occ, tok_tbl = dup_spans_tables(docs, span, text_col)
    return dup_spans_apply_from(occ, tok_tbl, span)


def dup_spans_tables(
    docs: DataFrame, span: int = C.SPAN_TOKENS, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """The two narrow extraction tables the substring-dedup analysis runs
    on, split out so a STREAM can compute them at ingest (both are
    stateless per-row fan-outs — the payload is touched exactly once):
    the span-hash occurrence table (doc_id, pos, __h) and the position-
    indexed token table (doc_id, tp, tok)."""
    toks = tokens(F.col(text_col))
    spans_expr = F.expr(
        f"transform(sequence(1, size(__toks) - {span} + 1),"
        f" i -> md5(concat_ws(' ', slice(__toks, i, {span}))))"
    )
    base = docs.withColumn("__toks", toks)
    occ = (
        base.filter(F.size("__toks") >= span)
        .select("doc_id", F.posexplode(spans_expr).alias("__p0", "__h"))
        # posexplode is 0-based; the oracle's range() is 1-based
        .select("doc_id", (F.col("__p0") + 1).alias("pos"), "__h")
    )
    # empty-string tokens filtered (the token_entropy convention): an
    # empty/whitespace-only doc tokenizes to [''] and would otherwise
    # emit a phantom one-token row — hypothesis mirror caught it
    tok_tbl = (
        base.select("doc_id", F.posexplode("__toks").alias("__p0", "tok"))
        .filter(F.length("tok") > 0)
        .select("doc_id", (F.col("__p0") + 1).alias("tp"), "tok")
    )
    return occ, tok_tbl


def dup_spans_apply_from(
    occ: DataFrame, tok_tbl: DataFrame, span: int = C.SPAN_TOKENS
) -> DataFrame:
    """The analysis half of ``dup_spans_apply``: first-occurrence window
    over the span-hash table, overlap-merged cut positions, (doc, pos)
    anti join, per-doc rebuild. Runs identically over live extraction
    frames (batch) or drained stores (streaming) — which is WHY the
    split exists."""
    from pyspark.sql import Window

    w = Window.partitionBy("__h")
    ordv = F.struct(F.col("doc_id").alias("d"), F.col("pos").alias("p"))
    cuts = occ.select(
        "doc_id", "pos", (ordv != F.min(ordv).over(w)).alias("__is_cut")
    ).filter(F.col("__is_cut"))
    cut_pos = cuts.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + span - 1)).alias("tp"),
    ).distinct()
    totals = tok_tbl.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens")
    )
    kept = tok_tbl.join(cut_pos, ["doc_id", "tp"], "left_anti")
    kept_agg = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("__n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tp", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("kept_md5"),
    )
    return (
        totals.join(kept_agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("__n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce(F.col("kept_md5"), F.md5(F.lit(""))).alias("kept_md5"),
        )
    )
