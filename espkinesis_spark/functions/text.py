"""Text-analysis operators over the documents table.

Most operators are JVM-side column expressions that run inside whole-stage
codegen and scale linearly with document count: no shuffle at all for the
per-document ops (tokenize/stats/pii), one key-partitioned shuffle for any
downstream group-by. The exceptions:

* ``lang_id``, ``fingerprints`` and ``frequent_values``'s candidate pass
  are Arrow-batched ``mapInPandas`` kernels (Python workers; still pure
  maps, no shuffle). The per-document kernels tokenize with
  ``common.split_tokens``, the Python form of ``tokens()``.
* BPE training (``bpe_train``, and ``bpe_encode`` on top of it) runs one
  driver-side argmax job per merge round.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from espkinesis_spark.functions import common as C


def tokens(text: Column) -> Column:
    """Whitespace tokens of trimmed text (shared tokenizer contract)."""
    return F.split(F.trim(text), C.TOKEN_SPLIT_RE)


def _stopword_hits(toks: Column, words: tuple[str, ...]) -> Column:
    wl = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(wl, t)))


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: stopword-hit counts per language, argmax with
    deterministic tie order (en > es > de > fr), 'und' when no hits.

    Counts hits via set lookups in one Arrow batch pass (a pure map). Swap
    in a real model via the same mapInPandas shape without changing the
    interface.
    """
    from pyspark.sql import types as T

    stop = {lg: frozenset(ws) for lg, ws in C.LANG_STOPWORDS.items()}
    order = C.LANG_ORDER

    def run(batches):
        for pdf in batches:
            preds = []
            for t in pdf[text_col]:
                toks = C.split_tokens(t)
                counts = [sum(1 for x in toks if x in stop[lg]) for lg in order]
                best = max(counts)
                preds.append("und" if best == 0 else order[counts.index(best)])
            pdf = pdf.copy()
            pdf["lang_pred"] = preds
            yield pdf

    schema = T.StructType(list(df.schema.fields) + [T.StructField("lang_pred", T.StringType())])
    return df.mapInPandas(run, schema=schema)


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality stats: token count, avg token length, punctuation
    ratio, stopword ratio, and a composite quality score in [0, 1].

    Components are rounded to 4 dp *before* the weighted combination so the
    score is bit-stable across engines and summation orders.
    """
    # materialize the split once per row — every later reference to the
    # raw tokens() expression would re-run the regex split (4x here)
    df = df.select("doc_id", F.col(text_col), tokens(F.col(text_col)).alias("__toks"))
    toks = F.col("__toks")
    n_tokens = F.size(toks).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    avg_token_len = F.round(sum_len / n_tokens, 4)
    text_len = F.length(F.col(text_col))
    punct_ratio = F.round(
        F.length(F.regexp_replace(F.col(text_col), "[a-z0-9 ]", "")) / text_len, 4
    )
    stop_hits = _stopword_hits(toks, C.LANG_STOPWORDS["en"])
    stopword_ratio = F.round(stop_hits / n_tokens, 4)
    quality = F.round(
        F.lit(C.QUALITY_STOPWORD_W) * stopword_ratio
        + F.lit(C.QUALITY_LENGTH_W) * F.least(n_tokens / F.lit(C.QUALITY_LENGTH_NORM), F.lit(1.0))
        + F.lit(C.QUALITY_CLEAN_W) * (F.lit(1.0) - punct_ratio),
        4,
    )
    return df.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        avg_token_len.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        stopword_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish pretoken count (regex)."""
    return df.select(
        "doc_id",
        F.size(tokens(F.col(text_col))).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(C.PRETOKEN_RE), 0)).cast("long").alias("re_tokens"),
    )


def fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Two document fingerprints:

    * ``fp_key``  — OpenRefine-style key collision fingerprint: md5 of the
      sorted, deduplicated token multiset (order/dup-insensitive identity).
    * ``fp_roll`` — polynomial rolling hash ``h = (h*131 + code) % 1e9+7``
      over the first 64 characters (order-sensitive prefix identity).

    Arrow-batched kernel, a pure map. UTF-8 byte order (the oracle's
    list_sort) equals code-point order (Python sorted), so the key
    fingerprint matches for any input. The expression form of the 64-step
    fold unrolls into one enormous codegen method whose JIT compile
    intermittently stalls for seconds.
    """
    import hashlib

    import pandas as pd

    def run(batches):
        for pdf in batches:
            keys, rolls = [], []
            for t in pdf[text_col]:
                uniq = sorted(set(C.split_tokens(t.lower())))
                keys.append(hashlib.md5(" ".join(uniq).encode("utf-8")).hexdigest())
                h = 0
                for ch in t[: C.ROLLING_MAX_CHARS]:
                    h = (h * C.ROLLING_BASE + ord(ch)) % C.ROLLING_MOD
                rolls.append(h)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "fp_key": keys, "fp_roll": rolls})

    return df.select("doc_id", text_col).mapInPandas(
        run, schema="doc_id long, fp_key string, fp_roll long"
    )


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Regex PII redaction: emails first, then 6+-digit runs on the
    email-scrubbed text (so digits inside an address are never
    double-counted). Returns per-doc redaction counts plus the scrubbed
    text's length and md5 (the full scrubbed string stays checkable
    without hauling it into the result).

    Pure projection — whole-stage codegen, zero shuffle at any corpus
    size. Patterns live in common.PII_* and are restricted to the regex
    subset Java and RE2 interpret identically.
    """
    src = F.col(text_col)
    no_email = F.regexp_replace(src, C.PII_EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(no_email, C.PII_NUMBER_RE, "<NUM>")
    return df.select(
        "doc_id",
        F.regexp_count(src, F.lit(C.PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(no_email, F.lit(C.PII_NUMBER_RE)).cast("long").alias("n_numbers"),
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


def quality_model_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Model-based quality scoring — the hashed-feature linear classifier
    pass (the fastText-style scorer, Joulin et al. 2016, that modern
    curation pipelines run after the rule-based gates). Each token feature-hashes to a bucket in
    [0, QM_MOD) (md5 60-bit prefix, the sampling.hash_bucket convention)
    and looks up an integer weight in [-QM_MOD/2, QM_MOD/2); the document
    score is the mean weight. The weight table here is a DETERMINISTIC
    multiplicative-hash placeholder (no trained model ships in-repo) —
    a real trained vector is a broadcast map lookup in the identical
    plumbing, which is the point: scoring is a ZERO-SHUFFLE projection
    (tokenize → per-token hash/lookup → array fold), so it runs at
    ingest rate at any corpus size and composes with the streaming gate.

    Float discipline (see functions/timeseries.py): the per-token weights
    are exact INTEGERS summed with an exact integer fold; the only float
    op is one final division pair, so both engines emit bit-identical
    scores — no rounding tolerance. DuckDB mirrors the sum with
    unnest + SUM(BIGINT): different plan, same exact integer.
    """
    from espkinesis_spark.functions.sampling import hash_bucket

    # empty-string tokens are filtered (the token_entropy convention) so
    # an empty/whitespace-only doc emits NO row instead of a meaningless
    # score for the '' pseudo-token; materialize before the lambda fan-out
    toks = F.filter(tokens(F.col(text_col)), lambda x: F.length(x) > 0)
    t = df.withColumn("__toks", toks)
    w = lambda tok: (  # noqa: E731 — weight of one token, exact ints
        hash_bucket(tok, buckets=C.QM_MOD, on_null="null") * C.QM_MULT % C.QM_MOD
        - (C.QM_MOD - 1) // 2
    ).cast("long")
    w_sum = F.aggregate(
        F.col("__toks"), F.lit(0).cast("long"), lambda acc, x: acc + w(x)
    )
    n = F.size("__toks").cast("long")
    return t.filter(n > 0).select(
        "doc_id",
        n.alias("n_tokens"),
        (w_sum.cast("double") / F.lit(float(C.QM_MOD)) / n.cast("double")).alias(
            "model_score"
        ),
    )


def quality_filter(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition-aware quality gate (Gopher-style rules): duplicate-token
    fraction, top-token share, and mean token length, with a boolean
    ``keep`` verdict from the common.QF_* thresholds. A doc whose text is
    null has no tokens and emits no row.

    A STATELESS per-row projection (array expressions only — no explode,
    no groupBy, no shuffle), so the same stats run on an unbounded
    stream in append mode with zero state and no watermark
    (``quality_gate_stateless``). Ratios are rounded to 4 dp BEFORE
    thresholding so the verdict is bit-stable across engines.

    The token counts come from the SORTED token array: ``__e`` holds the
    1-based positions where a run of equal tokens ends, so the distinct
    count is the number of runs and the top-token count the widest gap
    between consecutive run ends — one sort_array and a few linear
    passes, O(n log n) per doc against O(distinct·n) for a
    distinct×filter scan. The character sum is the length of the joined
    tokens. No lambda body reads an array column: a ``filter("keep")``
    downstream is pushed below these projections with every column
    inlined, and an array read inside a lambda would then be rebuilt per
    element (the nested-lambda re-evaluation hazard, NOTES.md).
    """
    t = (
        df.filter(F.col(text_col).isNotNull())
        .withColumn("__toks", tokens(F.col(text_col)))
        .withColumn("__st", F.sort_array(F.col("__toks")))
        .withColumn(
            "__e",
            F.expr(
                "filter(transform(zip_with(__st, slice(__st, 2, size(__st)),"
                " (a, b) -> coalesce(a != b, true)), (m, i) -> IF(m, i + 1, 0)),"
                " p -> p > 0)"
            ),
        )
    )
    n = F.size("__toks").cast("long")
    n_distinct = F.size("__e").cast("long")
    top_n = F.expr(
        "array_max(zip_with(__e, concat(array(0), __e), (a, b) -> a - b))"
    ).cast("long")
    char_sum = F.length(F.array_join("__toks", "")).cast("long")
    dup_frac = F.round(F.lit(1.0) - n_distinct / n, 4)
    top_frac = F.round(top_n / n, 4)
    mean_len = F.round(char_sum / n, 4)
    keep = (
        (n >= C.QF_MIN_TOKENS)
        & (top_frac <= C.QF_MAX_TOP_FRAC)
        & (mean_len >= C.QF_MIN_MEAN_LEN)
        & (mean_len <= C.QF_MAX_MEAN_LEN)
    )
    return t.select(
        "doc_id",
        n.alias("n_tokens"),
        dup_frac.alias("dup_frac"),
        top_frac.alias("top_frac"),
        mean_len.alias("mean_len"),
        keep.alias("keep"),
    )


def token_tally(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(token, n): the count of each whitespace token. As streaming state
    it is one row per distinct token: vocab-sized, not corpus-sized."""
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
    )


def vocab(df: DataFrame, text_col: str = "text", k: int = C.VOCAB_TOP_K) -> DataFrame:
    """Corpus vocabulary: top-k tokens by frequency, ties to the
    lexicographically-smallest token (deterministic cut line).

    ``token_tally`` (map-side combine shrinks the shuffle to the
    distinct-vocab size) → ``orderBy().limit(k)``, which Spark plans as
    TakeOrderedAndProject: per-partition top-k then a driver-side k-merge —
    never a full sort or single-partition exchange of the token table.
    """
    return (
        token_tally(df, text_col)
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(k)
    )


def chunk_docs(
    df: DataFrame,
    text_col: str = "text",
    chunk: int = C.CHUNK_SIZE,
    overlap: int = C.CHUNK_OVERLAP,
) -> DataFrame:
    """Split documents into overlapping character chunks (the standard
    RAG/context-window prep): starts at 0, chunk-overlap, 2*(chunk-overlap)…
    while inside the text. Output keeps (doc_id, chunk_id, chunk_start,
    chunk_len, chunk_md5) — offsets + hash, so the chunk text itself never
    inflates the result.

    posexplode over a generated start sequence — a pure per-row fan-out
    (no shuffle); output rows ≈ corpus_chars / (chunk - overlap).
    """
    step = chunk - overlap
    if step <= 0:
        raise ValueError("chunk must exceed overlap")
    n = F.length(F.col(text_col))
    starts = F.sequence(F.lit(0), n - 1, F.lit(step))
    piece = F.substring(F.col(text_col), F.col("chunk_start") + 1, chunk)
    return (
        df.select("doc_id", text_col, F.posexplode(starts).alias("chunk_id", "chunk_start"))
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.length(piece).cast("long").alias("chunk_len"),
            F.md5(piece).alias("chunk_md5"),
        )
    )


def unigram_logprob(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Score each document under a unigram LM trained on the corpus itself:
    score = round(-avg(ln p(token)), 4) with p = corpus_count / total.

    Scale shape: the LM is vocab-sized — built with one token groupBy, then
    broadcast; scoring probes it map-side and reduces per doc_id. The only
    corpus-sized shuffle is the per-doc average (scalar-narrow rows). This
    is the classic model-based quality signal (high score = improbable
    text) without any external model dependency.
    """
    tok = df.select("doc_id", F.explode(tokens(F.col(text_col))).alias("tok"))
    # vocab-sized LM feeds its own total and the probe side — materialize
    # once so the corpus tokenize runs for train + score only (2 passes)
    lm = tok.groupBy("tok").agg(
        F.count("*").cast("double").alias("c")
    ).localCheckpoint(eager=True)
    total = lm.agg(F.sum("c").alias("t"))
    probs = lm.crossJoin(F.broadcast(total)).select(
        "tok", (F.col("c") / F.col("t")).alias("p")
    )
    return (
        tok.join(F.broadcast(probs), "tok")
        .groupBy("doc_id")
        .agg(F.round(-F.avg(F.log("p")), 4).alias("logprob_score"))
    )


def normalize_text(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Dedup-normalization (the CCNet/Dolma step that precedes every
    content hash): lowercase → fixed-map accent fold (common.ACCENT_*) →
    collapse whitespace runs → trim. Emits (doc_id, norm_len, norm_md5)
    so the normalized identity is checkable without hauling the text.

    Pure projection — whole-stage codegen, zero shuffle at any corpus
    size. The accent fold is a codepoint translate with an explicit map,
    NOT a locale/ICU strip-accents, so any SQL engine with translate()
    reproduces it byte-for-byte.
    """
    norm = F.trim(
        F.regexp_replace(
            F.translate(F.lower(F.col(text_col)), C.ACCENT_SRC, C.ACCENT_DST),
            r"\s+",
            " ",
        )
    )
    return df.select(
        "doc_id",
        F.length(norm).cast("long").alias("norm_len"),
        F.md5(norm).alias("norm_md5"),
    )


def bigram_logprob(
    df: DataFrame, text_col: str = "text", alpha: float = C.BIGRAM_ALPHA
) -> DataFrame:
    """Score each document under an add-alpha-smoothed bigram LM trained on
    the corpus itself: p(w2|w1) = (c(w1,w2) + α) / (c(w1·) + α·V), score =
    round(-avg(ln p) over the doc's bigrams, 4). The KenLM-style upgrade
    of ``unigram_logprob`` — catches improbable word ORDER, not just
    improbable words. Documents with < 2 tokens emit no row.

    Scale shape: the bigram rows are a per-row fan-out; the LM tables
    are bigram-vocab-sized (one map-side-combined groupBy each); scoring
    probes them map-side (AQE broadcasts while they fit; a 100 TB
    corpus's bigram table falls back to a shuffled equi-join) and
    reduces per doc_id.
    """
    return bigram_score(bigram_rows(df, text_col), alpha)


def bigram_rows(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, w1, w2): one row per raw token, w1 the token and w2 the
    next raw token (null after the last). A stateless zero-shuffle
    projection, so a stream extracts it at ingest. Empty tokens are
    dropped only in ``bigram_score``, so a blank token breaks adjacency
    exactly as the oracle's UNNEST(range) replay does."""
    return (
        df.select("doc_id", tokens(F.col(text_col)).alias("__t"))
        .select("doc_id", "__t", F.posexplode("__t").alias("__i", "w1"))
        .select("doc_id", "w1", F.get("__t", F.col("__i") + 1).alias("w2"))
    )


def bigram_score(rows: DataFrame, alpha: float = C.BIGRAM_ALPHA) -> DataFrame:
    """``bigram_logprob`` over ``bigram_rows``: the add-alpha LM trains
    on the pairs (the rows with both words non-empty) and the vocab size
    (the distinct non-empty w1), then scores each doc."""
    pairs = rows.filter((F.length("w1") > 0) & (F.length("w2") > 0))
    v = (
        rows.filter(F.length("w1") > 0)
        .select("w1")
        .distinct()
        .agg(F.count("*").cast("double").alias("v"))
    )
    lm = pairs.groupBy("w1", "w2").agg(F.count("*").cast("double").alias("c12"))
    # the LM table feeds its own context marginal (c1 = Σ_w2 c12) and the
    # scoring probe — materialize the bigram-vocab-sized table once and
    # derive ctx from it instead of re-running the corpus fan-out
    lm = lm.localCheckpoint(eager=True)
    ctx = lm.groupBy("w1").agg(F.sum("c12").alias("c1"))
    a = F.lit(alpha)
    probs = (
        lm.join(ctx, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1",
            "w2",
            ((F.col("c12") + a) / (F.col("c1") + a * F.col("v"))).alias("p"),
        )
    )
    return (
        pairs.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.round(-F.avg(F.log("p")), 4).alias("bigram_logprob"),
        )
    )


def perplexity_buckets_from(bigram_scored: DataFrame) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020) of a
    ``bigram_score`` frame: every document is cut into head / middle /
    tail TERCILES of the corpus score distribution — head = the
    most-fluent third (lowest per-bigram negative log-likelihood), the
    slice CCNet keeps for LM training; tail = the noisiest third.

    Thresholds are exact DISCRETE quantiles over integer micro-unit
    scores (the 4-dp score x PPL_SCALE): t1 = the ceil(n/3)-th smallest,
    t2 = the ceil(2n/3)-th smallest, ties take the LOWER bucket. No
    float interpolation in the cut itself, so the residual cross-engine
    risk is the one every 4-dp score column carries: a doc whose
    avg(ln p) lands within 1 ulp of a .00005 boundary could round apart,
    and a flip AT a threshold score moves t1/t2 and relabels every doc
    tied there. Documents with < 2 tokens carry no LM score and emit no
    row. The threshold pass collects the DISTINCT micro-score counts (one
    row per 4-dp score: bounded by score cardinality, never by corpus
    row count) and cuts them on the driver into two literals; the
    per-doc score table is localCheckpointed once for its two consumers."""
    import pandas as pd

    scored = bigram_scored.withColumn(
        "__mu", F.round(F.col("bigram_logprob") * C.PPL_SCALE).cast("long")
    )
    scored = scored.localCheckpoint(eager=True)
    counts = (
        scored.groupBy("__mu")
        .agg(F.count("*").cast("long").alias("__c"))
        .toPandas()
        .sort_values("__mu", na_position="first")
    )
    cum = counts["__c"].cumsum()
    n = int(cum.iloc[-1]) if len(cum) else 0

    def cut(rank: int) -> Column:
        t = counts["__mu"][cum >= rank].min()
        return F.lit(None if pd.isna(t) else int(t))

    t1, t2 = cut((n + 2) // 3), cut((2 * n + 2) // 3)
    return scored.select(
        "doc_id",
        "bigram_logprob",
        F.when(F.col("__mu") <= t1, F.lit("head"))
        .when(F.col("__mu") <= t2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("ppl_bucket"),
    )


def token_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    information-density quality signal (near-zero entropy = degenerate
    repetition; normalized entropy ≈ 1 = maximally diverse vocabulary).
    Returns (doc_id, n_tokens, n_distinct, entropy, norm_entropy) with
    entropy = round(-Σ (c/n)·ln(c/n), 4) and norm_entropy = entropy /
    ln(n_distinct) (NULL when a doc has a single distinct token).

    Scale shape: explode → (doc, token) count → per-doc totals as a
    WINDOW over the same doc_id-keyed partitioning (no second execution
    of the count subtree, no join) → one per-doc reduce. Both
    aggregations partial-aggregate map-side; nothing is corpus-global.
    """
    from pyspark.sql import Window

    # empty-string tokens are filtered so an empty/whitespace-only doc
    # emits no row on BOTH engines (Spark splits '' to []; DuckDB's
    # string_split_regex yields [''] — unguarded, parity diverges)
    tok = df.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("tok")
    ).filter(F.length("tok") > 0)
    per_tok = tok.groupBy("doc_id", "tok").agg(F.count("*").cast("double").alias("c"))
    w_doc = Window.partitionBy("doc_id")
    per_tok = per_tok.select(
        "doc_id",
        "c",
        F.sum("c").over(w_doc).alias("n"),
        F.count("*").over(w_doc).cast("long").alias("n_distinct"),
    )
    p = F.col("c") / F.col("n")
    ent = F.round(-F.sum(p * F.log(p)), 4)
    return (
        per_tok
        .groupBy("doc_id")
        .agg(
            F.first("n").cast("long").alias("n_tokens"),
            F.first("n_distinct").alias("n_distinct"),
            ent.alias("entropy"),
            F.when(
                F.first("n_distinct") > 1,
                F.round(-F.sum(p * F.log(p)) / F.log(F.first("n_distinct").cast("double")), 4),
            ).alias("norm_entropy"),
        )
    )


def cooccur(
    df: DataFrame,
    text_col: str = "text",
    window: int = C.COOCCUR_WINDOW,
    k: int = C.COOCCUR_TOP_K,
) -> DataFrame:
    """Windowed token co-occurrence with PMI — the count table behind
    word-embedding training (GloVe / word2vec prep). Each token pairs with
    its next ``window`` neighbors; pairs are canonicalized unordered
    (lexicographic least/greatest). Returns the top-k pairs by count
    (ties → a asc, b asc) as (a, b, n_pair, pmi) with
    pmi = round(ln((c_ab/N_pairs) / ((c_a/N_tok)·(c_b/N_tok))), 4).

    Scale shape: pair generation is a pure per-row array fan-out (no
    join, no shuffle — output ≈ window × corpus tokens); the pair count
    is ONE map-side-combined groupBy whose shuffle is distinct-pair-sized;
    the unigram LM and the two scalar totals are vocab-sized/1-row
    broadcasts probed map-side; the final top-k plans as
    TakeOrderedAndProject (per-partition heads, driver k-merge — never a
    global sort).
    """
    # materialize the token array as a projected column FIRST: referencing
    # tokens(text) directly inside the nested lambdas re-evaluates the
    # regex split per element (no CSE across lambda scopes) — measured 10x
    t = F.col("__t")
    n = F.size(t)
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.transform(
                F.sequence(F.lit(1), F.least(F.lit(window), n - i)),
                lambda o: F.struct(
                    F.least(F.element_at(t, i), F.element_at(t, i + o)).alias("a"),
                    F.greatest(F.element_at(t, i), F.element_at(t, i + o)).alias("b"),
                ),
            ),
        )
    )
    # sequence(1, 0) would yield [1, 0] (descending) — gate on n >= 2
    safe_pairs = F.when(n >= 2, pair_structs).otherwise(
        F.array().cast("array<struct<a:string,b:string>>")
    )
    pc = (
        df.select(tokens(F.col(text_col)).alias("__t"))
        .select(F.explode(safe_pairs).alias("p"))
        .select("p.a", "p.b")
        .filter((F.length("a") > 0) & (F.length("b") > 0))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("n_pair"))
    )
    # pc feeds two branches (its own scalar total + the output) and uni
    # three (total + both probe sides) — materialize each once or the
    # pair fan-out / corpus tokenize re-executes per branch (the
    # multi-branch hazard). Both are count tables (distinct-pair / vocab
    # sized), exactly what embedding-training pipelines persist.
    pc = pc.localCheckpoint(eager=True)
    uni = _word_freqs(df, text_col).localCheckpoint(eager=True)
    n_pairs = pc.agg(F.sum("n_pair").cast("double").alias("np"))
    n_tok = uni.agg(F.sum("freq").cast("double").alias("nt"))
    fa = F.broadcast(uni.select(F.col("w").alias("a"), F.col("freq").alias("ca")))
    fb = F.broadcast(uni.select(F.col("w").alias("b"), F.col("freq").alias("cb")))
    return (
        pc.crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(n_tok))
        .join(fa, "a")
        .join(fb, "b")
        .select(
            "a",
            "b",
            "n_pair",
            F.round(
                F.log(
                    (F.col("n_pair") / F.col("np"))
                    / ((F.col("ca") / F.col("nt")) * (F.col("cb") / F.col("nt")))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.col("n_pair").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(k)
    )


def _word_freqs(docs: DataFrame, text_col: str) -> DataFrame:
    """(w, freq) over the corpus — the ONE corpus-wide shuffle the BPE ops
    share (map-side combined token groupBy)."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )


def _vocab_layout(words: DataFrame, rows_per_partition: int = 50_000) -> DataFrame:
    """Right-size the checkpointed vocab table's partitioning to its actual
    cardinality: a synthetic corpus has a 30-word vocab where 32-partition
    rounds are pure task-scheduling overhead, while a 100 TB corpus has a
    ~100M-word vocab that keeps its parallel layout. count() on the
    checkpointed table is a vocab-scale single-stage job."""
    current = words.rdd.getNumPartitions()
    if current <= 1:
        # AQE already coalesced the vocab shuffle to one partition (the
        # tiny-vocab case) — nothing to lay out, so skip the count job
        # entirely (r17: it cost one fixed-latency job per BPE entry)
        return words
    n = words.count()
    target = max(1, min(current, n // rows_per_partition + 1))
    return words.coalesce(target) if target < current else words


# merge rounds between bpe_train's lineage truncations
BPE_CHECKPOINT_EVERY = 3


def bpe_train(
    docs: DataFrame,
    merges: int = C.BPE_MERGES,
    text_col: str = "text",
    word_freqs: DataFrame | None = None,
) -> DataFrame:
    """Distributed BPE-merge tokenizer training (Sennrich et al. 2016).

    Classic byte-pair-encoding over the whitespace-word frequency table:
    words start as character sequences; each round counts adjacent symbol
    pairs weighted by word frequency, picks the most frequent pair (ties
    to the lexicographically smallest (left, right)), and merges its
    occurrences greedily left-to-right in every word. Returns the merge
    TRAJECTORY — the trained tokenizer artifact — as
    (merge_rank, lhs, rhs, pair_count), one row per merge.

    Scale shape: ONE corpus-wide shuffle builds the word-frequency table
    (map-side combined token groupBy); every round after that runs on the
    vocab-sized table only — pair counting is a narrow-scalar shuffle with
    map-side partials, the argmax is TakeOrderedAndProject (no global
    sort), and the merge application is a pure codegen array fold. Driver
    data is exactly one (pair, count) row per round; the trajectory is
    merges-bounded, the same bounded-build-side contract as
    ``similarity.kmeans_train``. Lineage is truncated every
    ``BPE_CHECKPOINT_EVERY`` rounds — between checkpoints the merge folds
    stack lazily (depth ≤ interval, safely under the >30-step codegen
    hazard), so a round costs one argmax job, not argmax + materialize;
    the final round's merge is never materialized at all (the trajectory,
    not the segmented vocab, is the output).
    """
    spark = docs.sparkSession
    wf = word_freqs if word_freqs is not None else _word_freqs(docs, text_col)
    words = _vocab_layout(
        wf.select(F.split("w", "").alias("s"), "freq").localCheckpoint(eager=True)
    )
    pairs_expr = F.expr(
        "transform(sequence(1, size(s) - 1), i -> struct(s[i-1] AS a, s[i] AS b))"
    )

    def apply_merge_expr(a: str, b: str):
        # greedy left-to-right merge: fold each word's symbol array,
        # joining the accumulator's last element with the current symbol
        # when they equal (a, b); a just-merged tail never re-merges in
        # the same round because merged != a (b is non-empty)
        merged = a + b
        return F.aggregate(
            F.col("s"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.get(acc, F.size(acc) - 1) == F.lit(a)) & (x == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )

    trajectory: list[tuple[int, str, str, int]] = []
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
        if rank < merges:  # the final round's merge is never materialized
            words = words.select(apply_merge_expr(a, b).alias("s"), "freq")
            if rank % BPE_CHECKPOINT_EVERY == 0:
                words = words.localCheckpoint(eager=True)
    return spark.createDataFrame(
        trajectory, "merge_rank int, lhs string, rhs string, pair_count long"
    )


def bpe_encode(
    docs: DataFrame,
    merges: int = C.BPE_MERGES,
    text_col: str = "text",
) -> DataFrame:
    """Tokenize the corpus under a BPE model trained on it: per document,
    the word count, total subword count after applying the learned merges,
    and chars-per-subword (the compression the tokenizer achieves).

    Scale shape: the merge trajectory is trained by ``bpe_train`` (merges
    rows — bounded driver data), then applied to the DISTINCT-words table
    only — vocab-sized, one map-side-combined shuffle — as a chain of
    literal ``replace`` calls over the delimited symbol string (identical
    greedy leftmost-non-overlapping semantics to the train-side fold, in
    pure codegen). The corpus-sized side only explodes tokens and joins
    the per-word subword counts back (AQE broadcasts the vocab side when
    it fits; at 100 TB vocab scale it falls back to a shuffled join).
    """
    wf = _word_freqs(docs, text_col).localCheckpoint(eager=True)
    trajectory = bpe_train(
        docs, merges=merges, text_col=text_col, word_freqs=wf
    ).collect()
    word_toks = docs.select(
        "doc_id", F.explode(tokens(F.col(text_col))).alias("w")
    ).filter(F.length("w") > 0)
    # each symbol wrapped in single spaces -> adjacent symbols abut as '  ';
    # the replace chain is built from column functions (the literals are
    # data-derived, so no F.expr string splicing)
    sym = F.regexp_replace(F.col("w"), "(.)", " $1 ")
    for r in trajectory:
        a, b = r["lhs"], r["rhs"]
        sym = F.replace(sym, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    # segmentation on the SAME checkpointed vocab table the trainer used —
    # no second corpus-wide distinct
    per_word = _vocab_layout(wf).select(
        "w", F.size(F.split(F.trim(sym), "  ")).cast("long").alias("n_sub")
    )
    return (
        word_toks.join(per_word, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subwords"),
            F.round(
                F.sum(F.length("w")) / F.sum("n_sub"), 4
            ).alias("chars_per_subword"),
        )
    )


def frequent_values(df: DataFrame, col: str, k: int = C.HH_K) -> DataFrame:
    """Exact heavy hitters of ANY string column (values with count >
    total/k) via a Misra-Gries candidate pass + an exact verification
    pass — the two-pass heavy-hitter pattern that stays bounded-memory at
    any data size (the dimension-profiling primitive).

    Pass 1 runs an Arrow-batched Misra-Gries summary per partition inside
    ``mapInPandas``: value_counts per batch merged into ≤ k counters, with
    the batched decrement (subtract the (k+1)-th largest count from all,
    drop non-positive) — each unit of decrement drains ≥ k+1 total count,
    so per-partition undercount ≤ n_p/(k+1) and any value with global
    count > total/k MUST survive in at least one partition's summary (the
    merged candidate set is a guaranteed superset of the true heavies).
    The summary comes back to the driver in one collect: at most
    partitions x (k+1) rows, whatever the row count. Pass 2
    broadcast-semi-joins the ≤ partitions·k candidates back onto the
    value stream and counts them EXACTLY, so the emitted rows are
    deterministic regardless of partitioning/batch order; the sketch only
    bounds the candidate set. Scale shape: two scans, a map-side
    candidate filter, one value-keyed partial agg over candidates only —
    no full-cardinality shuffle at all.
    """
    import pandas as pd

    vals = df.select(F.col(col).alias("__v"))

    # the summarize pass also emits each partition's row count as a
    # NULL-value sentinel row (the sketch_quantiles offset trick), so the
    # scalar total rides the sketch scan instead of costing the corpus a
    # third full read — the op is exactly the two scans it claims
    def mg(batches):
        counters = pd.Series(dtype="int64")
        n_rows = 0
        for pdf in batches:
            n_rows += len(pdf)
            vc = pdf["__v"].value_counts()
            counters = counters.add(vc, fill_value=0)
            if len(counters) > k:
                counters = counters.sort_values(ascending=False, kind="stable")
                counters = counters - counters.iloc[k]
                counters = counters[counters > 0]
        yield pd.DataFrame(
            {
                "__v": list(counters.index.astype(str)) + [None],
                "__n": [0] * len(counters) + [n_rows],
            }
        )

    summary = vals.mapInPandas(mg, "__v string, __n long").toPandas()
    cand = df.sparkSession.createDataFrame(
        [(v,) for v in summary["__v"].dropna().unique()], "__v string"
    )
    exact = (
        vals.join(F.broadcast(cand), "__v")
        .groupBy(F.col("__v").alias(col))
        .agg(F.count("*").cast("long").alias("n"))
    )
    return exact_share_filter(exact, int(summary["__n"].sum()), col, k)


def exact_share_filter(
    counts: DataFrame, total: int, value_col: str, k: int
) -> DataFrame:
    """The heavy-hitter emission convention, in ONE place so the batch
    (frequent_values) and streaming (the ``heavy_hitters`` declaration in
    ``queries.TWINS``) legs can never drift from their shared oracle: keep
    rows of ``counts`` (value column, ``n``) whose exact count exceeds
    ``total``/k, with the share rounded to 6 dp. ``total`` is the
    driver-side integer row total, so it enters as a literal and no
    value column name can collide with it. ``n``/``share`` are the
    OUTPUT count/share names, so those two value names are rejected up
    front instead of emitting an ambiguous schema."""
    if value_col in ("n", "share"):
        raise ValueError(
            f"value_col {value_col!r} collides with the output count/share "
            "columns — alias the profiled column first"
        )
    return counts.filter(F.col("n") * k > F.lit(total)).select(
        value_col,
        "n",
        F.round(F.col("n") / F.lit(total), 6).alias("share"),
    )


def heavy_hitters(df: DataFrame, text_col: str = "text", k: int = C.HH_K) -> DataFrame:
    """Exact corpus token heavy hitters: tokenize, then frequent_values
    over the exploded token stream (see frequent_values for the
    Misra-Gries candidate + exact-verify design and its guarantees)."""
    tok = df.select(F.explode(tokens(F.col(text_col))).alias("token"))
    return frequent_values(tok, "token", k)


def quality_gate_stateless(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The documents ``quality_filter`` keeps, without the ``keep``
    column: a stateless append-mode projection, the streaming gate's
    form (no per-doc aggregation, so no corpus-sized state)."""
    return quality_filter(df, text_col).filter("keep").drop("keep")


def bm25_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """BM25's extraction table — the lowercased (doc_id, term) stream, a
    stateless per-row fan-out, so a stream computes it at ingest."""
    return docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    ).filter(F.length("term") > 0)


def bm25_from_tokens(
    tok: DataFrame,
    query: tuple[str, ...] = C.BM25_QUERY,
    k1: float = C.BM25_K1,
    b: float = C.BM25_B,
    topk: int = C.BM25_TOPK,
) -> DataFrame:
    """Okapi BM25 top-k retrieval for a fixed query-term set over a
    ``bm25_tokens`` frame, live (batch) or drained (stream). Output:
    (rnk, doc_id, n_hits, score_micro, score) — score in integer
    micro-units plus the descaled double. The BM25 corpus is the
    documents with >= 1 token (N and both scalars derive from the
    per-doc length table, no second corpus scan).

    Scale shape: one doc_id-keyed token shuffle for the lengths; the
    per-term document frequencies are query-sized and broadcast; top-k
    is TakeOrderedAndProject.

    Float discipline: every contribution is ONE fixed expression dag
    over integer inputs (tf, df, dl, N, L) and rounds half-away to int
    MICRO-UNITS before the per-doc sum, so summation is exact in any
    partition order; the single ln is engine-consistent at 6 dp (the
    ex_tfidf precedent). The oracle replays the identical expression
    text."""
    dl = tok.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    # dl feeds the scalar reduction AND the per-doc probe — freeze the
    # doc-sized table once (the multi-branch rule)
    dl = dl.localCheckpoint(eager=True)
    scalars = F.broadcast(
        dl.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("total_len"),
        )
    )
    qterms = F.array(*[F.lit(t) for t in query])
    qtok = tok.filter(F.array_contains(qterms, F.col("term")))
    qdf = F.broadcast(
        qtok.groupBy("term").agg(F.countDistinct("doc_id").cast("long").alias("df"))
    )
    tf = qtok.groupBy("doc_id", "term").agg(F.count("*").cast("long").alias("tf"))
    contrib = (
        tf.join(dl, "doc_id")
        .join(qdf, "term")
        .crossJoin(scalars)
        .withColumn(
            "c_micro",
            F.expr(
                "CAST(floor("
                "ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
                " / (CAST(df AS DOUBLE) + 0.5))"
                f" * ((CAST(tf AS DOUBLE) * ({k1!r} + 1.0))"
                f" / (CAST(tf AS DOUBLE) + {k1!r} * (1.0 - {b!r} + {b!r}"
                " * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)"
                " / CAST(total_len AS DOUBLE)))))"
                f" * {C.BM25_SCALE}.0 + 0.5) AS BIGINT)"
            ),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_hits"),
        F.sum("c_micro").cast("long").alias("score_micro"),
    )
    from pyspark.sql import Window

    # the row_number window runs AFTER the top-k limit — topk rows only
    return (
        scored.orderBy(F.col("score_micro").desc(), F.col("doc_id"))
        .limit(topk)
        .select(
            F.row_number()
            .over(Window.orderBy(F.col("score_micro").desc(), F.col("doc_id")))
            .alias("rnk"),
            "doc_id",
            "n_hits",
            "score_micro",
            (F.col("score_micro").cast("double") / F.lit(float(C.BM25_SCALE))).alias(
                "score"
            ),
        )
    )
