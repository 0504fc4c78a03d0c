"""Shared constants + portable expression fragments.

Every extension operator is checked against a DuckDB oracle, so the
*semantics* (tokenizer, hash construction, thresholds, tie-breaks) are
defined once here and consumed by both the Spark implementation
(espkinesis_spark.functions.*) and the oracle SQL (espkinesis_spark.oracles).
All hashing bottoms out in md5 — the one hash both engines compute
identically.
"""

from __future__ import annotations

import re

# --- tokenization -----------------------------------------------------------
# Whitespace tokenizer over trimmed text. Spark `split` and DuckDB
# `string_split_regex` agree on this pattern for non-empty trimmed input.
TOKEN_SPLIT_RE = r"\s+"
_TOKEN_SPLIT = re.compile(TOKEN_SPLIT_RE, re.ASCII)


def split_tokens(text: str) -> list[str]:
    """The ``text.tokens()`` contract in Python, for the Arrow kernels: Spark's
    ``trim`` strips only ' ' and Java's ``\\s`` is ASCII-only, so a plain
    ``str.strip()`` / Unicode ``\\s`` split would diverge on tab-edged text
    and on U+00A0 / U+2003."""
    return _TOKEN_SPLIT.split(text.strip(" "))


# BPE-ish pretokenizer (letters | digits | single other-symbol), shared by
# token counting. ASCII-only so Java regex and RE2 agree.
PRETOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

# --- shingling / MinHash ----------------------------------------------------
SHINGLE_WORDS = 3  # word 3-grams
MINHASH_K = 32  # permutations
LSH_BANDS = 16  # 16 bands x 2 rows — P(miss | jaccard 0.8) ~ 0.36^16 ~ 8e-8
LSH_ROWS = MINHASH_K // LSH_BANDS
JACCARD_THRESHOLD = 0.5  # the test corpus has a clean gap: dups >=0.8, noise <0.3
# containment C(A,B) = |A∩B|/|A| — catches subset/boilerplate duplicates
# whose Jaccard stays low because the containing doc is much larger
CONTAIN_THRESHOLD = 0.8

# decontamination apply: drop a training doc when it shares at least this
# many distinct shared shingles with the held-out set (1 = any
# overlap; >1 tolerates incidental common phrases)
DECON_MIN_SHARED = 3

# winnowing (Schleimer et al. 2003): window of WINNOW_W consecutive trigram
# hashes → min per window is a fingerprint; shared runs of
# WINNOW_W + SHINGLE_WORDS - 1 tokens always share one. The df cap drops
# boilerplate fingerprints (join-fanout bound at corpus scale).
WINNOW_W = 4
WINNOW_MIN_SHARED = 2
WINNOW_MAX_DF = 50

# MinHash permutation family: ONE md5 per shingle -> 60-bit int h, then
# sig_j = min((A_j * (h % P) + B_j) % P) — a universal-hash permutation per j.
# 32 multiply-mods replace 32 md5s per shingle (the md5-per-permutation form
# was an allocation storm: ~150M hash strings at sf0.1). P = 2^31 - 1 keeps
# A_j * h' + B_j < 2^62 (no int64 overflow in either engine).
MINHASH_P = 2_147_483_647


def _lcg_constants(n: int, seed: int, lo: int) -> tuple[int, ...]:
    out, x = [], seed
    while len(out) < n:
        x = (x * 6_364_136_223_846_793_005 + 1_442_695_040_888_963_407) % (1 << 63)
        out.append(lo + x % (MINHASH_P - lo))
    return tuple(out)


MINHASH_A = _lcg_constants(MINHASH_K, seed=42, lo=1)  # multipliers in [1, P)
MINHASH_B = _lcg_constants(MINHASH_K, seed=4242, lo=0)  # offsets in [0, P)

# --- SimHash ----------------------------------------------------------------
SIMHASH_BITS = 48  # fits exactly in a signed 64-bit int via sum(2^j)

# --- embeddings -------------------------------------------------------------
COSINE_ROUND = 6  # round cosine to 6 dp before any argmax/threshold
NEARDUP_COSINE = 0.45
ANN_TOPK = 5
ANN_QUERY_MAX_ID = 20
IVF_CENTROID_MOD = 25  # centroids = vecs with vec_id % 25 == 0
IVF_NPROBE = 4
IVF_TOPK = 3
KNN_GRAPH_K = 5  # degree cap for the approximate kNN graph
KNN_BUCKET_TARGET = 64  # target vecs/bucket for knn_graph_auto_bits
# product quantization: M subspaces over the 64-dim embeddings, K codes
# per subspace (uint8-representable: a vector compresses to PQ_M bytes),
# fixed Lloyd budget like KMEANS_ITERS. M=16/K=64 measured recall@5 0.54
# vs brute force on this corpus (M=4/K=16 read 0.14 — the config sweep
# lives in NOTES.md); 16 bytes/vector = 16x over float32.
PQ_M = 16
PQ_K = 64
PQ_ITERS = 2

# --- language-id stopword lists (deterministic heuristic) -------------------
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in"),
    "es": ("el", "la", "de", "y", "que", "en", "un"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "les", "et", "est", "une", "du"),
}
LANG_ORDER = ("en", "es", "de", "fr")  # tie-break priority

# quality-score weights (applied to already-rounded components for stability)
QUALITY_STOPWORD_W = 0.4
QUALITY_LENGTH_W = 0.3
QUALITY_CLEAN_W = 0.3
QUALITY_LENGTH_NORM = 50.0  # n_tokens / 50 capped at 1

# rolling-hash fingerprint parameters
ROLLING_BASE = 131
ROLLING_MOD = 1_000_000_007
ROLLING_MAX_CHARS = 64

# sessionization gap
SESSION_GAP_MINUTES = 30

# PII scrubbing patterns — kept to syntax shared by Java regex (Spark) and
# RE2 (DuckDB): character classes, +, bounded repetition only
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_NUMBER_RE = "[0-9]{6,}"

# repetition-aware quality-gate thresholds (compared on 4-dp-rounded ratios)
QF_MIN_TOKENS = 20
QF_MAX_TOP_FRAC = 0.25  # max share of the single most frequent token
QF_MIN_MEAN_LEN = 2.0
QF_MAX_MEAN_LEN = 10.0

# vocabulary build
VOCAB_TOP_K = 100

# BPE-merge tokenizer training: fixed merge budget (production would use
# ~30k; the trajectory shape is budget-independent)
BPE_MERGES = 6

# symmetric int8 embedding quantization
QUANT_LEVELS = 127

# k-means centroid training (deterministic init + fixed round budget)
KMEANS_K = 8
KMEANS_ITERS = 2

# SemDeDup cluster sizing: k auto-scales as max(KMEANS_K, n // TARGET) so
# the per-cluster pairwise work stays ~TARGET²/2 regardless of corpus size
# (fixed k would make the pair count O(n²/k) — quadratic). At oracle scales
# (n <= KMEANS_K * TARGET) the auto-k equals KMEANS_K, so the SQL replay
# stays exact.
SEMDEDUP_TARGET_CLUSTER = 1024

# add-alpha smoothing for the bigram LM quality score
BIGRAM_ALPHA = 0.5

# dedup-normalization accent fold: a fixed codepoint translate map (kept
# identical in Spark translate() and DuckDB translate() — neither engine's
# locale-dependent strip-accents is used, so both fold identically)
ACCENT_SRC = "áàâäãåéèêëíìîïóòôöõúùûüçñýÿ"
ACCENT_DST = "aaaaaaeeeeiiiiooooouuuucnyy"

# PageRank: standard damping, fixed iteration budget (the trajectory is
# replayed in SQL iteration-by-iteration, so the budget is unrolled — keep
# it small; centrality orderings stabilize in a few rounds)
PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 3

# windowed token co-occurrence (word-embedding prep): pair each token with
# its next COOCCUR_WINDOW neighbors; report the COOCCUR_TOP_K most frequent
# unordered pairs with their PMI
COOCCUR_WINDOW = 2
COOCCUR_TOP_K = 100

# document chunking (characters)
CHUNK_SIZE = 200
CHUNK_OVERLAP = 50

# exact-substring span dedup (Lee et al. 2022 shape): window length in
# tokens. The Spark implementation orders first occurrences by the
# lexicographic struct (doc_id, pos) — no collision bound. SPAN_ORD_BASE
# survives only for the DuckDB oracle's ordinal encoding
# (doc_id * base + pos), valid while every document has < 1M tokens —
# always true for the test corpora the oracle runs on.
SPAN_TOKENS = 10
SPAN_ORD_BASE = 1_000_000


# label-propagation communities: synchronous updates with a fixed round
# budget (trajectory unrolled in the SQL oracle like pagerank/kmeans); ties
# in the neighbor-label vote break to the lexicographically-smallest label
# so both engines converge identically.
LPA_ITERS = 3

# hashed-feature linear quality model: feature-hash modulus and the
# multiplicative-hash weight derivation (weights are a DETERMINISTIC
# placeholder table — a trained fasttext/logreg weight vector plugs into
# the identical plumbing; all arithmetic stays in exact integers until
# one final division so both engines score bit-identically)
QM_MOD = 1_000_003  # prime: weight-table size / integer-weight modulus
QM_MULT = 2_654_435_761  # Knuth multiplicative-hash constant

# multimodal perceptual near-dup: the dHash grid (9 cols x 8 rows -> 64
# gradient bits) sampled at a FIXED character stride over the document
# prefix (a length-normalized stride would shift every sample when a
# near-dup edit changes the length, destroying locality), and the audio
# energy-envelope fingerprint (32 windows of 8 samples -> 31 bits).
# Hash bits split into HAM_BAND_BITS-wide bands for the LSH candidate
# join. Recall contract (hamming_neardup docstring has the full form):
# a pair within radius r is GUARANTEED a shared band only while
# r < n_bands (pigeonhole); the configured radii sit ABOVE that bound
# (IMG_HAM_MAX=6 > 3, AUD_HAM_MAX=3 > 1), so candidates in the 4..6 /
# 2..3 tails are probabilistic-recall LSH, as in any banded scheme.
# At cluster scale band width trades candidate volume against recall
# exactly like the SimHash bands in dedup.py.
IMG_DHASH_COLS = 9
IMG_DHASH_ROWS = 8
IMG_STRIDE = 4  # sample every 4th char -> needs 288 chars
IMG_MIN_CHARS = IMG_DHASH_COLS * IMG_DHASH_ROWS * IMG_STRIDE
IMG_HAM_MAX = 6
AUD_FP_SAMPLES = 256
AUD_FP_WINDOW = 8  # 32 windows -> 31 gradient bits (bit 31 = 0 pad)
AUD_HAM_MAX = 3
HAM_BAND_BITS = 16
# video-shape near-dup: docs sharing >= VID_SHARED_FRAMES distinct
# sampled-keyframe hashes pair up; hashes in more than VID_FRAME_DF_CAP
# docs are dropped first (the hot-shingle guard — a boilerplate frame
# shared by k docs would otherwise emit k^2/2 pairs)
VID_SHARED_FRAMES = 2
VID_FRAME_DF_CAP = 64

# embedding-covariance fixed point: embeddings quantize to integer
# EG_QUANT-ths (sign-aware half-away, the timeseries convention) so the
# gramian / sum / count accumulate as EXACT integers in any partition
# order — the only floats are one final integral-divide-derived 6-dp
# value per (i, j) cell, bit-identical cross-engine by construction.
EG_QUANT = 1_000_000

# exact sketch-narrowed quantiles: per-partition summary size (order
# statistics per partition) and the reported percentile levels. The
# output is EXACT for any SKQ_SUMMARY >= 2 — the summary only bounds the
# candidate interval (rank slack <= 2n/SKQ_SUMMARY rows), so the constant
# trades pass-2 interval size against summary size, never correctness.
SKQ_SUMMARY = 64
SKQ_PCTS = (1, 25, 50, 75, 99)

# mergeable log-bucketed quantile sketch (the HdrHistogram bucketing:
# bucket = (shift, top) with top carrying the HDR_SUB_BITS+1 leading
# bits): guaranteed relative error < 2^-HDR_SUB_BITS on the reported
# bucket lower bound, sketch size <= 64 * 2^(HDR_SUB_BITS+1) buckets
# regardless of data size, and merge = integer bucket-count addition
# (associative AND commutative, so the result is bit-identical for every
# partitioning / micro-batch order — the property float t-digest
# centroids cannot give, and why this sketch backs the streaming leg).
HDR_SUB_BITS = 7
# fixed-point input scale: values quantize to integer 1/HDR_SCALE units
# (sign-aware half-away, the EG_QUANT convention) before bucketing.
HDR_SCALE = 100

# heavy hitters: Misra-Gries candidate capacity per partition; the exact
# second pass keeps tokens whose TRUE count exceeds total/HH_K, so the
# output is exact (the sketch only bounds the candidate set).
HH_K = 100

# largest-triangle downsampling: number of output buckets over the event
# time range. Anchors are the neighbor buckets' mean points (the
# fixed-anchor LTTB variant — bucket selections stay independent, so the
# argmax distributes; canonical LTTB chains selections sequentially).
LTTB_BUCKETS = 48
LTTB_AREA_ROUND = 4  # round triangle areas before argmax (engine-portable)

# canonical (sequential, chained-anchor) LTTB: buckets per series. The
# oracle unrolls the chain step-by-step (buckets-2 interior steps), so
# keep it small; the per-series kernel itself takes any bucket count.
LTTB_SEQ_BUCKETS = 12

# time-series subsequence similarity search (EDBT-2019 streaming-similarity
# shape): z-normalized Euclidean distance between a query pattern and every
# W-length per-user sliding window, top-k closest. The query pattern is the
# lowest-(ts, event_id) window of TSS_QUERY_USER — fully in-plan, no
# side-channel input. All folds are sequential left-to-right in BOTH
# engines, so distances are bit-identical before the final 6-dp round.
TSS_W = 16
TSS_TOPK = 20
TSS_QUERY_USER = 0


# Okapi BM25 retrieval scoring: classic constants, a fixed deterministic
# query-term set drawn from the corpus vocabulary, and micro-unit integer
# score accumulation (each per-(doc, term) contribution is a fixed dag of
# correctly-rounded float ops over integer inputs + ONE ln — empirically
# engine-consistent at 6 dp, the ex_tfidf precedent — rounded to int
# micro-units BEFORE the per-doc sum, so the summation is exact integer
# arithmetic and partition-order independent).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ("join", "merge", "sort")
BM25_TOPK = 20
BM25_SCALE = 1_000_000


# Z-order (Morton) data layout: bits per dimension (the z-value is
# 2*ZORDER_BITS wide) and the layout-report bucket = the z-value's top
# ZORDER_REPORT_BITS bits (64 buckets = top 3 bits of EACH dimension, so
# every bucket is simultaneously one user-range and one time-range —
# the point of the curve). All exact integer bit math in both engines.
ZORDER_BITS = 16
ZORDER_REPORT_BITS = 6

# semantic clustering over the mutual kNN graph: keep only STRONG edges
# (6-dp rounded cosine >= this) before connected components — the raw
# mutual 5-NN graph percolates into one giant component on any corpus
# (measured: 1 cluster at every SF), so the threshold is what makes the
# clusters semantic neighborhoods instead of the whole graph. 0.3 keeps
# multi-cluster structure at every fixture SF (59 clusters at sf0.001,
# 102 at sf0.1 — swept in NOTES.md).
KNN_CLUSTER_MIN_COS = 0.3

# two-phase (salted) class-balance top-m: phase-1 partial top-m per
# (class, doc_id % BALANCE_SALTS) slice bounds every sort to ~rows/SALTS;
# phase 2 re-ranks the <= SALTS*m survivors. Lossless: a global top-m row
# is necessarily in its slice's top-m.
BALANCE_SALTS = 64

# CCNet perplexity terciles (Wenzek et al. 2020): thresholds are exact
# DISCRETE quantiles over integer micro-unit scores (4-dp LM score x 10^4)
# — no float interpolation, so both engines cut at identical values; a
# score equal to a threshold takes the lower bucket.
PPL_SCALE = 10_000
