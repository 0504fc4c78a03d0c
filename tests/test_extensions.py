"""Extension-operator behavior tests beyond the oracle parity suite."""

from __future__ import annotations

import pytest
from hypothesis import Phase
from pyspark.sql import functions as F

from espkinesis_spark.functions import common as C
from espkinesis_spark.functions import dedup, multimodal, similarity
from espkinesis_spark.tables import load_table

_NO_SHRINK = (Phase.explicit, Phase.reuse, Phase.generate)  # each shrink step is a Spark job


def test_wav_codec_round_trip():
    samples = bytes(range(256)) * 3
    payload = multimodal.encode_wav(samples, sample_rate=16000, channels=1)
    d = multimodal.decode_wav(payload)
    assert d["modality"] == "audio" and d["sample_rate"] == 16000
    assert bytes(d["samples"]) == samples
    # dispatcher sniffs the container and cross-checks declared modality
    assert multimodal.decode_media(payload)["sample_rate"] == 16000
    with pytest.raises(ValueError, match="modality mismatch"):
        multimodal.decode_media(payload, "image")


def test_bmp_codec_round_trip():
    pixels = [[(x * 10, y * 20, x + y) for x in range(5)] for y in range(3)]
    payload = multimodal.encode_bmp(pixels)
    d = multimodal.decode_bmp(payload)
    assert (d["width"], d["height"]) == (5, 3)
    assert d["pixels"] == pixels  # row padding + bottom-up order round-trips
    assert multimodal.decode_media(payload)["modality"] == "image"


def test_bmp_codecs_reject_top_down_height():
    """Negative (top-down) height is rejected LOUDLY by both codecs so the
    pinned decode_bmp == _decode_bmp_gray_np contract holds for all
    inputs (ADVICE r7: the reference codec returned an empty grid while
    the numpy twin raised from reshape)."""
    import struct as _struct

    payload = bytearray(multimodal.encode_bmp([[(1, 2, 3), (4, 5, 6)]]))
    payload[22:26] = _struct.pack("<i", -1)  # height = -1 (top-down)
    for fn in (multimodal.decode_bmp, multimodal._decode_bmp_gray_np):
        with pytest.raises(ValueError, match="unsupported BMP dims"):
            fn(bytes(payload))


def test_decode_media_rejects_unknown_and_malformed():
    with pytest.raises(ValueError, match="unknown media container"):
        multimodal.decode_media(b"abc")
    with pytest.raises(ValueError, match="missing fmt/data"):
        multimodal.decode_media(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError, match="not a BMP"):
        multimodal.decode_bmp(b"BM123")


def test_multimodal_features_decode_real_wav(spark, sf_dir):
    """The feature path must parse actual WAV containers — features equal
    plain byte statistics of the text the payload encodes."""
    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = multimodal.synthesize_wav(docs)
    feats = {r["doc_id"]: r for r in multimodal.extract_features(media).collect()}
    for r in docs.select("doc_id", "text").collect():
        bs = r["text"].encode("utf-8")
        f = feats[r["doc_id"]]
        assert (f["modality"], f["n_units"], f["sample_rate"], f["channels"]) == (
            "audio", len(bs), multimodal.WAV_RATE, 1,
        )
        assert f["sum_val"] == sum(bs) and f["peak_val"] == max(bs)


def test_multimodal_features_decode_bmp(spark):
    pixels = [[(9, 8, 7), (1, 2, 3)], [(200, 100, 0), (0, 0, 255)]]
    payload = multimodal.encode_bmp(pixels)
    media = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    (row,) = multimodal.extract_features(media).collect()
    flat = [c for prow in pixels for px in prow for c in px]
    assert (row["modality"], row["n_units"], row["channels"]) == ("image", 4, 3)
    assert row["sum_val"] == sum(flat) and row["peak_val"] == 255


def test_lsh_candidates_superset_of_true_pairs(spark, sf_dir):
    """The LSH path must not miss any pair above the Jaccard threshold
    (recall check backing the shared oracle of ex_neardup_minhash/jaccard)."""
    docs = load_table(spark, sf_dir, "documents")
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.neardup_minhash(docs).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.neardup_jaccard_exact(docs).collect()
    }
    assert lsh == exact, f"LSH missed {exact - lsh} / extra {lsh - exact}"
    assert exact, "fixture has no near-dup pairs; threshold too high"


def test_ivf_recall_against_bruteforce(spark, sf_dir):
    """IVF top-3 should mostly agree with exact top-3 (sanity, not oracle)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < C.ANN_QUERY_MAX_ID)
    exact = {
        (r["vec_id"], r["neighbor_id"])
        for r in similarity.topk_bruteforce(q, emb, k=C.IVF_TOPK).collect()
    }
    ivf = {
        (r["vec_id"], r["neighbor_id"])
        for r in similarity.topk_ivf(emb).collect()
    }
    recall = len(exact & ivf) / len(exact)
    # probing 4 of 20 buckets over weakly-clustered vectors: ~0.48 observed,
    # vs 0.2 for random probing. The IVF query itself has an exact oracle;
    # this bound only guards against the candidate routing breaking entirely.
    assert recall >= 0.35, f"IVF recall collapsed: {recall}"


def test_minhash_signature_is_stable_minimum(spark, sf_dir):
    """Signature values must be genuine minima of the permuted hash set."""
    import hashlib

    docs = load_table(spark, sf_dir, "documents").limit(5)
    sh = dedup.shingles(docs)
    sig = dedup.minhash_signatures(sh, k=2).collect()
    by_doc = {}
    for r in sh.collect():
        h = int(hashlib.md5(r["s"].encode()).hexdigest()[:15], 16) % C.MINHASH_P
        by_doc.setdefault(r["doc_id"], []).append(
            (C.MINHASH_A[0] * h + C.MINHASH_B[0]) % C.MINHASH_P
        )
    for r in sig:
        assert r["sig00"] == min(by_doc[r["doc_id"]])


def test_jaccard_df_cap_equivalence(spark, sf_dir):
    """Capped candidate generation (verification on full shingle sets) must
    reproduce the uncapped output whenever every surviving pair shares at
    least one sub-cap shingle; a low cap exercises the capped join path."""
    docs = load_table(spark, sf_dir, "documents")
    uncapped = sorted(map(tuple, dedup.neardup_jaccard_exact(docs).collect()))
    capped = sorted(map(tuple, dedup.neardup_jaccard_exact(docs, df_cap=5).collect()))
    assert capped == uncapped
    assert uncapped, "fixture has no near-dup pairs"


def test_dedup_clusters_chain_and_disjoint(spark):
    """A 5-node chain (worst diameter) must collapse to one cluster; a
    disjoint pair stays its own cluster; singletons (docs in no pair)
    are absent by contract."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "doc_a long, doc_b long"
    )
    got = {(r["doc_id"], r["cluster_id"]) for r in dedup.dedup_clusters(pairs).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 10)}


def _components_model(pairs):
    """Union-find reference for dedup_clusters: (doc_id, cluster_id) with
    cluster_id = the component minimum, for every doc named in a pair."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # the root stays the minimum
    return {(x, find(x)) for x in parent}


def test_dedup_clusters_equals_union_find_model(spark):
    """The local-contraction rounds equal the union-find model on a mixed
    graph (chains + shared hubs + disjoint components)."""
    edges = (
        [(i, i + 1) for i in range(100, 120)]  # 21-node chain
        + [(200, 200 + i) for i in range(1, 8)]  # star hub
        + [(300, 301), (301, 302), (300, 302)]  # triangle
        + [(7, 400), (400, 8)]  # bridge joining small ids
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {(r["doc_id"], r["cluster_id"]) for r in dedup.dedup_clusters(pairs).collect()}
    assert got == _components_model(edges)


def test_dedup_clusters_property_union_find(spark):
    """Random ``doc_a < doc_b`` pair lists — the shape every pair source
    emits — cluster exactly as the union-find model says."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    node = st.integers(0, 40)
    pair = st.tuples(node, node).filter(lambda p: p[0] != p[1]).map(lambda p: tuple(sorted(p)))

    @settings(max_examples=10, deadline=None, phases=_NO_SHRINK)
    @given(st.lists(pair, max_size=40))
    def run(edges):
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {(r["doc_id"], r["cluster_id"]) for r in dedup.dedup_clusters(pairs).collect()}
        assert got == _components_model(edges)

    run()


def test_dedup_clusters_property_across_partitions(spark):
    """With AQE coalescing off and 7 shuffle partitions every round runs
    over many tasks, so components span partitions: random graphs and
    randomly permuted chains (long enough to reach every partition)
    cluster exactly as the union-find model says."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    node = st.integers(0, 60)
    pair = st.tuples(node, node).filter(lambda p: p[0] != p[1]).map(lambda p: tuple(sorted(p)))

    @st.composite
    def chain(draw):
        ids = draw(st.permutations(range(draw(st.integers(30, 120)))))
        return [tuple(sorted(p)) for p in zip(ids, ids[1:])]

    @settings(max_examples=6, deadline=None, phases=_NO_SHRINK)
    @given(st.one_of(st.lists(pair, min_size=1, max_size=80), chain()))
    def run(edges):
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = [(r["doc_id"], r["cluster_id"]) for r in dedup.dedup_clusters(pairs).collect()]
        assert len(got) == len(set(got))
        assert set(got) == _components_model(edges)

    keys = ("spark.sql.adaptive.coalescePartitions.enabled", "spark.sql.shuffle.partitions")
    saved = [spark.conf.get(k) for k in keys]
    spark.conf.set(keys[0], "false")
    spark.conf.set(keys[1], "7")
    try:
        run()
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v)


def test_dedup_clusters_star_handles_long_chain_in_log_rounds(spark):
    """A 64-node chain has diameter 63; the contraction rounds must
    converge in O(log n) rounds, far under the default budget."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "doc_a long, doc_b long"
    )
    got = {(r["doc_id"], r["cluster_id"]) for r in dedup.dedup_clusters(pairs).collect()}
    assert got == {(i, 1) for i in range(1, 65)}


def test_dedup_clusters_raises_when_not_a_fixpoint(spark):
    """An exhausted round budget raises instead of returning split
    clusters: the 64-node chain is no fixpoint after one round."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="not a fixpoint"):
        dedup.dedup_clusters(pairs, max_iters=1)


def test_hash_split_raises_on_null_key(spark):
    from espkinesis_spark.functions import sampling

    df = spark.createDataFrame([(1, "a"), (None, "b")], "k long, v string")
    with pytest.raises(Exception, match="null key"):
        sampling.hash_split(df, "k").collect()
    with pytest.raises(Exception, match="null key"):
        sampling.stratified_sample(df, "v", {"a": 50}, 50, "k").collect()
    # explicit opt-out keeps the propagating-null behavior
    out = df.withColumn("b", sampling.hash_bucket(F.col("k"), on_null="null")).collect()
    assert {r["k"]: r["b"] is None for r in out} == {1: False, None: True}


def test_hash_split_partitions_every_row_exactly_once(spark, sf_dir):
    from espkinesis_spark.functions import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.hash_split(docs, "doc_id", {"train": 90, "val": 5, "test": 5})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == docs.count()
    assert set(counts) <= {"train", "val", "test"} and counts["train"] > counts["val"]
    # determinism: same assignment on recompute
    a = {(r["doc_id"], r["split"]) for r in out.select("doc_id", "split").collect()}
    b = {(r["doc_id"], r["split"]) for r in out.select("doc_id", "split").collect()}
    assert a == b


def test_hash_split_rejects_bad_percentages(spark):
    import pytest as _pytest

    from espkinesis_spark.functions import sampling

    df = spark.range(1)
    with _pytest.raises(ValueError):
        sampling.hash_split(df, "id", {"train": 50, "val": 10})


def test_stratified_sample_is_subset_and_respects_rates(spark, sf_dir):
    from espkinesis_spark.functions import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.stratified_sample(docs, "lang", {"en": 0}, default_pct=100, key_col="doc_id")
    langs = {r["lang"] for r in out.select("lang").distinct().collect()}
    assert "en" not in langs and langs  # en fully dropped, others fully kept
    assert out.count() == docs.filter(F.col("lang") != "en").count()


def test_lsh_band_tuning_recall_tradeoff(spark, sf_dir):
    """Fewer bands x more rows per band = stricter buckets = candidates can
    only shrink; invalid configs are rejected."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(dedup.shingles(docs))
    default = {(r["doc_a"], r["doc_b"]) for r in dedup.lsh_candidates(sigs).collect()}
    strict = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidates(sigs, bands=8, rows=4).collect()
    }
    assert strict <= default and default
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.lsh_candidates(sigs, bands=20, rows=4)


def test_dup_spans_constructed_corpus(spark):
    """Hand-built corpus with known span overlaps: doc 1 and doc 2 share
    their full 10-token text (doc 2's occurrence is the cut one); doc 3 is
    unique; doc 4 repeats doc 1's window at a different position inside a
    12-token text. Short docs (<10 tokens) emit no report row."""
    from espkinesis_spark.functions import dedup

    base = "a b c d e f g h i j"  # exactly 10 tokens
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact duplicate -> its 1 span is dup + cut
            (3, "k l m n o p q r s t"),  # unique 10 tokens
            (4, "x y " + base),  # 12 tokens: spans at pos 1..3; pos 3 == base
            (5, "too short"),  # 2 tokens -> no row
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.dup_spans(docs).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert (out[1]["n_spans"], out[1]["n_dup"], out[1]["n_cut"]) == (1, 1, 0)
    assert (out[2]["n_spans"], out[2]["n_dup"], out[2]["n_cut"]) == (1, 1, 1)
    assert (out[3]["n_spans"], out[3]["n_dup"], out[3]["n_cut"]) == (1, 0, 0)
    # doc 4: 3 spans, only the one equal to `base` (pos 3) is dup+cut
    assert (out[4]["n_spans"], out[4]["n_dup"], out[4]["n_cut"]) == (3, 1, 1)
    assert out[2]["dup_ratio"] == 1.0 and out[4]["dup_ratio"] == 0.3333


def test_dup_spans_huge_doc_ids_no_ordinal_overflow(spark):
    """First-occurrence order is struct (doc_id, pos), not doc_id*1M+pos:
    doc_ids near int64's top would overflow the old composite ordinal and
    corrupt n_cut; struct ordering has no bound (ADVICE r5)."""
    from espkinesis_spark.functions import dedup

    base = "a b c d e f g h i j"
    lo, hi = 2**62, 2**62 + 1  # lo*1_000_000 overflows int64
    docs = spark.createDataFrame(
        [(lo, base), (hi, base)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dedup.dup_spans(docs).collect()}
    # lo is the first occurrence; hi's span is the cut one
    assert (out[lo]["n_dup"], out[lo]["n_cut"]) == (1, 0)
    assert (out[hi]["n_dup"], out[hi]["n_cut"]) == (1, 1)


def test_dup_spans_single_shuffle_plan(spark, sf_dir):
    """Scale audit: the span-window stage must reuse ONE exchange on the
    span hash (count + min-ord windows share the partitioning); no joins."""
    from espkinesis_spark.functions import dedup
    from espkinesis_spark.plans import audit
    from espkinesis_spark.tables import load_table

    plan = audit.physical_plan(dedup.dup_spans(load_table(spark, sf_dir, "documents")))
    assert "Join" not in plan
    # exactly two exchanges: one on the span hash, one for groupBy(doc_id)
    assert plan.count("Arguments: hashpartitioning") == 2


class TestDupSpansProperty:
    """Property: dup_spans equals a direct python model on random corpora."""

    import pytest as _pytest

    @_pytest.fixture(autouse=True)
    def _stash(self, spark):
        TestDupSpansProperty._spark = spark

    def test_matches_python_model(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from espkinesis_spark.functions import dedup

        spark = TestDupSpansProperty._spark
        # tiny vocabulary forces genuine span collisions across docs
        word = st.sampled_from(["a", "b", "c"])
        doc = st.lists(word, min_size=0, max_size=16).map(" ".join)

        @settings(max_examples=10, deadline=None)
        @given(st.lists(doc, min_size=1, max_size=6))
        def run(texts):
            span = 4  # smaller than production so 16-token docs collide
            rows = [(i, t) for i, t in enumerate(texts)]
            # python model
            occ = []  # (doc_id, pos, span_text)
            for did, t in rows:
                toks = t.split() if t.strip() else []
                for p in range(len(toks) - span + 1):
                    occ.append((did, p + 1, " ".join(toks[p : p + span])))
            from collections import Counter, defaultdict

            counts = Counter(s for _, _, s in occ)
            first = {}
            for did, pos, s in occ:
                o = did * 1_000_000 + pos
                if s not in first or o < first[s]:
                    first[s] = o
            want = defaultdict(lambda: [0, 0, 0])  # n_spans, n_dup, n_cut
            for did, pos, s in occ:
                w = want[did]
                w[0] += 1
                w[1] += counts[s] > 1
                w[2] += (did * 1_000_000 + pos) != first[s]
            docs = spark.createDataFrame(rows, "doc_id long, text string")
            got = {
                r["doc_id"]: (r["n_spans"], r["n_dup"], r["n_cut"])
                for r in dedup.dup_spans(docs, span=span).collect()
            }
            assert got == {k: tuple(v) for k, v in want.items()}

        run()


def test_bpe_train_known_corpus(spark):
    """Hand-checkable BPE: corpus 'low low low lower newest newest'.
    Word freqs: low:3, lower:1, newest:2. Round 1 pair counts include
    (l,o):4, (o,w):4, (e,s):2 ... tie (l,o)/(o,w) breaks to ('l','o')."""
    from espkinesis_spark.functions import text

    docs = spark.createDataFrame(
        [(1, "low low low lower newest newest")], "doc_id long, text string"
    )
    rows = text.bpe_train(docs, merges=3).collect()
    got = [(r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"]) for r in rows]
    # r1: (l,o)=4 wins tie vs (o,w)=4; r2: (lo,w)=4; r3: ties at 2:
    # (e,s) vs (e,w) vs (n,e) vs (s,t) vs (w,e)... lexicographic -> (e,s)
    assert got == [(1, "l", "o", 4), (2, "lo", "w", 4), (3, "e", "s", 2)]


class TestBpeTrainProperty:
    """Property: bpe_train equals a direct python BPE model."""

    import pytest as _pytest

    @_pytest.fixture(autouse=True)
    def _stash(self, spark):
        TestBpeTrainProperty._spark = spark

    def test_matches_python_model(self):
        from collections import Counter

        from hypothesis import given, settings
        from hypothesis import strategies as st

        from espkinesis_spark.functions import text

        spark = TestBpeTrainProperty._spark
        word = st.text(alphabet="abc", min_size=1, max_size=5)
        doc = st.lists(word, min_size=1, max_size=8).map(" ".join)

        def python_bpe(texts, merges):
            freqs = Counter(w for t in texts for w in t.split() if w)
            words = {tuple(w): f for w, f in freqs.items()}  # symbols tuple
            traj = []
            for rank in range(1, merges + 1):
                pc = Counter()
                for syms, f in words.items():
                    for i in range(len(syms) - 1):
                        pc[(syms[i], syms[i + 1])] += f
                if not pc:
                    break
                best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
                (a, b), cnt = best
                traj.append((rank, a, b, cnt))
                new_words = {}
                for syms, f in words.items():
                    out = []
                    for s in syms:
                        if out and out[-1] == a and s == b:
                            out[-1] = a + b
                        else:
                            out.append(s)
                    new_words[tuple(out)] = new_words.get(tuple(out), 0) + f
                words = new_words
            return traj

        @settings(max_examples=8, deadline=None)
        @given(st.lists(doc, min_size=1, max_size=5))
        def run(texts):
            merges = 4
            want = python_bpe(texts, merges)
            docs = spark.createDataFrame(
                [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
            )
            got = [
                (r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
                for r in text.bpe_train(docs, merges=merges).collect()
            ]
            assert got == want

        run()


def test_bpe_encode_known_corpus(spark):
    """After 3 merges on 'low low low lower newest newest' the merges are
    (l,o), (lo,w), (e,s): 'low' -> [low] (1 subword), 'lower' ->
    [low,e,r] (3), 'newest' -> [n,e,w,es,t] (5)."""
    from espkinesis_spark.functions import text

    docs = spark.createDataFrame(
        [(1, "low low low lower newest newest")], "doc_id long, text string"
    )
    (row,) = text.bpe_encode(docs, merges=3).collect()
    # 6 words; subwords: 3*1 + 3 + 2*5 = 16; chars: 3*3+5+2*6 = 26
    assert (row["n_words"], row["n_subwords"]) == (6, 16)
    assert row["chars_per_subword"] == round(26 / 16, 4)


def test_domain_mix_upweights_tail_and_is_deterministic(spark):
    """sqrt-temperature mixing must upweight rare domains relative to
    proportional sampling, weights sum to ~1, acceptance is deterministic
    (two runs identical), and no domain oversamples its population."""
    from espkinesis_spark.functions import sampling

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = {r["source"]: r for r in sampling.domain_mix(docs).collect()}
    assert set(out) == {"big", "small"}
    w_big, w_small = out["big"]["mix_weight"], out["small"]["mix_weight"]
    assert abs(w_big + w_small - 1.0) < 1e-6
    # proportional would give small 10%; sqrt temperature gives it more
    assert w_small > 0.1
    assert out["small"]["n_sampled"] <= out["small"]["n_docs"]
    # rare domain keeps a HIGHER fraction of its docs than the big one
    frac_small = out["small"]["n_sampled"] / out["small"]["n_docs"]
    frac_big = out["big"]["n_sampled"] / out["big"]["n_docs"]
    assert frac_small > frac_big
    again = {r["source"]: r for r in sampling.domain_mix(docs).collect()}
    assert {k: tuple(v) for k, v in out.items()} == {
        k: tuple(v) for k, v in again.items()
    }


class TestDomainMixProperty:
    """Property: domain_mix equals a direct python model (md5 acceptance
    and 9-dp rounded sqrt-temperature rates replicated exactly)."""

    import pytest as _pytest

    @_pytest.fixture(autouse=True)
    def _stash(self, spark):
        TestDomainMixProperty._spark = spark

    def test_matches_python_model(self):
        import hashlib
        import math
        from collections import Counter

        from hypothesis import given, settings
        from hypothesis import strategies as st

        from espkinesis_spark.functions import sampling

        spark = TestDomainMixProperty._spark

        def python_model(rows, frac=0.5, res=10_000):
            n = Counter(s for _, s in rows)
            z = sum(math.sqrt(c) for _, c in sorted(n.items()))
            n_total = sum(n.values())
            out = {}
            for s, c in n.items():
                p = round(math.sqrt(c) / z, 9)
                rate = round(min(1.0, (p * n_total * frac) / c), 9)
                cutoff = math.floor(rate * res)
                kept = sum(
                    1
                    for did, src in rows
                    if src == s
                    and int(hashlib.md5(str(did).encode()).hexdigest()[:15], 16)
                    % res
                    < cutoff
                )
                out[s] = (c, round(p, 6), cutoff, kept)
            return out

        @settings(max_examples=6, deadline=None)
        @given(
            st.lists(
                st.tuples(st.integers(0, 10_000), st.sampled_from(["a", "b", "c"])),
                min_size=1,
                max_size=60,
                unique_by=lambda t: t[0],
            )
        )
        def run(rows):
            want = python_model(rows)
            docs = spark.createDataFrame(rows, "doc_id long, source string")
            got = {
                r["source"]: (
                    r["n_docs"],
                    r["mix_weight"],
                    r["accept_buckets"],
                    r["n_sampled"],
                )
                for r in sampling.domain_mix(docs).collect()
            }
            assert got == want

        run()


# --- round-6 additions: semdedup / embed_gram / cooccur ---------------------


def test_semdedup_constructed_clusters(spark):
    """Hand-built 2-cluster geometry with a tight threshold: near-copies of
    a cluster-mate drop (lowest-id witness), distinct directions survive,
    and an exact duplicate of a KEPT non-centroid drops too."""
    vecs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [1.0, 0.05]),   # ~v0 -> dropped (witness 0)
            (3, [0.05, 1.0]),   # ~v1 -> dropped (witness 1)
            (4, [0.8, 0.6]),    # cluster 0 but cos < .99 to all -> kept
            (5, [0.8, 0.6]),    # exact dup of kept v4 -> dropped
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r["keep"]
        for r in similarity.semdedup(vecs, k=2, iters=1, threshold=0.99).collect()
    }
    assert out == {0: True, 1: True, 2: False, 3: False, 4: True, 5: False}


def test_semdedup_drop_always_has_lower_id_cluster_witness(spark, sf_dir):
    """Every dropped vector must have a same-cluster lower-id witness at
    cosine >= threshold; every kept one must have none (the order-parallel
    drop rule, checked directly against the pairwise definition)."""
    from espkinesis_spark.verify import duck_connection

    emb = load_table(spark, sf_dir, "embeddings")
    res = similarity.semdedup(emb).toPandas()
    con = duck_connection(sf_dir)
    try:
        con.register("res", res[["vec_id", "centroid_id"]])
        wit = {
            r[0]
            for r in con.execute(
                f"""
                WITH v AS (SELECT e.vec_id, r.centroid_id, CAST(e.embedding AS DOUBLE[]) AS e
                           FROM embeddings e JOIN res r USING (vec_id))
                SELECT DISTINCT b.vec_id FROM v a JOIN v b
                  ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
                WHERE {_duck_cos('a.e', 'b.e')} >= {C.NEARDUP_COSINE}"""
            ).fetchall()
        }
    finally:
        con.close()
    for r in res.itertuples():
        assert r.keep == (r.vec_id not in wit), r


def _duck_cos(a: str, b: str) -> str:
    """DuckDB's rounded cosine: the independent oracle engine's form."""
    return (
        f"round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b}))), {C.COSINE_ROUND})"
    )


def test_embed_gram_matches_numpy(spark, sf_dir):
    """The distributed partial-gramian reduction equals a direct numpy
    covariance of the collected matrix (independent model, not the SQL
    oracle)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    x = np.array(
        [list(r["embedding"]) for r in emb.select("embedding").collect()],
        dtype=np.float64,
    )
    n = x.shape[0]
    cov = (x.T @ x) / n - np.outer(x.mean(axis=0), x.mean(axis=0))
    got = similarity.embed_gram(emb).collect()
    assert len(got) == x.shape[1] * (x.shape[1] + 1) // 2
    # the operator's value is the covariance of the EG_QUANT-quantized
    # embedding at 6 dp: within quantization error (~1e-6 per factor) +
    # half an output ulp of the true float covariance
    for r in got:
        assert abs(r["cov"] - cov[r["dim_i"], r["dim_j"]]) < 5e-6, r


def test_embed_gram_partitioning_independent(spark, sf_dir):
    """The r6 driver hash fail was float-summation-order drift across
    partitionings. The fixed-point kernel must emit BIT-identical covs
    for 1, 7, and 32 input partitions — exact equality, no tolerance."""
    emb = load_table(spark, sf_dir, "embeddings")

    def vals(df):
        return {(r["dim_i"], r["dim_j"]): r["cov"] for r in df.collect()}

    base = vals(similarity.embed_gram(emb.repartition(1)))
    for p in (7, 32):
        assert vals(similarity.embed_gram(emb.repartition(p))) == base, p


def test_cooccur_constructed(spark):
    """Hand-computed window-2 pair counts + PMI on a 2-doc corpus."""
    from espkinesis_spark.functions import text

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b c")], "doc_id long, text string"
    )
    rows = [
        (r["a"], r["b"], r["n_pair"], r["pmi"])
        for r in text.cooccur(docs, window=2, k=10).collect()
    ]
    # uni: a:2 b:2 c:1 (nt=5); pairs: (a,b):2 (a,a):1 (b,c):1 (np=4)
    import math

    assert rows == [
        ("a", "b", 2, round(math.log((2 / 4) / ((2 / 5) * (2 / 5))), 4)),
        ("a", "a", 1, round(math.log((1 / 4) / ((2 / 5) * (2 / 5))), 4)),
        ("b", "c", 1, round(math.log((1 / 4) / ((2 / 5) * (1 / 5))), 4)),
    ]


def test_cooccur_single_token_doc_is_safe(spark):
    """A 1-token document must contribute no pairs (the sequence(1, 0)
    descending-range hazard is gated)."""
    from espkinesis_spark.functions import text

    docs = spark.createDataFrame([(1, "solo"), (2, "x y")], "doc_id long, text string")
    rows = text.cooccur(docs, window=2, k=10).collect()
    assert [(r["a"], r["b"], r["n_pair"]) for r in rows] == [("x", "y", 1)]


def test_semdedup_auto_k_scaling():
    """k must grow with n past the fixed-k floor — fixed k=8 measured 130x
    wall at 30x data (quadratic pair growth); the floor keeps oracle-scale
    runs on the exact fixed-k SQL trajectory."""
    assert similarity.semdedup_auto_k(500) == C.KMEANS_K
    assert similarity.semdedup_auto_k(C.KMEANS_K * C.SEMDEDUP_TARGET_CLUSTER) == C.KMEANS_K
    assert similarity.semdedup_auto_k(60_000) == 60_000 // C.SEMDEDUP_TARGET_CLUSTER
    assert similarity.semdedup_auto_k(60_000_000) == 60_000_000 // C.SEMDEDUP_TARGET_CLUSTER
    # raising target_cluster caps k when n outgrows broadcast limits
    assert similarity.semdedup_auto_k(5_000_000_000, 50_000) == 100_000


def test_pagerank_matches_python_model(spark):
    """Hand-built multigraph vs a direct python trajectory model (same
    init, same per-round 9-dp rounding, no dangling redistribution)."""
    from collections import Counter, defaultdict

    from espkinesis_spark.functions import graph

    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "a"), ("a", "b")]
    d, iters = 0.85, 3
    nodes = sorted({x for e in edges for x in e})
    n = float(len(nodes))
    od = Counter(s for s, _ in edges)
    r = {v: round(1.0 / n, 9) for v in nodes}
    for _ in range(iters):
        c = defaultdict(float)
        for s, t in edges:
            c[t] += r[s] / od[s]
        r = {v: round((1 - d) / n + d * c.get(v, 0.0), 9) for v in nodes}
    want = {v: round(r[v], 6) for v in nodes}

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {row["node"]: row["rank"] for row in graph.pagerank(df).collect()}
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 2e-6, (v, got[v], want[v])


def test_pagerank_dangling_sink_accumulates(spark):
    """In a bipartite src→sink graph every sink outranks the uniform
    teleport floor and sources sit exactly on it (no dangling
    redistribution by design)."""
    from espkinesis_spark.functions import graph

    df = spark.createDataFrame(
        [("u1", "s1"), ("u2", "s1"), ("u3", "s2")], "src string, dst string"
    )
    got = {row["node"]: row["rank"] for row in graph.pagerank(df).collect()}
    floor = round(0.15 / 5.0, 6)  # 5 nodes: u1 u2 u3 s1 s2
    assert got["u1"] == got["u2"] == got["u3"] == floor
    assert got["s1"] > got["s2"] > floor


def test_token_entropy_constructed(spark):
    """Degenerate repetition scores 0 (norm NULL); a uniform 2-token doc
    scores ln 2 with norm exactly 1."""
    import math

    from espkinesis_spark.functions import text

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b"), (3, "a a b")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in text.token_entropy(docs).collect()}
    assert (got[1]["entropy"], got[1]["norm_entropy"]) == (0.0, None)
    assert got[1]["n_tokens"] == 4 and got[1]["n_distinct"] == 1
    assert got[2]["entropy"] == round(math.log(2), 4)
    assert got[2]["norm_entropy"] == 1.0
    h3 = -(2 / 3) * math.log(2 / 3) - (1 / 3) * math.log(1 / 3)
    assert got[3]["entropy"] == round(h3, 4)
    assert got[3]["norm_entropy"] == round(h3 / math.log(2), 4)


def test_bigram_logprob_constructed(spark):
    """Hand-computed add-0.5 bigram LM on a 3-doc corpus; a 1-token doc
    emits no row."""
    import math

    from espkinesis_spark.functions import text

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a"), (3, "b a b")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in text.bigram_logprob(docs).collect()}
    assert set(got) == {1, 3}
    # lm: (a,b):2 (b,a):1; ctx: a:2 b:1; V=2, alpha=.5
    p_ab = 2.5 / 3.0
    p_ba = 1.5 / 2.0
    assert got[1]["n_bigrams"] == 1
    assert got[1]["bigram_logprob"] == round(-math.log(p_ab), 4)
    assert got[3]["n_bigrams"] == 2
    assert got[3]["bigram_logprob"] == round(-(math.log(p_ba) + math.log(p_ab)) / 2, 4)


class TestCooccurProperty:
    """Property: cooccur pair counts + PMI equal a direct python model on
    random corpora (the window/offset indexing is where bugs hide)."""

    import pytest as _pytest

    @_pytest.fixture(autouse=True)
    def _stash(self, spark):
        TestCooccurProperty._spark = spark

    def test_matches_python_model(self):
        import math
        from collections import Counter

        from hypothesis import given, settings
        from hypothesis import strategies as st

        from espkinesis_spark.functions import text

        spark = TestCooccurProperty._spark
        word = st.sampled_from(["a", "b", "c", "d"])
        doc = st.lists(word, min_size=1, max_size=12).map(" ".join)

        @settings(max_examples=8, deadline=None)
        @given(st.lists(doc, min_size=1, max_size=5), st.integers(1, 3))
        def run(texts, window):
            pair_c: Counter = Counter()
            uni: Counter = Counter()
            for t in texts:
                toks = t.split()
                uni.update(toks)
                for i in range(len(toks)):
                    for o in range(1, window + 1):
                        if i + o < len(toks):
                            a, b = sorted((toks[i], toks[i + o]))
                            pair_c[(a, b)] += 1
            np_, nt = float(sum(pair_c.values())), float(sum(uni.values()))
            want = sorted(
                (
                    (-c, a, b, c,
                     round(math.log((c / np_) / ((uni[a] / nt) * (uni[b] / nt))), 4))
                    for (a, b), c in pair_c.items()
                ),
            )[:10]
            want = [(a, b, c, p) for _, a, b, c, p in want]

            docs = spark.createDataFrame(
                [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
            )
            got = [
                (r["a"], r["b"], r["n_pair"], r["pmi"])
                for r in text.cooccur(docs, window=window, k=10).collect()
            ]
            assert got == want

        run()


def _pagerank_model(edges, round_each=True, d=0.85, iters=3):
    """The oracle's pagerank trajectory in plain python; ``round_each``
    off drops the per-round 9-dp round."""
    from collections import Counter, defaultdict

    nodes = sorted({x for e in edges for x in e})
    n = float(len(nodes))
    od = Counter(s for s, _ in edges)
    r = {v: round(1.0 / n, 9) for v in nodes}
    for _ in range(iters):
        c = defaultdict(float)
        for s, t in edges:
            c[t] += r[s] / od[s]
        r = {v: (1 - d) / n + d * c.get(v, 0.0) for v in nodes}
        if round_each:
            r = {v: round(x, 9) for v, x in r.items()}
    return {v: round(r[v], 6) for v in nodes}


def test_pagerank_rounds_each_round_to_nine_dp(spark):
    """A graph found by searching the python model: node d ends at
    0.132687499 with the per-round 9-dp round and at 0.1326875000439
    without it, so the two trajectories differ at 6 dp. No value in it
    sits on a 9-dp or 6-dp rounding boundary, so Spark's half-up round
    and python's agree and the ranks must match exactly."""
    from espkinesis_spark.functions import graph

    edges = [("g", "a"), ("g", "c"), ("a", "b"), ("e", "b"), ("f", "d"), ("b", "d")]
    want = _pagerank_model(edges)
    assert want["d"] == 0.132687
    assert _pagerank_model(edges, round_each=False)["d"] == 0.132688
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {row["node"]: row["rank"] for row in graph.pagerank(df).collect()}
    assert got == want


class TestPagerankProperty:
    """Property: the Spark trajectory equals the python model on random
    directed multigraphs (including self-loops and dangling sinks)."""

    import pytest as _pytest

    @_pytest.fixture(autouse=True)
    def _stash(self, spark):
        TestPagerankProperty._spark = spark

    def test_matches_python_model(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from espkinesis_spark.functions import graph

        spark = TestPagerankProperty._spark
        node = st.sampled_from(["a", "b", "c", "d", "e"])

        @settings(max_examples=8, deadline=None, phases=_NO_SHRINK)
        @given(st.lists(st.tuples(node, node), min_size=1, max_size=12))
        def run(edges):
            want = _pagerank_model(edges)

            df = spark.createDataFrame(edges, "src string, dst string")
            got = {row["node"]: row["rank"] for row in graph.pagerank(df).collect()}
            assert set(got) == set(want)
            for v in want:
                assert abs(got[v] - want[v]) < 2e-6, (v, got[v], want[v])

        run()


def test_token_entropy_empty_doc_emits_no_row(spark):
    """Empty/whitespace-only docs must vanish on both engines (Spark
    splits '' to []; the oracle filters the '' token DuckDB yields)."""
    from espkinesis_spark.functions import text

    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a b")], "doc_id long, text string"
    )
    got = {r["doc_id"] for r in text.token_entropy(docs).collect()}
    assert got == {3}


def test_bpe_oracle_survives_dry_merges(spark):
    """A corpus whose pairs run dry before BPE_MERGES rounds must still
    agree between engines: Spark breaks out of the merge loop, the oracle
    LEFT-joins the empty winner CTE (a no-op round) instead of emptying
    the symbol chain."""
    import duckdb
    import pandas as pd

    from espkinesis_spark import oracles
    from espkinesis_spark.functions import text
    from tests.oracle_util import compare

    pdocs = pd.DataFrame({"doc_id": [1], "text": ["ab ab cd"]})
    con = duckdb.connect()
    con.register("documents", pdocs)
    for name in ("ex_bpe_train", "ex_bpe_encode"):
        want = con.execute(oracles.ORACLES[name]).df()
        fn = text.bpe_train if name == "ex_bpe_train" else text.bpe_encode
        compare(fn(spark.createDataFrame(pdocs)), want)


def test_semdedup_honors_custom_vec_col(spark):
    """vec_col != 'embedding' must work end-to-end (the assignment kernel
    reads the canonical name; semdedup renames at the boundary)."""
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 0.01])],
        "vec_id long, vec array<double>",
    )
    out = {
        r["vec_id"]: r["keep"]
        for r in similarity.semdedup(vecs, k=2, iters=1, threshold=0.99, vec_col="vec").collect()
    }
    assert out == {0: True, 1: True, 2: False}


def test_embed_gram_skips_null_vectors(spark):
    """NULL embeddings contribute nothing (matching the oracle's UNNEST
    semantics) instead of crashing the numpy kernel."""
    import numpy as np

    vecs = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None), (2, [3.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    got = {(r["dim_i"], r["dim_j"]): r["cov"] for r in similarity.embed_gram(vecs).collect()}
    x = np.array([[1.0, 2.0], [3.0, 4.0]])
    cov = (x.T @ x) / 2 - np.outer(x.mean(axis=0), x.mean(axis=0))
    assert len(got) == 3
    # integer-valued inputs quantize exactly, so the 6-dp output is exact
    for (i, j), v in got.items():
        assert abs(v - cov[i, j]) < 1e-9


def test_normalize_text_constructed(spark):
    """Accent fold, case fold, and whitespace collapse behave exactly as
    the fixed map specifies (including multi-space and tab runs)."""
    import hashlib

    from espkinesis_spark.functions import text

    docs = spark.createDataFrame(
        [(1, "  Él  está\tAQUÍ  "), (2, "plain text")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in text.normalize_text(docs).collect()}
    want1 = "el esta aqui"
    assert got[1]["norm_len"] == len(want1)
    assert got[1]["norm_md5"] == hashlib.md5(want1.encode()).hexdigest()
    assert got[2]["norm_md5"] == hashlib.md5(b"plain text").hexdigest()


def test_label_prop_matches_python_model(spark):
    """Hand-built graph vs a direct python synchronous-LPA model (same
    symmetrization, most-frequent-neighbor vote, min-label tie-break)."""
    from collections import Counter

    from espkinesis_spark.functions import graph

    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("d", "e"), ("e", "f"), ("d", "f"), ("c", "d")]
    both = edges + [(t, s) for s, t in edges]
    nodes = sorted({x for e in edges for x in e})
    lab = {v: v for v in nodes}
    for _ in range(3):
        votes = {v: Counter() for v in nodes}
        for s, t in both:
            votes[t][lab[s]] += 1
        lab = {
            v: (min(c for _, c in votes[v].most_common()) and
                sorted(votes[v].items(), key=lambda kv: (-kv[1], kv[0]))[0][0])
            if votes[v] else v
            for v in nodes
        }
    sizes = Counter(lab.values())
    want = {v: (lab[v], sizes[lab[v]]) for v in nodes}

    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["node"]: (r["community"], r["n_members"])
        for r in graph.label_propagation(df).collect()
    }
    assert got == want


def test_label_prop_two_cliques_converge(spark):
    """Two triangles joined by one bridge edge settle into exactly two
    communities labeled by each clique's minimal node."""
    from espkinesis_spark.functions import graph

    tri1 = [("a", "b"), ("b", "c"), ("c", "a")]
    tri2 = [("x", "y"), ("y", "z"), ("z", "x")]
    df = spark.createDataFrame(tri1 + tri2, "src string, dst string")
    got = {r["node"]: r["community"] for r in graph.label_propagation(df).collect()}
    assert {got["a"], got["b"], got["c"]} == {"a"}
    assert {got["x"], got["y"], got["z"]} == {"x"}


def test_heavy_hitters_exact_on_skewed_corpus(spark):
    """Output equals the exact count > total/k set on a constructed skewed
    corpus, independent of partitioning (MG only proposes candidates)."""
    from collections import Counter

    from espkinesis_spark.functions import text as T

    docs = []
    for i in range(40):
        docs.append((i, "hot " * 5 + f"cold{i}"))
    toks = [t for _, s in docs for t in s.split()]
    total = len(toks)
    k = 3
    want = {
        t: c for t, c in Counter(toks).items() if c * k > total
    }
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(8)
    got = {
        r["token"]: r["n"]
        for r in T.heavy_hitters(df, k=k).collect()
    }
    assert got == want and "hot" in got


def test_heavy_hitters_tiny_k_never_misses(spark):
    """MG with k=2 across many partitions still surfaces every true heavy
    (superset guarantee survives the partition merge)."""
    from espkinesis_spark.functions import text as T

    rows = [(i, "alpha beta " + f"noise{i % 97} noise{i % 89}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)
    # alpha/beta are 200/800 = exactly 1/4 of tokens: strictly above 1/5
    got = {r["token"] for r in T.heavy_hitters(df, k=5).collect()}
    assert {"alpha", "beta"} <= got


def test_downsample_pins_endpoints_and_bucket_bounds(spark, sf_dir):
    """First/last buckets pin the series endpoints (LTTB convention),
    every bucket emits exactly one point, and bucket ids stay in range."""
    from espkinesis_spark import queries
    from espkinesis_spark.functions import common as C
    from espkinesis_spark.tables import load_table

    rows = queries.ex_downsample(spark, sf_dir).collect()
    assert 1 <= len(rows) <= C.LTTB_BUCKETS
    by_bucket = {r["bucket"]: r for r in rows}
    assert len(by_bucket) == len(rows)
    assert all(0 <= b < C.LTTB_BUCKETS for b in by_bucket)
    ev = load_table(spark, sf_dir, "events")
    lo = ev.orderBy("ts", "event_id").first()
    hi = ev.orderBy(F.desc("ts"), F.desc("event_id")).first()
    first_b, last_b = min(by_bucket), max(by_bucket)
    assert by_bucket[first_b]["event_id"] == lo["event_id"]
    assert by_bucket[last_b]["event_id"] == hi["event_id"]
    assert by_bucket[first_b]["x_us"] == 0
    # interior picks carry a positive rounded triangle area
    for b, r in by_bucket.items():
        if b not in (first_b, last_b):
            assert r["area"] >= 0.0


# null, empty and whitespace-only text (spaces, tabs, a newline) plus
# repeated and one-token docs: the tokenizer's degenerate cases
_QUALITY_EDGE_TEXT = [
    (900001, None),
    (900002, ""),
    (900003, "   "),
    (900004, "\t \t"),
    (900005, "\n"),
    (900006, " word "),
    (900007, "aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa aa"),
    (900008, "  lead and trail  spaces  in a  longer line of plain words here  "),
]


def test_quality_filter_edge_text_equals_sql(spark):
    """quality_filter on degenerate text equals the ex_quality_filter
    oracle SQL row for row: a null text emits no row (the oracle's unnest
    of a NULL list), and empty or whitespace-only text is scored over
    its empty-string tokens exactly as DuckDB splits them."""
    import duckdb
    import pandas as pd

    from espkinesis_spark import verify
    from espkinesis_spark.functions import text as T
    from espkinesis_spark.oracles import ORACLES

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(_QUALITY_EDGE_TEXT, columns=["doc_id", "text"]))
    want = con.execute(ORACLES["ex_quality_filter"]).df()
    con.close()
    docs = spark.createDataFrame(_QUALITY_EDGE_TEXT, "doc_id long, text string")
    got = T.quality_filter(docs)
    verify.compare(got.select(*want.columns), want)
    assert 900001 not in {r["doc_id"] for r in got.collect()}
    assert len(want) == len(_QUALITY_EDGE_TEXT) - 1


def test_quality_gate_stateless_equals_batch(spark, sf_dir):
    """The streaming gate (``quality_gate_stateless``) emits exactly the
    documents ``quality_filter`` keeps, with the same stats, on the
    corpus plus the degenerate-text docs."""
    from espkinesis_spark.functions import text as T
    from espkinesis_spark.tables import load_table

    edge = spark.createDataFrame(_QUALITY_EDGE_TEXT, "doc_id long, text string")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").unionByName(edge)
    batch = {
        r["doc_id"]: (r["n_tokens"], r["dup_frac"], r["top_frac"], r["mean_len"])
        for r in T.quality_filter(docs).collect()
        if r["keep"]
    }
    stateless = {
        r["doc_id"]: (r["n_tokens"], r["dup_frac"], r["top_frac"], r["mean_len"])
        for r in T.quality_gate_stateless(docs).collect()
    }
    assert stateless == batch and len(batch) > 0


def test_ts_similarity_self_match_is_zero(spark, sf_dir):
    """The query window must match itself at distance 0 and rank first;
    distances are non-negative and sorted ascending."""
    from espkinesis_spark import queries
    from espkinesis_spark.functions import common as C

    rows = queries.ex_ts_similarity(spark, sf_dir).collect()
    assert len(rows) == C.TSS_TOPK
    first = rows[0]
    assert first["user_id"] == C.TSS_QUERY_USER and first["dist"] == 0.0
    dists = [r["dist"] for r in rows]
    assert dists == sorted(dists) and all(d >= 0.0 for d in dists)


def test_anomaly_flags_injected_spike(spark, tmp_path):
    """A hand-built series with one spike hour must flag exactly that hour
    (positive z) and nothing else."""
    import datetime as dt

    from espkinesis_spark import queries

    rows = []
    eid = 0
    base = dt.datetime(2024, 1, 1)
    for h in range(48):
        n = 500 if h == 30 else 10  # one spike hour
        for i in range(n):
            rows.append(
                (eid, base + dt.timedelta(hours=h, seconds=i), 1, "click", 1.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    sf = str(tmp_path / "sfanom")
    import os

    os.makedirs(sf, exist_ok=True)
    df.write.mode("overwrite").parquet(os.path.join(sf, "events.parquet"))
    got = queries.registry()["ex_anomaly"](spark, sf).collect()
    assert len(got) == 1
    (r,) = got
    assert r["hr"] == base + dt.timedelta(hours=30) and r["n"] == 500 and r["z"] > 2.0


def test_downsample_matches_python_model(spark, sf_dir):
    """Independent check against a direct python model (the SQL oracle
    mirrors the Spark expression tree, so a shared blind spot would pass
    parity; this model is written from the spec instead)."""
    import math

    import duckdb

    from espkinesis_spark import queries
    from espkinesis_spark.functions import common as C

    con = duckdb.connect()
    pts = con.execute(
        f"SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS xu, value AS y "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    con.close()
    nb = C.LTTB_BUCKETS
    mn = min(p[1] for p in pts)
    mx = max(p[1] for p in pts)
    buckets = {}
    for eid, xu, y in pts:
        b = min((xu - mn) * nb // max(mx - mn, 1), nb - 1)
        buckets.setdefault(b, []).append((eid, xu - mn, y))
    anchors = {
        b: (
            round(sum(x for _, x, _ in v) / len(v) / 1e6, 6),
            round(sum(y for _, _, y in v) / len(v), 6),
        )
        for b, v in buckets.items()
    }
    order = sorted(buckets)
    want = {}
    for i, b in enumerate(order):
        v = buckets[b]
        if i == 0:
            pick = min(v, key=lambda p: (p[1], p[0]))
            want[b] = (pick[0], 0.0 if i == 0 else None)
        elif i == len(order) - 1:
            pick = min(v, key=lambda p: (-p[1], -p[0]))
            want[b] = (pick[0], 0.0)
        else:
            lx, ly = anchors[order[i - 1]]
            rx, ry = anchors[order[i + 1]]
            best = None
            for eid, xus, y in v:
                px = xus / 1e6
                area = round(
                    abs((lx - rx) * (y - ly) - (lx - px) * (ry - ly)) * 0.5,
                    C.LTTB_AREA_ROUND,
                )
                key = (-area, xus, eid)
                if best is None or key < best[0]:
                    best = (key, eid, area)
            want[b] = (best[1], best[2])
    want[order[0]] = (want[order[0]][0], 0.0)

    got = {
        r["bucket"]: (r["event_id"], r["area"])
        for r in queries.ex_downsample(spark, sf_dir).collect()
    }
    assert got == want


def test_ts_similarity_matches_python_model(spark, sf_dir):
    """Direct python model of the z-normalized subsequence search (same
    independence rationale as the downsample model test)."""
    import math

    import duckdb

    from espkinesis_spark import queries
    from espkinesis_spark.functions import common as C

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)), value "
        f"FROM '{sf_dir}/events.parquet' ORDER BY user_id, 3, event_id"
    ).fetchall()
    con.close()
    w = C.TSS_W
    series = {}
    for uid, eid, xu, y in rows:
        series.setdefault(uid, []).append((eid, y))

    def znorm(vals):
        m = sum(vals) / w
        ex2 = sum(x * x for x in vals) / w
        sd = math.sqrt(max(ex2 - m * m, 0.0))
        return [0.0] * w if sd == 0.0 else [(x - m) / sd for x in vals]

    wins = []
    for uid, pts in series.items():
        for i in range(len(pts) - w + 1):
            chunk = pts[i : i + w]
            wins.append((uid, chunk[0][0], znorm([y for _, y in chunk])))
    qz = min(
        ((s, z) for u, s, z in wins if u == C.TSS_QUERY_USER), key=lambda t: t[0]
    )[1]
    scored = sorted(
        (
            round(math.sqrt(sum((a - b) ** 2 for a, b in zip(z, qz))), 6),
            uid,
            start,
        )
        for uid, start, z in wins
    )[: C.TSS_TOPK]
    want = [(u, s, d) for d, u, s in scored]

    got = [
        (r["user_id"], r["start_event_id"], r["dist"])
        for r in queries.ex_ts_similarity(spark, sf_dir).collect()
    ]
    assert got == want


def test_retention_matrix_matches_python_model(spark, sf_dir):
    """Direct python model of the 0..5-offset retention triangle."""
    from collections import defaultdict

    import duckdb

    from espkinesis_spark import queries

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT user_id, epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    con.close()
    HOUR = 3_600_000_000
    first = {}
    active = defaultdict(set)
    for uid, hr in rows:
        active[uid].add(hr)
        first[uid] = min(first.get(uid, hr), hr)
    per = defaultdict(set)
    sizes = defaultdict(int)
    for uid, cohort in first.items():
        sizes[cohort] += 1
        for hr in active[uid]:
            off = (hr - cohort) // HOUR
            if 0 <= off <= 5:
                per[(cohort, off)].add(uid)
    want = {
        (c, o): (sizes[c], len(u), round(len(u) / sizes[c], 4))
        for (c, o), u in per.items()
    }
    got = {
        (int(r["cohort"].timestamp() * 1_000_000), r["off"]): (
            r["cohort_size"],
            r["active_users"],
            r["rate"],
        )
        for r in queries.ex_retention_matrix(spark, sf_dir).collect()
    }
    assert got == want


def test_frequent_values_profiles_plain_column(spark, sf_dir):
    """frequent_values over events.event_type equals the exact
    count > total/k filter computed by a plain groupBy."""
    from espkinesis_spark.functions import text as T
    from espkinesis_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    k = 6
    got = {
        (r["event_type"], r["n"])
        for r in T.frequent_values(ev, "event_type", k=k).collect()
    }
    total = ev.count()
    want = {
        (r["event_type"], r["n"])
        for r in ev.groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
        if r["n"] * k > total
    }
    assert got == want and len(want) > 0


def test_mg_batched_decrement_superset_property():
    """Pure-python property check of the Misra-Gries batched-decrement
    variant the frequent_values kernel runs per partition: for random
    streams, random partitionings, random batch splits, and random k, the
    MERGED candidate set must contain every value with global count >
    total/k (the guarantee the exact second pass relies on)."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    def mg_partition(batches, k):
        counters = Counter()
        for batch in batches:
            counters.update(batch)
            if len(counters) > k:
                # subtract the (k+1)-th largest count from all, drop <= 0
                kth = sorted(counters.values(), reverse=True)[k]
                counters = Counter(
                    {v: c - kth for v, c in counters.items() if c - kth > 0}
                )
        return set(counters)

    vals = st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=400)

    @settings(max_examples=200, deadline=None)
    @given(
        vals,
        st.integers(min_value=1, max_value=8),  # partitions
        st.integers(min_value=1, max_value=5),  # batches per partition
        st.integers(min_value=1, max_value=10),  # k
        st.randoms(),
    )
    def run(stream, n_parts, n_batches, k, rnd):
        rnd.shuffle(stream)
        parts = [stream[i::n_parts] for i in range(n_parts)]
        merged = set()
        for p in parts:
            if not p:
                continue
            size = max(1, len(p) // n_batches)
            batches = [p[i : i + size] for i in range(0, len(p), size)]
            merged |= mg_partition(batches, k)
        total = len(stream)
        heavies = {v for v, c in Counter(stream).items() if c * k > total}
        assert heavies <= merged, (sorted(heavies - merged), k, total)

    run()


def test_sketch_quantiles_exact_and_partition_invariant(spark):
    """sketch_quantiles equals the numpy order statistic for every pct,
    for adversarial data (heavy ties, nulls, tiny partitions) and for
    EVERY partitioning and summary size — the sketch narrows the
    interval, it must never reach the result."""
    import numpy as np

    from espkinesis_spark.functions.quantiles import sketch_quantiles

    rng = np.random.default_rng(11)
    n = 4003
    vals = np.round(rng.lognormal(2.0, 1.2, n), 2)
    vals[: n // 5] = np.round(vals[: n // 5])  # heavy ties
    srt = np.sort(vals)
    rows = [(float(v),) for v in vals] + [(None,)] * 5
    base = spark.createDataFrame(rows, "x double")
    for parts, s in [(1, 64), (7, 64), (32, 2), (32, 8)]:
        got = {
            r["pct"]: r
            for r in sketch_quantiles(
                base.repartition(parts), "x", s=s
            ).collect()
        }
        for pct in C.SKQ_PCTS:
            rk = (pct * n + 99) // 100
            assert got[pct]["n"] == n
            assert got[pct]["target_rank"] == rk
            assert got[pct]["value"] == srt[rk - 1], (parts, s, pct)


def test_sketch_quantiles_empty_and_degenerate(spark):
    from espkinesis_spark.functions.quantiles import sketch_quantiles

    empty = spark.createDataFrame([(None,)] * 4, "x double")
    assert sketch_quantiles(empty, "x").collect() == []
    one = spark.createDataFrame([(42.0,)], "x double").repartition(8)
    out = sketch_quantiles(one, "x").collect()
    assert {r["value"] for r in out} == {42.0}
    assert {r["target_rank"] for r in out} == {1}


def test_frequent_values_empty_and_degenerate(spark):
    from espkinesis_spark.functions import text

    empty = spark.createDataFrame([], "v string").repartition(3)
    assert text.frequent_values(empty, "v", k=5).collect() == []
    nulls = spark.createDataFrame([(None,)] * 4, "v string").repartition(3)
    assert text.frequent_values(nulls, "v", k=5).collect() == []
    one = spark.createDataFrame([("a",)], "v string").repartition(8)
    out = text.frequent_values(one, "v", k=5).collect()
    assert [(r["v"], r["n"], r["share"]) for r in out] == [("a", 1, 1.0)]


def test_perplexity_buckets_empty_and_degenerate(spark):
    """No scored docs: no rows. Docs with no score take no cut and land in
    the tail. One doc: both cuts are its own score, so it is head."""
    from espkinesis_spark.functions import text

    schema = "doc_id long, n_bigrams long, bigram_logprob double"
    empty = spark.createDataFrame([], schema)
    assert text.perplexity_buckets_from(empty).collect() == []
    nulls = spark.createDataFrame([(1, 1, None), (2, 1, None)], schema)
    out = text.perplexity_buckets_from(nulls).collect()
    assert sorted(tuple(r) for r in out) == [(1, None, "tail"), (2, None, "tail")]
    one = spark.createDataFrame([(7, 3, 2.5)], schema).repartition(4)
    out = text.perplexity_buckets_from(one).collect()
    assert [tuple(r) for r in out] == [(7, 2.5, "head")]


def test_sketch_quantile_bound_property():
    """Pure-python mirror of the summarize/bound phases: for random
    streams, partitionings, and summary sizes, the derived (lo, hi]
    interval must contain the true order statistic and the claimed rank
    bracket must hold — the guarantee the exact select pass relies on.
    The library's driver-side bound phase (``_brackets``) must derive the
    same n and (lo, hi] from the same blocks."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from espkinesis_spark.functions.quantiles import _brackets

    def blocks_for(part, s):
        part = sorted(part)
        n = len(part)
        ranks = sorted({-(-j * n // s) for j in range(1, s + 1)})
        out, prev_v, prev_c = [], None, 0
        for r in ranks:
            out.append((prev_v, part[r - 1], r - prev_c))
            prev_v, prev_c = part[r - 1], r
        return out

    vals = st.lists(
        st.integers(min_value=-50, max_value=50), min_size=1, max_size=300
    )

    @settings(max_examples=200, deadline=None)
    @given(
        vals,
        st.integers(min_value=1, max_value=6),  # partitions
        st.integers(min_value=2, max_value=9),  # summary size
        st.integers(min_value=1, max_value=100),  # pct
        st.randoms(),
    )
    def run(stream, n_parts, s, pct, rnd):
        rnd.shuffle(stream)
        parts = [p for p in (stream[i::n_parts] for i in range(n_parts)) if p]
        blocks = [b for p in parts for b in blocks_for(p, s)]
        n = len(stream)
        rk = (pct * n + 99) // 100
        cands = sorted({hi for _, hi, _ in blocks})
        lower = {
            v: sum(w for _, hi, w in blocks if hi <= v) for v in cands
        }
        upper = {
            v: sum(w for lo, _, w in blocks if lo is None or lo <= v)
            for v in cands
        }
        lo = max((v for v in cands if upper[v] < rk), default=None)
        hi = min(v for v in cands if lower[v] >= rk)
        v_lo, v_hi, w = (np.array(c, dtype=float) for c in zip(*blocks))
        assert _brackets(v_lo, v_hi, w.astype(np.int64), [pct]) == (
            n,
            [(pct, rk, lo, hi)],
        )
        true = sorted(stream)[rk - 1]
        assert (lo is None or true > lo) and true <= hi
        # exact select inside the interval reproduces the order statistic
        offset = 0 if lo is None else sum(1 for x in stream if x <= lo)
        iv = sorted(x for x in stream if (lo is None or x > lo) and x <= hi)
        assert iv[rk - offset - 1] == true

    run()


def test_lttb_sequential_matches_pure_python_model(spark, sf_dir):
    """Canonical LTTB vs an independent pure-python (no numpy) replay of
    the algorithm — scalar loops instead of vectorized kernels, so a
    vectorization or bucketing bug in either side breaks the match.
    Both sides are IEEE doubles with the same operation order, so the
    comparison is exact, no tolerance."""
    import math

    from espkinesis_spark.functions.timeseries import lttb_sequential
    from espkinesis_spark.tables import load_table

    B = C.LTTB_SEQ_BUCKETS
    ev = load_table(spark, sf_dir, "events")
    got = {
        (r["series"], r["step"]): (r["event_id"], r["x_us"], r["y"])
        for r in lttb_sequential(ev, series_col="event_type").collect()
    }

    rows = ev.select("event_type", "event_id", F.unix_micros("ts").alias("x"), "value").collect()
    series = {}
    for r in rows:
        series.setdefault(r["event_type"], []).append((r["x"], r["event_id"], r["value"]))
    want = {}
    for s, pts in series.items():
        pts.sort()
        n = len(pts)
        x0 = pts[0][0]
        xr = [p[0] - x0 for p in pts]
        ymil = [
            math.floor(p[2] * 1000.0 + 0.5)
            if p[2] >= 0
            else -math.floor(-p[2] * 1000.0 + 0.5)
            for p in pts
        ]
        px = [v / 1e6 for v in xr]
        py = [v / 1e3 for v in ymil]
        ib, m = B - 2, n - 2
        buckets = [[] for _ in range(ib)]
        for r_i in range(m):
            buckets[r_i * ib // m].append(r_i + 1)
        anchors = []
        for k in range(ib):
            sx = sum(xr[i] for i in buckets[k])
            sy = sum(ymil[i] for i in buckets[k])
            c = len(buckets[k])
            anchors.append((float(sx) / c / 1e6, float(sy) / c / 1e3))
        want[(s, 0)] = (pts[0][1], pts[0][0], py[0])
        ax, ay = px[0], py[0]
        for k in range(ib):
            nx, ny = anchors[k + 1] if k < ib - 1 else (px[n - 1], py[n - 1])
            best, best_a = None, -1.0
            for i in buckets[k]:
                a = abs((ax - nx) * (py[i] - ay) - (ax - px[i]) * (ny - ay)) * 0.5
                if a > best_a:
                    best, best_a = i, a
            want[(s, k + 1)] = (pts[best][1], pts[best][0], py[best])
            ax, ay = px[best], py[best]
        want[(s, B - 1)] = (pts[n - 1][1], pts[n - 1][0], py[n - 1])
    assert got == want


def test_lttb_sequential_short_series_emitted_whole(spark):
    from espkinesis_spark.functions.timeseries import lttb_sequential

    rows = [("a", i, 1704067200000000 + i * 1_000_000, float(i)) for i in range(5)]
    df = spark.createDataFrame(
        rows, "event_type string, event_id long, us long, value double"
    ).select(
        "event_type", "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"), "value",
    )
    out = lttb_sequential(df, series_col="event_type").collect()
    assert [(r["step"], r["event_id"]) for r in sorted(out, key=lambda r: r["step"])] == [
        (i, i) for i in range(5)
    ]


# --- round-7 additions: perceptual (image/audio) near-dup -------------------


def _mk_docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_image_neardup_constructed(spark):
    """Three synthetic docs long enough to image: doc 1 is doc 0 with ONE
    sampled character bumped (adjacent-gradient flip -> tiny Hamming),
    doc 2 is unrelated. Only the (0, 1) pair lands within the radius."""
    import random

    rng = random.Random(7)
    base = "".join(chr(97 + rng.randrange(26)) for _ in range(C.IMG_MIN_CHARS))
    # flip the char at sampled position k=5 (pos 5*IMG_STRIDE)
    p = 5 * C.IMG_STRIDE
    edited = base[:p] + ("z" if base[p] != "z" else "a") + base[p + 1 :]
    other = "".join(chr(97 + rng.randrange(26)) for _ in range(C.IMG_MIN_CHARS))
    media = multimodal.synthesize_gray_bmp(_mk_docs(spark, [base, edited, other]))
    out = multimodal.hamming_neardup(
        multimodal.image_dhash(media), max_hamming=C.IMG_HAM_MAX
    ).collect()
    pairs = {(r["doc_id_a"], r["doc_id_b"]): r["hamming"] for r in out}
    assert (0, 1) in pairs and pairs[(0, 1)] <= 2
    assert all(k == (0, 1) for k in pairs)


def test_image_dhash_survives_real_container(spark):
    """The dHash computed through the REAL BMP encode->decode round-trip
    equals the direct gradient-band formula on the raw grid (the identity
    the oracle relies on to replay pixels from text)."""
    text = "the quick brown fox jumps over the lazy dog " * 8
    assert len(text) >= C.IMG_MIN_CHARS
    cols, rows, stride = C.IMG_DHASH_COLS, C.IMG_DHASH_ROWS, C.IMG_STRIDE
    gray = [ord(text[(y * cols + x) * stride]) % 256 for y in range(rows) for x in range(cols)]
    want = multimodal._gradient_bands(gray, cols)
    media = multimodal.synthesize_gray_bmp(_mk_docs(spark, [text]))
    got = {
        r["band"]: r["val"] for r in multimodal.image_dhash(media).collect()
    }
    assert got == dict(enumerate(want))


def test_audio_envelope_survives_real_container(spark):
    """Same identity for the WAV leg: fingerprint through the real RIFF
    round-trip == direct window-sum gradient bands on the codepoints."""
    text = "pack my box with five dozen liquor jugs -- " * 8
    assert len(text) >= C.AUD_FP_SAMPLES
    w = C.AUD_FP_WINDOW
    samples = [ord(c) % 256 for c in text[: C.AUD_FP_SAMPLES]]
    env = [sum(samples[i : i + w]) for i in range(0, len(samples), w)]
    want = multimodal._gradient_bands(env, len(env))
    media = multimodal.synthesize_tone_wav(_mk_docs(spark, [text]))
    got = {
        r["band"]: r["val"] for r in multimodal.audio_envelope_hash(media).collect()
    }
    assert got == dict(enumerate(want))


def test_hamming_neardup_matches_bruteforce(spark, sf_dir):
    """The banded join must emit EXACTLY the all-pairs-hamming<=r pairs
    that share >=1 band (the LSH candidate contract) — verified against a
    driver-side brute force over the corpus hash table."""
    from itertools import combinations

    media = multimodal.synthesize_gray_bmp(load_table(spark, sf_dir, "documents"))
    hashes = multimodal.image_dhash(media)
    by_doc = {}
    for r in hashes.collect():
        by_doc.setdefault(r["doc_id"], {})[r["band"]] = r["val"]
    want = {}
    for a, b in combinations(sorted(by_doc), 2):
        va, vb = by_doc[a], by_doc[b]
        if not any(va[k] == vb[k] for k in va):
            continue  # no shared band -> not a candidate
        ham = sum(bin(va[k] ^ vb[k]).count("1") for k in va)
        if ham <= C.IMG_HAM_MAX:
            want[(a, b)] = ham
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in multimodal.hamming_neardup(hashes, C.IMG_HAM_MAX).collect()
    }
    assert got == want


def test_perceptual_neardup_plans_are_banded(spark, sf_dir):
    """The perceptual near-dup plans must be candidate-banded equi-joins
    — no CartesianProduct, no row-at-a-time Python. The hash/frame
    extraction itself must be Arrow-batched (MapInPandas) — checked on
    the extraction frame, since the pair stage reads the MATERIALIZED
    fingerprint table (localCheckpoint) and its plan shows LogicalRDD."""
    from espkinesis_spark.plans import physical_plan
    from espkinesis_spark.queries import registry
    from espkinesis_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    for extract in (
        lambda: multimodal.image_dhash(multimodal.synthesize_gray_bmp(docs)),
        lambda: multimodal.audio_envelope_hash(multimodal.synthesize_tone_wav(docs)),
        lambda: multimodal.sample_frames(multimodal.attach_binary(docs)),
    ):
        assert "MapInPandas" in physical_plan(extract())
    for name in ("ex_image_neardup", "ex_audio_neardup", "ex_video_neardup"):
        plan = physical_plan(registry()[name](spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name


def test_downsample_seq_oracle_precondition_holds():
    """The lttb_seq oracle assumes every series has n > LTTB_SEQ_BUCKETS
    points (the kernel emits short series whole; the unrolled SQL would
    silently diverge). Assert the precondition over EVERY test corpus so
    a future short series breaks loudly here, not in a parity diff
    (ADVICE r6)."""
    import duckdb

    for sf in ("0.001", "0.01", "0.1"):
        low = duckdb.sql(
            f"SELECT min(cnt) FROM (SELECT count(*) AS cnt FROM "
            f"read_parquet('/root/testdata/sf{sf}/events.parquet') "
            f"GROUP BY event_type)"
        ).fetchone()[0]
        assert low > C.LTTB_SEQ_BUCKETS, (sf, low)


def test_frequent_values_collision_column_names(spark):
    """A profiled column named 'total' must survive the share filter
    (the total is a literal, not a column); 'n'/'share' collide with the
    OUTPUT schema and must fail loudly, not ambiguously."""
    import pytest as _pytest

    from espkinesis_spark.functions import text

    df = spark.createDataFrame(
        [("a",)] * 9 + [("b",)], "total string"
    )
    out = text.frequent_values(df, "total", k=5).collect()
    assert [(r["total"], r["n"], r["share"]) for r in out] == [("a", 9, 0.9)]
    with _pytest.raises(ValueError, match="collides"):
        text.frequent_values(df.withColumnRenamed("total", "n"), "n", k=5)


def test_bpe_deep_merge_budget(spark):
    """Realistic merge budget (64): the trainer's fold chain (checkpointed
    every 3 rounds) and the encoder's 64-deep literal-replace chain must
    both COMPILE and stay bit-exact vs the direct python model — the
    >30-step codegen hazard watch (VERDICT r6 #6). Corpus is synthetic
    but pair-rich enough to sustain all 64 merges."""
    import random
    from collections import Counter

    from espkinesis_spark.functions import text

    rng = random.Random(42)
    vocab = [
        "".join(rng.choice("abcdef") for _ in range(rng.randrange(3, 9)))
        for _ in range(160)
    ]
    texts = [
        " ".join(rng.choice(vocab) for _ in range(40)) for _ in range(12)
    ]
    merges = 64

    # direct python BPE (same model as TestBpeTrainProperty, plus encode)
    freqs = Counter(w for t in texts for w in t.split() if w)
    words = {tuple(w): f for w, f in freqs.items()}
    traj = []
    for rank in range(1, merges + 1):
        pc = Counter()
        for syms, f in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        traj.append((rank, a, b, cnt))
        new_words = {}
        for syms, f in words.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            new_words[tuple(out)] = new_words.get(tuple(out), 0) + f
        words = new_words
    assert len(traj) == merges, "corpus too small to sustain the budget"

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
        for r in text.bpe_train(docs, merges=merges).collect()
    ]
    assert got == traj

    # encode under the same budget: python segmentation via sequential
    # replay of the trajectory per distinct word
    seg = {}
    for w in freqs:
        syms = list(w)
        for _, a, b, _ in traj:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms = out
        seg[w] = len(syms)
    want_docs = {}
    for i, t in enumerate(texts):
        ws = [w for w in t.split() if w]
        n_sub = sum(seg[w] for w in ws)
        want_docs[i] = (len(ws), n_sub, round(sum(map(len, ws)) / n_sub, 4))
    got_docs = {
        r["doc_id"]: (r["n_words"], r["n_subwords"], r["chars_per_subword"])
        for r in text.bpe_encode(docs, merges=merges).collect()
    }
    assert got_docs == want_docs


def test_shared_frame_neardup_constructed_and_capped(spark):
    """Hand-built frame tables: docs 0/1 share two distinct frames (pair
    emitted with n_shared=2, duplicate within-doc frames collapse), docs
    0/2 share one (below threshold, no pair), and a frame present in
    MORE than df_cap docs is excluded from pairing (the hot-shingle
    guard)."""
    rows = [
        (0, 0, "fA"), (0, 3, "fB"), (0, 6, "fB"), (0, 9, "fC"),
        (1, 0, "fA"), (1, 3, "fB"),
        (2, 0, "fC"),
    ]
    frames = spark.createDataFrame(
        rows, "doc_id long, frame_idx long, frame_md5 string"
    )
    out = {
        (r["doc_id_a"], r["doc_id_b"]): r["n_shared"]
        for r in multimodal.shared_frame_neardup(frames, min_shared=2).collect()
    }
    assert out == {(0, 1): 2}
    # hot frame: 'hot' in 3 docs with df_cap=2 -> contributes nothing
    hot = rows + [(0, 12, "hot"), (1, 6, "hot"), (2, 3, "hot")]
    frames2 = spark.createDataFrame(
        hot, "doc_id long, frame_idx long, frame_md5 string"
    )
    out2 = {
        (r["doc_id_a"], r["doc_id_b"]): r["n_shared"]
        for r in multimodal.shared_frame_neardup(
            frames2, min_shared=2, df_cap=2
        ).collect()
    }
    assert out2 == {(0, 1): 2}


def test_hamming_neardup_bucket_bands_knob(spark, sf_dir):
    """The corpus-scale knob: bucket_bands=2 (32-bit buckets) must emit a
    SUBSET of the 16-bit-band output with identical verified distances,
    and must retain every pair whose Hamming distance is inside the
    pigeonhole guarantee r < n_bands/bucket_bands (here: hamming < 2)."""
    media = multimodal.synthesize_gray_bmp(load_table(spark, sf_dir, "documents"))
    hashes = multimodal.image_dhash(media)
    narrow = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in multimodal.hamming_neardup(hashes, C.IMG_HAM_MAX).collect()
    }
    wide = {
        (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
        for r in multimodal.hamming_neardup(
            hashes, C.IMG_HAM_MAX, bucket_bands=2
        ).collect()
    }
    assert set(wide) <= set(narrow)
    assert all(narrow[k] == v for k, v in wide.items())
    guaranteed = {k for k, v in narrow.items() if v < 2}
    assert guaranteed <= set(wide)
    assert len(wide) > 0


def test_gradient_bands_pigeonhole_property():
    """Pure-python property (hypothesis): for any two equal-length grids,
    if the banded hashes differ in < n_bands bands' worth of Hamming
    distance... concretely: pairs within Hamming radius r < n_bands MUST
    share at least one identical band (the candidate-join recall
    contract), and the banded ints always reconstruct the exact bit
    sequence (lossless packing)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from espkinesis_spark.functions.multimodal import _gradient_bands

    grid = st.lists(st.integers(0, 255), min_size=72, max_size=72)

    @settings(max_examples=60, deadline=None)
    @given(grid, grid)
    def run(g1, g2):
        b1 = _gradient_bands(g1, 9)
        b2 = _gradient_bands(g2, 9)
        assert len(b1) == len(b2) == 4
        # lossless packing: 16 bits per band, 64 bits total
        assert all(0 <= v < (1 << 16) for v in b1 + b2)
        ham = sum(bin(x ^ y).count("1") for x, y in zip(b1, b2))
        if ham < 4:  # pigeonhole: fewer differing bits than bands
            assert any(x == y for x, y in zip(b1, b2))
        # self-distance is zero and banding is deterministic
        assert b1 == _gradient_bands(g1, 9)

    run()


def test_perceptual_ops_empty_and_short_inputs(spark):
    """Degenerate inputs: an empty corpus and docs shorter than every
    sampling region must yield EMPTY near-dup outputs with the stable
    schema — not a crash in the kernels or the checkpointed join."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    short = spark.createDataFrame(
        [(1, "tiny"), (2, "also tiny")], "doc_id long, text string"
    )
    for docs in (empty, short):
        img = multimodal.hamming_neardup(
            multimodal.image_dhash(multimodal.synthesize_gray_bmp(docs)),
            max_hamming=C.IMG_HAM_MAX,
        )
        assert img.columns == ["doc_id_a", "doc_id_b", "hamming"]
        assert img.count() == 0
        aud = multimodal.hamming_neardup(
            multimodal.audio_envelope_hash(multimodal.synthesize_tone_wav(docs)),
            max_hamming=C.AUD_HAM_MAX,
        )
        assert aud.count() == 0
    frames = multimodal.sample_frames(multimodal.attach_binary(short))
    vid = multimodal.shared_frame_neardup(frames)
    assert vid.columns == ["doc_id_a", "doc_id_b", "n_shared"]
    assert vid.count() == 0


def test_embed_gram_all_null_is_empty(spark):
    """An all-NULL embedding column reduces to an empty covariance table
    (the oracle's UNNEST-over-NULL yields no rows), schema intact."""
    vecs = spark.createDataFrame(
        [(0, None), (1, None)], "vec_id long, embedding array<double>"
    )
    out = similarity.embed_gram(vecs)
    assert out.columns == ["dim_i", "dim_j", "cov"]
    assert out.count() == 0


def test_dup_spans_apply_constructed(spark):
    """Hand-built corpus with span=3: doc 1 repeats doc 0's opening
    3-token window (cut; doc 0 keeps it as first occurrence), doc 2 is
    doc 0 verbatim (every window a later occurrence -> fully cut ->
    kept_md5 == md5('')), doc 3 is unique. Overlapping cut windows merge
    through the position-set union, so n_removed counts each token
    once."""
    import hashlib

    d0 = "a b c d e f"
    d1 = "a b c x y z"       # window (a b c) cut -> tokens 1-3 removed
    d2 = "a b c d e f"       # all 4 windows later occurrences -> all cut
    d3 = "p q r s t u"
    docs = spark.createDataFrame(
        [(0, d0), (1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_removed"], r["kept_md5"])
        for r in dedup.dup_spans_apply_from(*dedup.dup_spans_tables(docs, span=3), span=3).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert out[0] == (6, 0, md5(d0))
    assert out[1] == (6, 3, md5("x y z"))
    assert out[2] == (6, 6, md5(""))
    assert out[3] == (6, 0, md5(d3))


def test_dup_spans_apply_consistent_with_report(spark, sf_dir):
    """Coherence with the report op: a document reports n_cut > 0 iff the
    apply leg removed tokens from it, and removals are bounded by
    n_cut * span (overlap merging can only shrink the union)."""
    docs = load_table(spark, sf_dir, "documents")
    rep = {r["doc_id"]: r["n_cut"] for r in dedup.dup_spans(docs).collect()}
    app = {
        r["doc_id"]: r["n_removed"]
        for r in dedup.dup_spans_apply_from(*dedup.dup_spans_tables(docs)).collect()
    }
    for doc_id, n_cut in rep.items():
        removed = app[doc_id]
        assert (removed > 0) == (n_cut > 0), doc_id
        assert removed <= n_cut * C.SPAN_TOKENS, doc_id


def test_dup_spans_apply_matches_python_mirror(spark):
    """Property: the distributed cut/rewrite equals a direct python
    implementation of the Lee-et-al rule (first occurrence by (doc, pos)
    kept, every token under any later-occurrence window removed) over
    random small corpora."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    span = 3
    word = st.sampled_from(list("abcd"))
    doc = st.lists(word, min_size=0, max_size=12).map(" ".join)

    def mirror(texts):
        first = {}
        occs = []
        for d, t in enumerate(texts):
            toks = [w for w in t.split() if w]
            for p in range(len(toks) - span + 1):
                key = tuple(toks[p : p + span])
                occs.append((d, p, key))
                if key not in first or (d, p) < first[key]:
                    first[key] = (d, p)
        cut = {}
        for d, p, key in occs:
            if first[key] != (d, p):
                for tp in range(p, p + span):
                    cut.setdefault(d, set()).add(tp)
        out = {}
        for d, t in enumerate(texts):
            toks = [w for w in t.split() if w]
            kept = [w for i, w in enumerate(toks) if i not in cut.get(d, set())]
            out[d] = (
                len(toks),
                len(toks) - len(kept),
                hashlib.md5(" ".join(kept).encode()).hexdigest(),
            )
        return out

    @settings(max_examples=12, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=4))
    def run(texts):
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (r["n_tokens"], r["n_removed"], r["kept_md5"])
            for r in dedup.dup_spans_apply_from(
                *dedup.dup_spans_tables(docs, span=span), span=span
            ).collect()
        }
        want = {d: v for d, v in mirror(texts).items() if v[0] > 0}
        # docs tokenizing to zero tokens emit no row (posexplode of [])
        assert got == want

    run()


def _py_hdr_bucket(x: int, k: int) -> tuple[int, int]:
    shift = max(0, x.bit_length() - 1 - k)
    return shift, x >> shift


def _py_hdr_quantiles(xs: list[int], pcts, k: int):
    """Direct python model of the HDR sketch + extraction (bucket counts →
    cumulative rank over lb-ordered buckets)."""
    from collections import Counter

    counts = Counter(_py_hdr_bucket(x, k) for x in xs)
    items = sorted((top << shift, w) for (shift, top), w in counts.items())
    n = sum(w for _, w in items)
    out = {}
    for pct in pcts:
        r = (pct * n + 99) // 100
        cum = 0
        for lb, w in items:
            cum += w
            if cum >= r:
                out[pct] = (n, r, lb)
                break
    return out


def test_hdr_sketch_python_properties():
    """Hypothesis mirror of the HDR sketch math (no Spark): (1) the merge
    is exact — extracting from the sum of split sketches equals
    extracting from the whole; (2) the answer bucket CONTAINS the true
    target-rank order statistic; (3) the documented relative error bound
    holds: lb <= x_r and (x_r - lb)·2^k < lb unless the bucket is exact
    (shift == 0 ⇒ lb == x_r)."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from espkinesis_spark.functions import common as C

    k = C.HDR_SUB_BITS
    pcts = C.SKQ_PCTS

    @settings(max_examples=300, deadline=None)
    @given(
        st.lists(st.integers(1, 1 << 40), min_size=1, max_size=200),
        st.integers(0, 199),
    )
    def run(xs, cut):
        cut = min(cut, len(xs))
        a, b = xs[:cut], xs[cut:]
        whole = _py_hdr_quantiles(xs, pcts, k)
        # (1) merge = Counter addition: split sketches, add, extract
        merged = Counter(_py_hdr_bucket(x, k) for x in a)
        merged.update(_py_hdr_bucket(x, k) for x in b)
        items = sorted((top << shift, w) for (shift, top), w in merged.items())
        n = sum(w for _, w in items)
        for pct in pcts:
            r = (pct * n + 99) // 100
            cum = 0
            for lb, w in items:
                cum += w
                if cum >= r:
                    assert whole[pct] == (n, r, lb)
                    break
        # (2)+(3): containment and the relative error bound
        srt = sorted(xs)
        for pct in pcts:
            n_, r, lb = whole[pct]
            x_r = srt[r - 1]
            shift, top = _py_hdr_bucket(x_r, k)
            assert (top << shift) == lb, "answer bucket must contain x_r"
            assert lb <= x_r
            if shift == 0:
                assert lb == x_r
            else:
                assert (x_r - lb) * (1 << k) < lb

    run()


def test_hdr_sketch_spark_matches_python_model(spark):
    """The Spark implementation (quantize → bin()-derived buckets →
    window extraction) equals the direct python model on random inputs,
    including the fixed-point quantization step."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from espkinesis_spark.functions import common as C
    from espkinesis_spark.functions import quantiles

    k = C.HDR_SUB_BITS

    @settings(max_examples=8, deadline=None)
    @given(st.lists(st.integers(1, 10_000_000), min_size=1, max_size=60))
    def run(cents):
        df = spark.createDataFrame(
            [(c / C.HDR_SCALE,) for c in cents], "value double"
        )
        got = {
            r["pct"]: (r["n"], r["target_rank"], r["bucket_lb"], r["est"])
            for r in quantiles.hdr_quantiles(
                quantiles.hdr_buckets(df, "value").localCheckpoint(eager=True)
            ).collect()
        }
        # the /100 round-trips exactly for cents in this range under the
        # half-away quantizer, so the model buckets the raw cents
        want = _py_hdr_quantiles(cents, C.SKQ_PCTS, k)
        assert got.keys() == {int(p) for p in C.SKQ_PCTS}
        for pct, (n, r, lb) in want.items():
            assert got[pct] == (n, r, lb, lb / C.HDR_SCALE)

    run()


def test_hdr_stream_multibatch_equals_batch(spark, sf_dir, tmp_path_factory):
    """Mergeability IN the engine: HDR bucket counts maintained across 4
    replayed micro-batches equal the batch sketch — the complete-mode
    state is the sketch itself, merged by integer addition."""
    from pyspark.sql import functions as F

    from espkinesis_spark.functions import quantiles
    from espkinesis_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    chunk_dir = tmp_path_factory.mktemp("hdr_chunks")
    ev.withColumn("__c", F.pmod(F.hash("event_id"), F.lit(4))).write.partitionBy(
        "__c"
    ).mode("overwrite").parquet(str(chunk_dir / "ev"))
    src = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(chunk_dir / "ev"))
    )
    q = (
        quantiles.hdr_buckets(src, "value")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("hdr_mb_replay")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) > 1, "replay did not split into micro-batches"
    got = {tuple(r) for r in spark.table("hdr_mb_replay").collect()}
    want = {tuple(r) for r in quantiles.hdr_buckets(ev, "value").collect()}
    assert got == want


def test_bm25_partition_order_independent(spark, sf_dir):
    """The micro-unit integer score sum must be bit-identical under any
    partitioning (the embed_gram lesson: float sums are not)."""
    from espkinesis_spark.functions import text as T
    from espkinesis_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = {tuple(r) for r in T.bm25_from_tokens(T.bm25_tokens(docs)).collect()}
    for parts in (1, 7):
        tok = T.bm25_tokens(docs.repartition(parts))
        got = {tuple(r) for r in T.bm25_from_tokens(tok).collect()}
        assert got == base


def test_containment_df_cap_equivalence(spark, sf_dir):
    """The df-capped containment path must equal the capless single-pass
    on the real corpus (the neardup_jaccard_exact cap contract: exact
    for every pair sharing >= 1 sub-cap shingle — at this scale, all)."""
    from espkinesis_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(docs)
    base = {tuple(r) for r in dedup.containment_from_shingles(sh).collect()}
    capped = {
        tuple(r) for r in dedup.containment_from_shingles(sh, df_cap=64).collect()
    }
    assert capped == base and len(base) > 0


def test_cents_integral_divide_matches_half_away():
    """The (200·cents + 700) div 1400 expression used by the Q17/Q19
    scalars produces integer HUNDREDTHS of cents/700 — i.e. the 2-dp
    half-away rounding of the yearly average in currency units — and
    must equal the decimal model exactly for any non-negative cents
    (hypothesis mirror of the one integral divide)."""
    from decimal import ROUND_HALF_UP, Decimal

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=500, deadline=None)
    @given(st.integers(0, 10**15))
    def run(cents):
        got = (200 * cents + 700) // 1400  # hundredths of cents/700
        want = (Decimal(cents * 100) / Decimal(700)).quantize(
            Decimal("1"), rounding=ROUND_HALF_UP
        )
        assert got == int(want)

    run()


def test_hdr_batch_plan_materializes_buckets_once(spark, sf_dir):
    """ex_hdr_quantile's extraction must run over the CHECKPOINTED bucket
    table — no parquet scan may survive into the extraction plan (two
    branches would re-scan events otherwise; the multi-branch rule)."""
    from espkinesis_spark import queries
    from espkinesis_spark.plans import physical_plan

    plan = physical_plan(queries.registry()["ex_hdr_quantile"](spark, sf_dir))
    assert "Scan parquet" not in plan, plan


def test_cents_scalars_partition_order_independent(spark, sf_dir):
    """Q17/Q19's exact-cents scalar outputs must be bit-identical under
    any partitioning (decimal(38,0) accumulation + one integral divide
    — the embed_gram discipline)."""
    from espkinesis_spark import queries

    for name in ("ex_small_qty_revenue", "ex_disjunctive_revenue"):
        base = queries.registry()[name](spark, sf_dir).collect()
        assert len(base) == 1
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            for parts in ("1", "7"):
                spark.conf.set("spark.sql.shuffle.partitions", parts)
                got = queries.registry()[name](spark, sf_dir).collect()
                assert [tuple(r) for r in got] == [tuple(r) for r in base], name
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_r9_exact_groups_partition_order_independent(spark, sf_dir):
    """The round-9 exact-cents queries (full Q1, Q6, Q8, Q7) must return
    bit-identical rows under any partitioning — integer accumulation,
    doubles derived only by division from the integer sums."""
    from espkinesis_spark import queries

    for name in (
        "ex_pricing_summary",
        "ex_forecast_revenue",
        "ex_market_share",
        "ex_volume_shipping",
    ):
        base = sorted(
            [tuple(r) for r in queries.registry()[name](spark, sf_dir).collect()]
        )
        assert base
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            for parts in ("1", "7"):
                spark.conf.set("spark.sql.shuffle.partitions", parts)
                got = sorted(
                    [
                        tuple(r)
                        for r in queries.registry()[name](spark, sf_dir).collect()
                    ]
                )
                assert got == base, name
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


class TestWinnowProperty:
    """Hypothesis mirror of the winnowing guarantee (Schleimer et al.
    2003): two docs sharing a token run of ≥ WINNOW_W + SHINGLE_WORDS - 1
    tokens share at least one fingerprint, and the Spark fingerprint set
    equals a direct python model of the same scheme."""

    _spark = None

    import pytest as _pytest

    @_pytest.fixture(autouse=True)
    def _stash(self, spark):
        TestWinnowProperty._spark = spark

    @staticmethod
    def _model_fps(text: str) -> set[int]:
        import hashlib

        from espkinesis_spark.functions import common as C

        toks = text.split() if text.strip() else []
        n = len(toks)
        k = C.SHINGLE_WORDS
        if n <= k - 1:
            grams = [" ".join(toks[:n])] if n else [""]
        else:
            grams = [" ".join(toks[i : i + k]) for i in range(n - k + 1)]
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % C.MINHASH_P
            for g in grams
        ]
        return {
            min(hs[i : i + C.WINNOW_W]) for i in range(len(hs))
        }

    def test_matches_python_model_and_guarantee(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from espkinesis_spark.functions import common as C
        from espkinesis_spark.functions import dedup

        spark = TestWinnowProperty._spark
        word = st.sampled_from(["a", "b", "c", "d"])
        doc = st.lists(word, min_size=1, max_size=12).map(" ".join)
        run_len = C.WINNOW_W + C.SHINGLE_WORDS - 1

        @settings(max_examples=8, deadline=None)
        @given(st.lists(doc, min_size=1, max_size=4), st.lists(word, min_size=run_len, max_size=run_len))
        def run(texts, shared_run):
            # plant the shared run into the first two docs (if present)
            texts = list(texts)
            run_txt = " ".join(shared_run)
            if len(texts) >= 2:
                texts[0] = texts[0] + " " + run_txt
                texts[1] = run_txt + " " + texts[1]
            sdf = spark.createDataFrame(
                [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
            )
            got = {
                (r.doc_id, r.fp)
                for r in dedup.winnow_fingerprints(sdf).collect()
            }
            want = {
                (i, fp)
                for i, t in enumerate(texts)
                for fp in self._model_fps(t)
            }
            assert got == want
            if len(texts) >= 2:
                fps0 = {fp for d, fp in got if d == 0}
                fps1 = {fp for d, fp in got if d == 1}
                assert fps0 & fps1, "shared run must share a fingerprint"

        run()


class TestRangeJoinBinningProperty:
    """Hypothesis mirror of the binned range join: for random event sets
    (clustered timestamps so in-range pairs actually occur, including
    exact bucket-boundary gaps), the bucket-fanout equi-join must find
    EXACTLY the brute-force pair set — no pair lost at a bucket edge,
    none duplicated by the two-bucket fanout."""

    _spark = None

    import pytest as _pytest

    @_pytest.fixture(autouse=True)
    def _stash(self, spark):
        TestRangeJoinBinningProperty._spark = spark

    def test_matches_brute_force(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from pyspark.sql import functions as F

        spark = TestRangeJoinBinningProperty._spark
        delta = 300 * 1_000_000
        # timestamps drawn near bucket boundaries: k*delta + small offset,
        # including offset 0 and exactly-delta gaps (the tie semantics)
        t_strategy = st.tuples(
            st.integers(min_value=0, max_value=4),      # bucket index
            st.sampled_from([0, 1, delta // 2, delta - 1]),  # in-bucket offset
        ).map(lambda kv: kv[0] * delta + kv[1])
        row = st.tuples(st.integers(min_value=1, max_value=2), t_strategy)

        @settings(max_examples=10, deadline=None)
        @given(st.lists(row, min_size=2, max_size=12))
        def run(rows):
            rows = [(u, t) for u, t in rows]
            want = {
                (ua, ta, tb)
                for ua, ta in rows
                for ub, tb in rows
                if ua == ub and ta < tb <= ta + delta
            }
            df = spark.createDataFrame(rows, "user_id long, t long")
            a = df.select(
                "user_id",
                F.col("t").alias("t_a"),
                F.explode(
                    F.array(
                        F.expr(f"CAST(t div {delta} AS BIGINT)"),
                        F.expr(f"CAST(t div {delta} AS BIGINT) + 1"),
                    )
                ).alias("bucket"),
            )
            b = df.select(
                "user_id",
                F.col("t").alias("t_b"),
                F.expr(f"CAST(t div {delta} AS BIGINT)").alias("bucket"),
            )
            got_rows = (
                a.join(b, ["user_id", "bucket"])
                .filter(
                    (F.col("t_b") > F.col("t_a"))
                    & (F.col("t_b") <= F.col("t_a") + delta)
                )
                .collect()
            )
            got = [(r["user_id"], r["t_a"], r["t_b"]) for r in got_rows]
            # exact set AND no fanout duplicates (each pair found once):
            # duplicate-valued source rows multiply combinatorially in both
            # the model and the join, so compare sorted multisets
            want_multi = sorted(
                (ua, ta, tb)
                for ua, ta in rows
                for ub, tb in rows
                if ua == ub and ta < tb <= ta + delta
            )
            assert sorted(got) == want_multi
            assert set(got) == want

        run()


def test_repetition_stats_matches_python_model(spark, sf_dir):
    """Independent python trigram model (breaks the mirrored-shingle-SQL
    blindness): recompute n_grams / n_distinct / max_repeat directly
    from the raw text, including the short-doc degenerate rule (< 3
    tokens -> one shorter shingle)."""
    from collections import Counter

    from espkinesis_spark import queries
    from espkinesis_spark.tables import load_table

    got = {
        r["doc_id"]: (r["n_grams"], r["n_distinct"], r["max_repeat"])
        for r in queries.registry()["ex_repetition_stats"](spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    assert len(got) == len(docs) > 0
    for row in docs:
        toks = row["text"].split()
        if len(toks) <= 2:
            grams = [" ".join(toks)]
        else:
            grams = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]
        c = Counter(grams)
        want = (len(grams), len(c), max(c.values()))
        assert got[row["doc_id"]] == want, (row["doc_id"], got[row["doc_id"]], want)


def test_knn_graph_mutual_and_degree_capped(spark, sf_dir):
    """Mutual kNN graph invariants: every edge is canonical (src < dst),
    appears once, both directions existed in the directed top-k (mutual
    sparsifier), and no vertex exceeds the degree cap in the DIRECTED
    graph it was cut from."""
    from espkinesis_spark.functions import common as C
    from espkinesis_spark.functions import similarity
    from espkinesis_spark.tables import load_table

    vecs = load_table(spark, sf_dir, "embeddings")
    directed = similarity.knn_graph(vecs, mutual=False)
    rows = directed.collect()
    from collections import Counter

    out_deg = Counter(r["src"] for r in rows)
    assert max(out_deg.values()) <= C.KNN_GRAPH_K
    directed_set = {(r["src"], r["dst"]) for r in rows}
    mutual = similarity.knn_graph(vecs).collect()
    assert len(mutual) > 0
    seen = set()
    for r in mutual:
        assert r["src"] < r["dst"]
        assert (r["src"], r["dst"]) not in seen
        seen.add((r["src"], r["dst"]))
        assert (r["src"], r["dst"]) in directed_set
        assert (r["dst"], r["src"]) in directed_set


def test_knn_graph_directed_plan_bounded(spark, sf_dir):
    """The directed candidate pipeline (the part the mutual join's
    checkpoint hides from the final plan) must never plan a cartesian /
    nested-loop join or row-python eval: candidates come from the
    bucket-keyed Arrow cogroup, the cap from a window."""
    from espkinesis_spark.functions import similarity
    from espkinesis_spark.plans import audit
    from espkinesis_spark.tables import load_table

    vecs = load_table(spark, sf_dir, "embeddings")
    plan = audit.physical_plan(similarity.knn_graph(vecs, mutual=False))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_pq_recall_gate_vs_bruteforce(spark, sf_dir):
    """The ann_recall pattern for PQ: ADC top-5 must keep >= 0.4 mean
    recall against exact brute force (measured 0.54 at sf0.001 / 0.63 at
    sf0.01 with M=16,K=64 — the floor leaves regression margin; the full
    config sweep is in NOTES.md). A codebook/encode/ADC bug collapses
    recall to near-random (~0.01), so the floor separates 'working
    quantizer' from 'plausible-looking garbage'."""
    from pyspark.sql import functions as F

    from espkinesis_spark.functions import common as C
    from espkinesis_spark.functions import similarity
    from espkinesis_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < C.ANN_QUERY_MAX_ID)
    truth = {
        (r["vec_id"], r["neighbor_id"])
        for r in similarity.topk_bruteforce(q, emb, k=C.ANN_TOPK).collect()
    }
    pq = {
        (r["vec_id"], r["neighbor_id"])
        for r in similarity.topk_pq(emb).collect()
    }
    assert len(truth) > 0
    assert len(truth & pq) / len(truth) >= 0.4


def test_pq_codes_are_compact(spark, sf_dir):
    """Every vector encodes to exactly PQ_M codes, each in [0, PQ_K) —
    the uint8-representability the compression claim rests on."""
    from espkinesis_spark.functions import common as C
    from espkinesis_spark.functions import similarity
    from espkinesis_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.pq_train(emb)
    codes = similarity.pq_encode(emb, cents).collect()
    from collections import Counter

    per_vec = Counter(r["vec_id"] for r in codes)
    assert set(per_vec.values()) == {C.PQ_M}
    assert all(0 <= r["code"] < C.PQ_K for r in codes)
    assert len(per_vec) == emb.count()


def test_ivfpq_neighbors_within_ivf_candidates(spark, sf_dir):
    """IVFADC invariants: every returned neighbor must lie inside the IVF
    candidate set (probed buckets — the pruning is real, not decorative),
    and recall@3 vs brute force stays >= 0.25 (measured 0.37/0.38; IVF
    alone reads ~0.47, so the floor separates 'compounded pruning+ADC
    loss' from 'broken composition')."""
    from pyspark.sql import functions as F

    from espkinesis_spark.functions import common as C
    from espkinesis_spark.functions import similarity
    from espkinesis_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") % C.IVF_CENTROID_MOD == 0)
    assign = {
        r["vec_id"]: r["centroid_id"]
        for r in similarity.ivf_assign(emb, cents).collect()
    }
    got = similarity.topk_ivfpq(emb).collect()
    assert len(got) > 0
    q = emb.filter(F.col("vec_id") < C.ANN_QUERY_MAX_ID)
    truth = {
        (r["vec_id"], r["neighbor_id"])
        for r in similarity.topk_bruteforce(q, emb, k=C.IVF_TOPK).collect()
    }
    # a neighbor is valid iff its assigned centroid is one the query
    # probed; rebuild the probe set in DuckDB via the same rounded-cosine
    # top-nprobe rule
    from espkinesis_spark.verify import duck_connection

    con = duck_connection(sf_dir)
    try:
        rows = con.execute(
            f"""
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
            SELECT vec_id, centroid_id FROM (
              SELECT q.vec_id, c.vec_id AS centroid_id,
                     row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY {_duck_cos('q.e', 'c.e')} DESC, c.vec_id) AS rn
              FROM v q CROSS JOIN v c
              WHERE q.vec_id < {C.ANN_QUERY_MAX_ID} AND c.vec_id % {C.IVF_CENTROID_MOD} = 0)
            WHERE rn <= {C.IVF_NPROBE}"""
        ).fetchall()
    finally:
        con.close()
    probed = {}
    for vec_id, centroid_id in rows:
        probed.setdefault(vec_id, set()).add(centroid_id)
    for r in got:
        assert assign[r["neighbor_id"]] in probed[r["vec_id"]]
    hits = len(truth & {(r["vec_id"], r["neighbor_id"]) for r in got})
    assert hits / len(truth) >= 0.25


# -- round-10 late wave: z-order layout, CCNet terciles, class balance, -----
# -- knn clustering ---------------------------------------------------------


def test_z_value_matches_python_interleave(spark):
    """The codegen interleave equals the reference python bit-interleave
    for values across the full 16-bit grid (corners + mixed patterns)."""
    from espkinesis_spark.functions import layout

    vals = [0, 1, 2, 3, 0x5555, 0xAAAA, 0x00FF, 0xFF00, 0xFFFF, 12345, 54321]
    rows = [(x, y) for x in vals for y in vals]

    def z_py(x: int, y: int) -> int:
        out = 0
        for i in range(C.ZORDER_BITS):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    df = spark.createDataFrame(rows, "x long, y long").select(
        "x", "y", layout.z_value(F.col("x"), F.col("y")).alias("z")
    )
    for r in df.collect():
        assert r["z"] == z_py(r["x"], r["y"]), (r["x"], r["y"])


def test_z_report_bucket_narrow_form_equals_wide_form(spark):
    """The 6-bit report bucket can be built as z_value(uq >> 13,
    tq >> 13, bits=3) — 6 interleave terms — instead of
    shiftright(z_value(uq, tq, 16), 26) — 32 terms. The two are
    bit-identical (the top 6 z-bits ARE the interleave of each axis'
    top-3 bits). This identity is ALSO what justifies ex_zrange_query's
    further reduction: its octile prefilter compares the shifted axis
    quantiles directly — the same bucket-rectangle intersection with no
    per-row interleave at all (the wide form, inlined ~12x by project
    collapse, blew Janino's 64 KB limit into interpreted execution —
    r15 VERDICT #3 — and even the compiled narrow form measured ~7x
    slower than the reduction). This test pins the identity across the
    full grid's corners so neither rewrite can drift."""
    from espkinesis_spark.functions import layout

    rb = C.ZORDER_REPORT_BITS // 2
    axis_shift = C.ZORDER_BITS - rb
    wide_shift = 2 * C.ZORDER_BITS - C.ZORDER_REPORT_BITS
    vals = [0, 1, 2, 3, 0x5555, 0xAAAA, 0x00FF, 0xFF00, 0xFFFF, 12345, 54321]
    rows = [(x, y) for x in vals for y in vals]
    df = spark.createDataFrame(rows, "x long, y long").select(
        F.shiftright(layout.z_value(F.col("x"), F.col("y")), wide_shift).alias(
            "wide"
        ),
        layout.z_value(
            F.shiftright(F.col("x"), axis_shift),
            F.shiftright(F.col("y"), axis_shift),
            bits=rb,
        ).alias("narrow"),
    )
    for r in df.collect():
        assert r["wide"] == r["narrow"]


def test_zorder_report_is_biaxially_local(spark, sf_dir):
    """Every z-bucket spans at most one octile (+1 grid cell of rounding)
    of EACH axis — the biaxial locality a plain time-sort cannot give
    (its buckets span the full user range). Also pins that the report
    actually uses both axes: more than 8 distinct buckets."""
    from espkinesis_spark import queries

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("long"), F.unix_millis("ts").alias("t_ms")
    )
    b = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("t_ms"), F.max("t_ms")
    ).first()
    umn, umx, tmn, tmx = b
    rows = queries.ex_zorder_layout(spark, sf_dir).collect()
    octiles = 1 << (C.ZORDER_REPORT_BITS // 2)
    u_oct = (umx - umn) // octiles + 2
    t_oct = (tmx - tmn) // octiles + 2
    assert len(rows) > 8  # both axes contribute report bits
    for r in rows:
        assert r["u_span"] <= u_oct, (r["zbucket"], r["u_span"], u_oct)
        assert r["t_span_ms"] <= t_oct, (r["zbucket"], r["t_span_ms"], t_oct)
    assert sum(r["n"] for r in rows) == ev.count()


def test_zorder_write_plan_range_partitions(spark, sf_dir):
    """The production write path pins a RangePartitioning exchange + an
    in-partition sort on the z column (contiguous z-ranges per file)."""
    from espkinesis_spark.functions import layout

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", (F.col("event_id") % 1024).cast("long").alias("z")
    )
    plan = (
        layout.zorder_write_plan(ev, "z", 8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan.lower()
    assert "sort" in plan.lower()


def test_perplexity_terciles_match_python_model(spark, sf_dir):
    """Independent recompute of the tercile rule: collect the per-doc
    micro-unit scores, derive thresholds as the ceil(n/3)-th /
    ceil(2n/3)-th smallest in plain python, and require the Spark
    bucket labels to replay exactly. Also pins non-vacuity (all three
    buckets populated) and ties-to-lower (every doc scoring exactly t1
    is labeled head)."""
    from espkinesis_spark import queries
    from espkinesis_spark.functions import text as text_fns

    docs = load_table(spark, sf_dir, "documents")
    got = {
        r["doc_id"]: (r["bigram_logprob"], r["ppl_bucket"])
        for r in queries.registry()["ex_perplexity_buckets"](spark, sf_dir).collect()
    }
    scored = {
        r["doc_id"]: round(r["bigram_logprob"] * C.PPL_SCALE)
        for r in text_fns.bigram_logprob(docs).collect()
    }
    mus = sorted(scored.values())
    n = len(mus)
    t1 = mus[(n + 2) // 3 - 1]
    t2 = mus[(2 * n + 2) // 3 - 1]
    assert set(scored) == set(got)
    buckets = {"head": 0, "middle": 0, "tail": 0}
    for doc_id, mu in scored.items():
        want = "head" if mu <= t1 else ("middle" if mu <= t2 else "tail")
        assert got[doc_id][1] == want, (doc_id, mu, t1, t2)
        buckets[want] += 1
    assert all(v > 0 for v in buckets.values()), buckets
    for doc_id, mu in scored.items():  # ties-to-lower pinned explicitly
        if mu == t1:
            assert got[doc_id][1] == "head"


def test_balance_classes_equalizes_to_minority(spark, sf_dir):
    """Every class is cut to exactly the minority size, the sample is
    deterministic across runs, and the op is non-vacuous (something is
    actually dropped at every SF)."""
    from espkinesis_spark import queries

    docs = load_table(spark, sf_dir, "documents")
    per = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    m = min(per.values())
    kept = queries.ex_balance_classes(spark, sf_dir).collect()
    by_lang: dict[str, int] = {}
    for r in kept:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
        assert 1 <= r["sample_rank"] <= m
    assert by_lang == {lang: m for lang in per}
    assert len(kept) < sum(per.values())  # non-vacuous: majority classes cut
    again = {(r["doc_id"], r["lang"]) for r in queries.ex_balance_classes(spark, sf_dir).collect()}
    assert again == {(r["doc_id"], r["lang"]) for r in kept}


def test_knn_clusters_match_python_union_find(spark, sf_dir):
    """Independent CC recompute: union-find in plain python over the
    (driver-proven) mutual kNN edge table must reproduce every label
    and size; cluster_id is the min member id by contract."""
    from espkinesis_spark import queries

    edges = [
        (r["src"], r["dst"])
        for r in similarity.knn_graph(load_table(spark, sf_dir, "embeddings")).collect()
        if r["cos"] >= C.KNN_CLUSTER_MIN_COS
    ]
    parent: dict[int, int] = {}

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for u, v in edges:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp: dict[int, list[int]] = {}
    for node in parent:
        comp.setdefault(find(node), []).append(node)
    want: dict[int, tuple[int, int]] = {}
    for members in comp.values():
        lo, size = min(members), len(members)
        for nd in members:
            want[nd] = (lo, size)
    got = {
        r["vec_id"]: (r["cluster_id"], r["cluster_size"])
        for r in queries.ex_knn_clusters(spark, sf_dir).collect()
    }
    assert got == want
    assert len({cid for cid, _ in got.values()}) > 1  # non-vacuous clustering


def test_balance_classes_skew_equals_plain(spark, sf_dir):
    """The salted two-phase top-m is LOSSLESS: identical rows (incl.
    sample_rank) to the single-window form at every SF."""
    from espkinesis_spark import queries

    plain = {
        (r["doc_id"], r["lang"], r["sample_rank"])
        for r in queries.ex_balance_classes(spark, sf_dir).collect()
    }
    skew = {
        (r["doc_id"], r["lang"], r["sample_rank"])
        for r in queries.ex_balance_classes_skew(spark, sf_dir).collect()
    }
    assert skew == plain and len(plain) > 0


def test_knn_dedup_apply_keeps_cluster_representatives(spark, sf_dir):
    """Survivors = corpus minus every non-representative cluster member;
    recomputed per label from the cluster report + the raw corpus."""
    from espkinesis_spark import queries

    clusters = queries.ex_knn_clusters(spark, sf_dir).collect()
    dropped = {r["vec_id"] for r in clusters if r["vec_id"] != r["cluster_id"]}
    vecs = load_table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    want: dict[str, tuple[int, int]] = {}
    for r in vecs:
        if r["vec_id"] in dropped:
            continue
        n, s = want.get(r["label"], (0, 0))
        want[r["label"]] = (n + 1, s + r["vec_id"])
    got = {
        r["label"]: (r["n_kept"], r["sum_ids"])
        for r in queries.ex_knn_dedup_apply(spark, sf_dir).collect()
    }
    assert got == want
    assert dropped, "apply is vacuous: no cluster member was dropped"


def test_st_zorder_shards_are_balanced_and_full(spark, sf_dir):
    """The streaming z-shard report must be NON-degenerate: all 64 low-bit
    shards populated and balanced (no shard over 3x the mean) — the
    property the first top-bits-of-modular-grid cut silently lacked
    (8 buckets, near-full spans; caught by review)."""
    from espkinesis_spark import queries

    rows = queries.registry()["st_zorder_layout"](spark, sf_dir).collect()
    assert len(rows) == 1 << (C.ZORDER_REPORT_BITS), len(rows)
    counts = [r["n"] for r in rows]
    mean = sum(counts) / len(counts)
    assert max(counts) <= 3 * mean, (max(counts), mean)
    assert min(counts) > 0


def test_z_value_bijective_and_monotone_python_model():
    """Property test over the PYTHON twin of the interleave (the Spark
    expression equals it — pinned by test_z_value_matches_python_interleave):
    z is a bijection on the 16-bit grid square (deinterleave recovers
    both coordinates) and is monotone in each coordinate when the other
    is held fixed — the two facts the layout claims rest on."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    grid = st.integers(min_value=0, max_value=(1 << C.ZORDER_BITS) - 1)

    def z_py(x: int, y: int) -> int:
        out = 0
        for i in range(C.ZORDER_BITS):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    def unz_py(z: int) -> tuple[int, int]:
        x = y = 0
        for i in range(C.ZORDER_BITS):
            x |= ((z >> (2 * i)) & 1) << i
            y |= ((z >> (2 * i + 1)) & 1) << i
        return x, y

    @given(x=grid, y=grid, d=st.integers(min_value=1, max_value=255))
    @settings(max_examples=300, deadline=None)
    def check(x: int, y: int, d: int) -> None:
        z = z_py(x, y)
        assert 0 <= z < 1 << (2 * C.ZORDER_BITS)
        assert unz_py(z) == (x, y)  # bijective
        hi = (1 << C.ZORDER_BITS) - 1
        if x + d <= hi:
            assert z_py(x + d, y) > z  # monotone in x at fixed y
        if y + d <= hi:
            assert z_py(x, y + d) > z  # monotone in y at fixed x

    check()


def test_bpe_fertility_consistent_with_per_doc_encode(spark, sf_dir):
    """Independent cross-entry recompute (the magnitude-audit discipline
    for a mirrored-oracle ratio): the per-language rollup must equal
    plain python sums over ex_bpe_encode's per-doc rows joined to the
    lang dimension — and the fertility column must NOT be constant
    across languages (the constant-payload vacuity class)."""
    from espkinesis_spark import queries

    langs = {
        r["doc_id"]: r["lang"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    }
    agg: dict[str, list[int]] = {}
    for r in queries.ex_bpe_encode(spark, sf_dir).collect():
        a = agg.setdefault(langs[r["doc_id"]], [0, 0, 0])
        a[0] += 1
        a[1] += r["n_words"]
        a[2] += r["n_subwords"]
    got = {
        r["lang"]: (r["n_docs"], r["n_words"], r["n_subwords"], r["fertility"])
        for r in queries.ex_bpe_fertility(spark, sf_dir).collect()
    }
    assert set(got) == set(agg)
    for lang, (nd, nw, ns) in agg.items():
        gnd, gnw, gns, fert = got[lang]
        assert (gnd, gnw, gns) == (nd, nw, ns), lang
        assert fert == round(ns / nw, 4), lang
    assert len({f for _, _, _, f in got.values()}) > 1, "fertility constant"


def test_token_budget_mix_prefix_is_maximal(spark, sf_dir):
    """Python recompute of the budgeting rule: per source, the kept set
    must be exactly the maximal md5-order prefix of whole documents
    within floor(p_s * T_total / 2) tokens — under budget, and the next
    document would overflow it. Non-vacuity: every source keeps some
    but not all documents' tokens."""
    import hashlib
    import math

    from espkinesis_spark import queries
    from espkinesis_spark.functions import text as text_fns

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", F.size(text_fns.tokens(F.col("text"))).alias("n_tok"))
        .collect()
    )
    by_src: dict[str, list[tuple[str, int, int]]] = {}
    for r in docs:
        key = hashlib.md5(str(r["doc_id"]).encode()).hexdigest()
        by_src.setdefault(r["source"], []).append((key, r["doc_id"], r["n_tok"]))
    totals = {s: sum(t for _, _, t in rows) for s, rows in by_src.items()}
    tt = sum(totals.values())
    z = 0.0  # the bit-stable fold: sqrt added in sorted-source order
    for s in sorted(totals):
        z += math.sqrt(float(totals[s]))
    kept = {}
    for r in queries.ex_token_budget_mix(spark, sf_dir).collect():
        kept.setdefault(r["source"], set()).add(r["doc_id"])
    for s, rows in by_src.items():
        budget = math.floor(math.sqrt(float(totals[s])) / z * tt / 2.0)
        rows.sort()
        cum, want = 0, set()
        for _, doc_id, t in rows:
            if cum + t > budget:
                break
            cum += t
            want.add(doc_id)
        assert kept.get(s, set()) == want, s
        assert 0 < len(want) < len(rows), (s, len(want), len(rows))


def test_zrange_prefilter_prunes_and_is_lossless(spark, sf_dir):
    """The z-bucket octile prefilter must PRUNE (keep < 64 of the 64
    report buckets for the quarter-box) and must be LOSSLESS for many
    box shapes: for a sweep of deterministic boxes, rows kept by the
    bucket prefilter + exact predicate equal the direct predicate —
    checked in plain python over the quantized table."""
    from espkinesis_spark.functions import layout

    ev = (
        load_table(spark, sf_dir, "events")
        .select(F.col("user_id").cast("long"), F.unix_millis("ts").alias("t_ms"))
        .collect()
    )
    umn = min(r["user_id"] for r in ev); umx = max(r["user_id"] for r in ev)
    mn = min(r["t_ms"] for r in ev); mx = max(r["t_ms"] for r in ev)
    su, st_ = umx - umn + 1, mx - mn + 1

    def oct_u(u): return (u - umn) * 8 // su
    def oct_t(t): return (t - mn) * 8 // st_

    boxes = [
        (umn + su // 4, umn + 3 * su // 4 - 1, mn + st_ // 4, mn + 3 * st_ // 4 - 1),
        (umn, umn, mn, mx),                      # 1-unit user slice
        (umn, umx, mn + st_ // 2, mn + st_ // 2),  # 1-ms time slice
        (umn + su // 8, umn + su // 3, mn + st_ // 5, mn + st_ // 2),
        (umx, umx, mx, mx),                      # corner point
    ]
    for qulo, quhi, qtlo, qthi in boxes:
        direct = [
            r for r in ev
            if qulo <= r["user_id"] <= quhi and qtlo <= r["t_ms"] <= qthi
        ]
        pre = [
            r for r in ev
            if oct_u(qulo) <= oct_u(r["user_id"]) <= oct_u(quhi)
            and oct_t(qtlo) <= oct_t(r["t_ms"]) <= oct_t(qthi)
        ]
        exact = [
            r for r in pre
            if qulo <= r["user_id"] <= quhi and qtlo <= r["t_ms"] <= qthi
        ]
        assert len(exact) == len(direct), (qulo, quhi, qtlo, qthi)
    # pruning effectiveness on the quarter-box: the half-range box spans
    # 4-5 octiles per axis -> at most 25 of the 64 octile cells survive
    qulo, quhi, qtlo, qthi = boxes[0]
    kept_cells = (oct_u(quhi) - oct_u(qulo) + 1) * (oct_t(qthi) - oct_t(qtlo) + 1)
    assert kept_cells < 64 and kept_cells <= 25, kept_cells
    # and the de-interleave helper agrees with the direct octile math
    rows = (
        load_table(spark, sf_dir, "events")
        .select(F.col("user_id").cast("long"), F.unix_millis("ts").alias("t_ms"))
        .crossJoin(F.broadcast(spark.createDataFrame(
            [(umn, umx, mn, mx)], "__umn long, __umx long, __mn long, __mx long")))
        .withColumn("__uq", layout.range_quantize("user_id", "__umn", "__umx"))
        .withColumn("__tq", layout.range_quantize("t_ms", "__mn", "__mx"))
        .withColumn("__b", F.shiftright(layout.z_value(F.col("__uq"), F.col("__tq")), 26))
        .select(
            "user_id", "t_ms",
            layout.bucket_axis_bits(F.col("__b"), 0).alias("bu"),
            layout.bucket_axis_bits(F.col("__b"), 1).alias("bt"),
        )
        .collect()
    )
    for r in rows:
        assert r["bu"] == oct_u(r["user_id"]) and r["bt"] == oct_t(r["t_ms"])


def test_z_box_intervals_cover_is_lossless_sorted_and_merged():
    """Property-check the BIGMIN-style quadtree cover against a brute
    force over a small grid: for random boxes, (a) the interval union
    always CONTAINS every z of every cell intersecting the box
    (losslessness — budget only coarsens, never drops); (b) with an
    unconstrained budget the cover is EXACT (covers nothing outside the
    box); (c) intervals come back sorted, disjoint, and fully merged
    (no two adjacent); (d) a degenerate empty box yields []."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from espkinesis_spark.functions import layout

    BITS = 5  # 32x32 grid — brute force stays tiny

    def z(x: int, y: int) -> int:
        return sum(((x >> i) & 1) << (2 * i) for i in range(BITS)) + sum(
            ((y >> i) & 1) << (2 * i + 1) for i in range(BITS)
        )

    coord = st.integers(min_value=0, max_value=(1 << BITS) - 1)

    @given(x0=coord, x1=coord, y0=coord, y1=coord)
    @settings(max_examples=60, deadline=None)
    def check(x0, x1, y0, y1):
        x_lo, x_hi = min(x0, x1), max(x0, x1)
        y_lo, y_hi = min(y0, y1), max(y0, y1)
        box_z = {
            z(x, y)
            for x in range(x_lo, x_hi + 1)
            for y in range(y_lo, y_hi + 1)
        }
        for budget in (1, 4, 8, 4096):
            ivs = layout.z_box_intervals(
                x_lo, x_hi, y_lo, y_hi, bits=BITS, max_intervals=budget
            )
            assert 1 <= len(ivs) <= max(1, budget)  # the budget CONTRACT
            assert ivs == sorted(ivs)
            for (alo, ahi), (blo, bhi) in zip(ivs, ivs[1:]):
                assert ahi + 1 < blo  # disjoint AND merged
            covered = {v for lo, hi in ivs for v in range(lo, hi + 1)}
            assert box_z <= covered  # lossless under any budget
            if budget == 4096:
                assert covered == box_z  # unconstrained -> exact

    check()
    assert layout.z_box_intervals(5, 4, 0, 3, bits=BITS) == []


def test_z_box_intervals_lossless_at_production_bit_depth():
    """The 32×32 brute-force property can't reach bits=16 (2^32 cells);
    sample instead: for random boxes on the full production grid, every
    SAMPLED in-box cell's z value must fall inside the cover (losslessness
    at depth), the cover must respect the budget, and its covered z-mass
    must be at least the box's cell count."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from espkinesis_spark.functions import common as C
    from espkinesis_spark.functions import layout

    BITS = C.ZORDER_BITS
    n = 1 << BITS

    def z(x: int, y: int) -> int:
        return sum(((x >> i) & 1) << (2 * i) for i in range(BITS)) + sum(
            ((y >> i) & 1) << (2 * i + 1) for i in range(BITS)
        )

    coord = st.integers(min_value=0, max_value=n - 1)

    @given(x0=coord, x1=coord, y0=coord, y1=coord, seeds=st.lists(
        st.tuples(st.integers(0, 10**9), st.integers(0, 10**9)),
        min_size=20, max_size=20))
    @settings(max_examples=40, deadline=None)
    def check(x0, x1, y0, y1, seeds):
        x_lo, x_hi = min(x0, x1), max(x0, x1)
        y_lo, y_hi = min(y0, y1), max(y0, y1)
        ivs = layout.z_box_intervals(x_lo, x_hi, y_lo, y_hi)
        assert 1 <= len(ivs) <= 32
        covered = sum(hi - lo + 1 for lo, hi in ivs)
        assert covered >= (x_hi - x_lo + 1) * (y_hi - y_lo + 1)
        for sx, sy in seeds:  # deterministic in-box samples from the spec
            px = x_lo + sx % (x_hi - x_lo + 1)
            py = y_lo + sy % (y_hi - y_lo + 1)
            zv = z(px, py)
            assert any(lo <= zv <= hi for lo, hi in ivs), (px, py)

    check()


def test_z_interval_filter_matches_python_membership(spark):
    """z_interval_prefilter's semi-join (ex_zrange_bigmin's prefilter)
    must select exactly the rows whose z value lies in an interval."""
    from espkinesis_spark.functions import layout

    ivs = layout.z_box_intervals(3, 12, 2, 9, bits=4, max_intervals=6)
    df = spark.range(256).select(F.col("id").alias("z"))
    got = {r["z"] for r in layout.z_interval_prefilter(df, "z", ivs).collect()}
    want = {v for lo, hi in ivs for v in range(lo, hi + 1)}
    assert got == want and 0 < len(ivs) <= 6
    # the empty cover selects nothing
    assert layout.z_interval_prefilter(df, "z", []).count() == 0


def test_z_box_intervals_tighter_than_octiles_on_skewed_box():
    """The cover's reason to exist: on a box spanning 1/16 of one axis,
    the 3-bit octile cross-product keeps a whole user-octile (2x the
    thin axis' need), while the interval cover — still within its
    32-interval budget — covers strictly fewer z-cells."""
    from espkinesis_spark.functions import common as C
    from espkinesis_spark.functions import layout

    n = 1 << C.ZORDER_BITS
    # the ex_zrange_bigmin box in grid coords: middle sixteenth x middle half
    x_lo, x_hi = 7 * n // 16, 8 * n // 16 - 1
    y_lo, y_hi = n // 4, 3 * n // 4 - 1
    ivs = layout.z_box_intervals(x_lo, x_hi, y_lo, y_hi)
    assert 0 < len(ivs) <= 32
    covered = sum(hi - lo + 1 for lo, hi in ivs)
    # octile cross-product: octiles 3..3 on x (the sixteenth sits inside
    # one octile), 2..5 on y -> 1 x 4 report cells, each holding the
    # full 2^(2*BITS-6) z-range
    oct_cells = ((x_hi * 8 // n) - (x_lo * 8 // n) + 1) * (
        (y_hi * 8 // n) - (y_lo * 8 // n) + 1
    )
    octile_covered = oct_cells * (1 << (2 * C.ZORDER_BITS - C.ZORDER_REPORT_BITS))
    assert covered < octile_covered, (covered, octile_covered)
    # and the box itself is a lower bound the cover respects
    assert covered >= (x_hi - x_lo + 1) * (y_hi - y_lo + 1)


def test_zrange_bigmin_equals_direct_predicate_and_plan_is_clean(spark, sf_dir):
    """ex_zrange_bigmin's z-interval semi-join prefilter must dismiss
    nothing: the query's result equals the direct box predicate with no
    z-math, computed on the same session. The plan must carry the
    broadcast LEFT-SEMI interval join and no CartesianProduct (the
    32-term z expression stays a single projected column — the Janino
    giant-codegen hazard is the reason the prefilter is a join, not an
    OR-of-BETWEENs filter)."""
    from espkinesis_spark import queries

    out = queries.ex_zrange_bigmin(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan and "BroadcastNestedLoopJoin" in plan

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.unix_millis("ts").alias("t_ms")
    )
    b = ev.agg(
        F.min("t_ms").alias("mn"), F.max("t_ms").alias("mx"),
        F.min("user_id").cast("long").alias("umn"),
        F.max("user_id").cast("long").alias("umx"),
    ).first()
    su, st_ = b["umx"] - b["umn"] + 1, b["mx"] - b["mn"] + 1
    direct = (
        ev.filter(
            F.col("user_id").between(
                b["umn"] + 7 * su // 16, b["umn"] + 8 * su // 16 - 1
            )
            & F.col("t_ms").between(
                b["mn"] + st_ // 4, b["mn"] + 3 * st_ // 4 - 1
            )
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in direct.collect()}
    assert got == want and len(want) > 0
