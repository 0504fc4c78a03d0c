"""Random property tests of the near-dup pair stages against small
pure-Python models.

Shared-key stages, over random (doc_id, key) tables:

* ``dedup.neardup_jaccard_exact`` and ``dedup.containment_from_shingles``
  follow the *counted* cap rule: a key in more than ``df_cap`` documents
  makes no candidates, but a candidate pair's intersection counts every
  shared key, hot or not.
* ``dedup.winnow_candidates_from`` and ``multimodal.shared_frame_neardup``
  follow the *dropped* cap rule: a key in more than the cap documents is
  removed before pairs are counted.

Caps are drawn from None, 1, the largest document frequency and one past
it, so each side of every ``<=`` is exercised.

Hamming stages, over random (doc_id, band, val) tables with a few narrow
band values (so buckets collide): ``multimodal.hamming_neardup`` (one
band or two adjacent bands per bucket) and
``multimodal.hamming_neardup_incremental`` against a brute-force
popcount over every pair.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal
from itertools import combinations

from hypothesis import Phase, example, given, settings
from hypothesis import strategies as st

from espkinesis_spark.functions import common as C
from espkinesis_spark.functions import dedup, multimodal

# no shrink phase: every shrink step is a Spark job
_NO_SHRINK = (Phase.explicit, Phase.reuse, Phase.generate)


def _r6(num: int, den: int) -> float:
    # Spark's round(double, 6): HALF_UP on the double's shortest decimal
    return float(Decimal(repr(num / den)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _sets(rows):
    out: dict[int, set[str]] = {}
    for d, k in rows:
        out.setdefault(d, set()).add(k)
    return out


def _df(sets):
    df: dict[str, int] = {}
    for ks in sets.values():
        for k in ks:
            df[k] = df.get(k, 0) + 1
    return df


def _counted_cap_pairs(sets, cap):
    """(a, b) -> (|A ∩ B|, |A|, |B|) for a < b sharing a key in at most
    ``cap`` documents (any key when cap is None)."""
    df = _df(sets)
    out = {}
    for a, b in combinations(sorted(sets), 2):
        shared = sets[a] & sets[b]
        if any(cap is None or df[k] <= cap for k in shared):
            out[(a, b)] = (len(shared), len(sets[a]), len(sets[b]))
    return out


def _dropped_cap_pairs(sets, cap, min_shared):
    """(a, b) -> shared keys for a < b, after removing every key in more
    than ``cap`` documents, kept when at least ``min_shared``."""
    df = _df(sets)
    out = {}
    for a, b in combinations(sorted(sets), 2):
        n = sum(1 for k in sets[a] & sets[b] if df[k] <= cap)
        if n >= min_shared:
            out[(a, b)] = n
    return out


@st.composite
def _key_tables(draw):
    n_docs = draw(st.integers(2, 7))
    keys = [f"k{i}" for i in range(draw(st.integers(1, 6)))]
    rows = draw(
        st.lists(
            st.tuples(st.integers(0, n_docs - 1), st.sampled_from(keys)),
            min_size=1,
            max_size=30,
        )
    )
    max_df = max(_df(_sets(rows)).values())
    cap = draw(st.sampled_from([None, 1, max_df, max_df + 1]))
    return rows, cap, draw(st.sampled_from([0.0, 0.3, 0.5, 1.0])), draw(st.integers(1, 3))


# a hot key (in every doc) shared by a pair that also shares a cold key:
# the pair's intersection must count the hot key; (0, "a") appears twice
_HOT_AND_COLD = (
    [(0, "hot"), (1, "hot"), (2, "hot"), (0, "a"), (1, "a"), (0, "a"), (0, "b"), (2, "c")],
    2,
    0.0,
    1,
)


def test_shared_key_stages_match_python_model(spark, monkeypatch):
    # neardup_jaccard_exact shingles its docs; feed it the key table as is
    monkeypatch.setattr(dedup, "shingles", lambda docs: docs)
    seen = set()

    @settings(max_examples=8, deadline=None, phases=_NO_SHRINK)
    @given(_key_tables())
    @example(_HOT_AND_COLD)
    def run(draw):
        rows, cap, threshold, min_shared = draw
        sets = _sets(rows)
        distinct = sorted({(d, k) for d, k in rows})
        sh = spark.createDataFrame(distinct, "doc_id long, s string")

        counted = _counted_cap_pairs(sets, cap)
        want_j = {
            p: _r6(i, na + nb - i)
            for p, (i, na, nb) in counted.items()
            if _r6(i, na + nb - i) >= threshold
        }
        got_j = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dedup.neardup_jaccard_exact(sh, threshold, df_cap=cap).collect()
        }
        assert got_j == want_j

        want_c = {
            p: (_r6(i, na), _r6(i, nb))
            for p, (i, na, nb) in counted.items()
            if max(_r6(i, na), _r6(i, nb)) >= threshold
        }
        got_c = {
            (r["doc_a"], r["doc_b"]): (r["cont_a_in_b"], r["cont_b_in_a"])
            for r in dedup.containment_from_shingles(sh, threshold, df_cap=cap).collect()
        }
        assert got_c == want_c

        drop_cap = C.WINNOW_MAX_DF if cap is None else cap
        want_w = _dropped_cap_pairs(sets, drop_cap, min_shared)
        fp = spark.createDataFrame(distinct, "doc_id long, fp string")
        got_w = {
            (r["doc_a"], r["doc_b"]): r["n_shared"]
            for r in dedup.winnow_candidates_from(fp, min_shared, drop_cap).collect()
        }
        assert got_w == want_w

        frame_cap = C.VID_FRAME_DF_CAP if cap is None else cap
        frames = spark.createDataFrame(
            [(d, i, k) for i, (d, k) in enumerate(rows)],
            "doc_id long, frame_idx long, frame_md5 string",
        )
        got_f = {
            (r["doc_id_a"], r["doc_id_b"]): r["n_shared"]
            for r in multimodal.shared_frame_neardup(frames, min_shared, frame_cap).collect()
        }
        assert got_f == _dropped_cap_pairs(sets, frame_cap, min_shared)

        df = _df(sets)
        if cap is not None and any(
            df[k] > cap for (a, b) in counted for k in sets[a] & sets[b]
        ):
            seen.add("hot key counted in a candidate pair")
        if cap is not None and any(v > cap for v in df.values()):
            seen.add("hot key dropped")
        if len(rows) > len(distinct):
            seen.add("duplicate (doc, key) rows")

    run()
    assert seen == {
        "hot key counted in a candidate pair",
        "hot key dropped",
        "duplicate (doc, key) rows",
    }


_BANDS = 4


def _ham(va, vb):
    return sum(bin(va[b] ^ vb[b]).count("1") for b in range(_BANDS))


def _shares_bucket(va, vb, bucket_bands):
    groups = range(0, _BANDS, bucket_bands)
    return any(
        all(va[b] == vb[b] for b in range(g, min(g + bucket_bands, _BANDS))) for g in groups
    )


@st.composite
def _hash_tables(draw):
    n = draw(st.integers(2, 8))
    vals = st.lists(st.integers(0, 7), min_size=_BANDS, max_size=_BANDS)
    docs = {d: draw(vals) for d in range(n)}
    n_new = draw(st.integers(1, n - 1))
    return docs, n_new, draw(st.integers(0, 6)), draw(st.sampled_from([1, 2]))


def _hash_frame(spark, docs):
    return spark.createDataFrame(
        [(d, b, v) for d, vs in docs.items() for b, v in enumerate(vs)],
        "doc_id long, band int, val long",
    )


def test_hamming_stages_match_bruteforce(spark):
    seen = set()

    @settings(max_examples=8, deadline=None, phases=_NO_SHRINK)
    @given(_hash_tables())
    # two-band buckets, radius 2: (0, 1) share a bucket at distance 3,
    # (0, 2) are at distance 2 with no shared bucket, (0, 3) is emitted
    @example(({0: [1, 2, 3, 4], 1: [1, 2, 0, 0], 2: [0, 2, 3, 5], 3: [1, 2, 3, 5]}, 2, 2, 2))
    def run(draw):
        docs, n_new, radius, bucket_bands = draw
        want = {}
        for a, b in combinations(sorted(docs), 2):
            h = _ham(docs[a], docs[b])
            if _shares_bucket(docs[a], docs[b], bucket_bands) and h <= radius:
                want[(a, b)] = h
        got = {
            (r["doc_id_a"], r["doc_id_b"]): r["hamming"]
            for r in multimodal.hamming_neardup(
                _hash_frame(spark, docs), radius, bucket_bands
            ).collect()
        }
        assert got == want

        new = {d: v for d, v in docs.items() if d < n_new}
        old = {d: v for d, v in docs.items() if d >= n_new}
        want_i = {
            (a, b): _ham(va, vb)
            for a, va in new.items()
            for b, vb in old.items()
            if _shares_bucket(va, vb, 1) and _ham(va, vb) <= radius
        }
        got_i = {
            (r["doc_new"], r["doc_old"]): r["hamming"]
            for r in multimodal.hamming_neardup_incremental(
                _hash_frame(spark, new), _hash_frame(spark, old), radius
            ).collect()
        }
        assert got_i == want_i

        for a, b in combinations(sorted(docs), 2):
            h = _ham(docs[a], docs[b])
            if _shares_bucket(docs[a], docs[b], bucket_bands) and h > radius:
                seen.add("candidate beyond the radius")
            if not _shares_bucket(docs[a], docs[b], bucket_bands) and h <= radius:
                seen.add("within the radius, no shared bucket")
        if want:
            seen.add("pair emitted")

    run()
    assert seen == {
        "candidate beyond the radius",
        "within the radius, no shared bucket",
        "pair emitted",
    }
