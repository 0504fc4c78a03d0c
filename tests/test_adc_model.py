"""Random property tests of the PQ-ADC scorer ``similarity._adc6`` and of
the two top-k paths it scores — ``topk_pq`` (the broadcast stage) and
``topk_ivfpq`` (the keyed stage over the IVF lists) — against explicit
Python loops.

The model is the ADC rule the oracle SQL replays:

* a candidate's code in subspace s is the codeword nearest its s-th
  subvector by rounded L2, ties to the lowest id (the PQ model's
  ``_nearest_codeword``);
* every dot product, |q|² included, is the left fold x₀y₀ + x₁y₁ + …;
  dp sums the subspace terms q_s · codeword and the reconstruction norm²
  the codewords' own folds, each seeded with 0.0 and over ascending s;
* cos = dp / (|q| · |reconstruction|), rounded as ``np.round(x, 6)``;
* candidates rank by cos descending, ties to the lowest neighbor id, the
  query itself excluded, and the first k are kept.

Random draws use multiples of ¼ (every fold is exact, so a codeword
choice never sits on a rounding tie) and duplicate candidates (cos
ties). Two fixed examples pin the summation order: a query whose fold
|q|² differs from numpy's pairwise ``sum`` in the last ulp, with a
candidate whose cosine sits at a 6-dp rounding boundary, and a query
whose every term is a -0.0 product, where only the 0.0 seed makes dp
+0.0.
"""

from __future__ import annotations

import math

import numpy as np
from hypothesis import Phase, assume, example, given, settings
from hypothesis import strategies as st

from espkinesis_spark.functions import common as C
from espkinesis_spark.functions import similarity
from tests.test_keyed_topk_model import _nearest
from tests.test_kmeans_semdedup_model import _fold, _nearest_codeword, _pq

# no shrink phase: every shrink step is a Spark job
_NO_SHRINK = (Phase.explicit, Phase.reuse, Phase.generate)


def _adc(q, recon):
    """The model ADC cosine of query ``q`` against a reconstruction given
    as its per-subspace codewords."""
    w = len(recon[0])
    dp, rn = 0.0, 0.0
    for s, cw in enumerate(recon):
        dp = dp + _fold(q[s * w : (s + 1) * w], cw)
        rn = rn + _fold(cw, cw)
    return round(dp / (math.sqrt(_fold(q, q)) * math.sqrt(rn)) * 1e6) / 1e6


_QUARTERS = st.integers(-8, 8).map(lambda i: i / 4)


@st.composite
def _scorer_draws(draw):
    m, w = draw(st.integers(1, 3)), draw(st.integers(1, 3))
    codeword = st.lists(_QUARTERS, min_size=w, max_size=w).filter(any)
    books = [draw(st.lists(codeword, min_size=1, max_size=4)) for _ in range(m)]
    vec = st.lists(_QUARTERS, min_size=m * w, max_size=m * w)
    queries = draw(st.lists(vec.filter(any), min_size=1, max_size=4))
    cands = draw(st.lists(vec, min_size=1, max_size=6))
    for src, dst in draw(st.lists(st.tuples(st.integers(0, 5), st.integers(0, 5)), max_size=3)):
        if max(src, dst) < len(cands):
            cands[dst] = cands[src]
    return books, queries, cands


# |q|² as a fold is 1 ulp from numpy's pairwise sum, and this candidate's
# cosine sits within that ulp of a 6-dp rounding boundary
_ULP_Q = [-1.34, -0.46, -1.9, -1.29, -1.84, -0.24, -1.27, 0.27]
_ULP_C = [
    1.1399973006593282, 0.619997768912302, -3.579997080304988, 0.269997768912302,
    -0.020000082632877707, -0.769997576102254, -0.950001597568969, -0.3700003029872182,
]


def test_adc6_matches_python_loops():
    seen = set()

    @settings(max_examples=60, deadline=None, phases=_NO_SHRINK)
    @given(_scorer_draws())
    @example(([[_ULP_C]], [_ULP_Q], [_ULP_C]))
    # (-1)·0 and 0·(-5): each term is -0.0, so dp is +0.0 only when seeded
    @example(([[[0.0, -5.0]]], [[-1.0, 0.0]], [[0.0, -5.0]]))
    def run(draw):
        books, queries, cands = draw
        w = len(books[0][0])
        subs = [[c[s * w : (s + 1) * w] for c in cands] for s in range(len(books))]
        codes = [
            [_nearest_codeword(sv, dict(enumerate(b))) for sv in sub] for sub, b in zip(subs, books)
        ]
        recon = [[b[code[j]] for b, code in zip(books, codes)] for j in range(len(cands))]
        assume(all(any(x for cw in r for x in cw) for r in recon))  # no zero reconstruction
        want = np.array([[_adc(q, r) for r in recon] for q in queries])
        score = similarity._adc6([(np.arange(len(b)), np.array(b, dtype=float)) for b in books])
        got = score(np.array(queries, dtype=float), np.array(cands, dtype=float))
        assert got.tobytes() == want.tobytes()  # bit-equal, signed zeros included

        if any(len(set(row)) < len(row) for row in want.tolist()):
            seen.add("tied cos")
        terms = [
            _fold(q[s * w : (s + 1) * w], cw) for q in queries for r in recon for s, cw in enumerate(r)
        ]
        if any(t == 0 and math.copysign(1.0, t) < 0 for t in terms):
            seen.add("-0.0 term")
        q_mat = np.array(queries, dtype=float)
        if (np.sum(q_mat * q_mat, axis=1) != [_fold(q, q) for q in queries]).any():
            seen.add("|q|² fold differs from np.sum")

    run()
    assert seen == {"tied cos", "-0.0 term", "|q|² fold differs from np.sum"}


def _ranked(vecs, cands_of, codes, cents, m, k):
    """{(query, rank, neighbor)}: each query's candidates ranked by the
    model ADC cosine, ties to the lowest id, the first k kept."""
    out = set()
    for q, cands in cands_of.items():
        cos = {n: _adc(vecs[q], [cents[(s, codes[(n, s)])] for s in range(m)]) for n in cands - {q}}
        ranked = sorted(cos, key=lambda n: (-cos[n], n))[:k]
        out |= {(q, r + 1, n) for r, n in enumerate(ranked)}
    return out


@st.composite
def _topk_draws(draw):
    d = C.PQ_M  # topk_ivfpq trains PQ_M subspaces
    vec = st.lists(st.integers(-3, 3), min_size=d, max_size=d).filter(any)
    vecs = draw(st.lists(vec, min_size=2, max_size=10))
    for src, dst in draw(st.lists(st.tuples(st.integers(0, 9), st.integers(0, 9)), max_size=3)):
        if max(src, dst) < len(vecs):
            vecs[dst] = vecs[src]
    n = len(vecs)
    return (
        vecs,
        draw(st.sampled_from([1, 2, 4, d])),  # flat m
        draw(st.integers(1, n + 2)),  # flat codebook size
        draw(st.integers(0, 2)),  # flat Lloyd rounds
        draw(st.integers(1, n + 2)),  # top k, often more than the candidates
        draw(st.integers(1, 4)),  # IVF centroid mod
        draw(st.integers(1, 3)),  # nprobe
    )


def test_pq_topk_paths_match_python_model(spark):
    seen = set()

    @settings(max_examples=6, deadline=None, phases=_NO_SHRINK)
    @given(_topk_draws())
    # four copies of one vector: every candidate of query 0 ties
    @example(([[1] * C.PQ_M] * 4 + [[-1, 2] * (C.PQ_M // 2)], 2, 2, 1, 3, 2, 1))
    def run(draw):
        rows, m, k, iters, topk, mod, nprobe = draw
        vecs = {i: [float(x) for x in v] for i, v in enumerate(rows)}
        df = spark.createDataFrame(list(vecs.items()), "vec_id long, embedding array<float>")
        qmax = max(1, len(rows) - 1)  # the last vector is corpus only
        queries = [i for i in vecs if i < qmax]

        cents, codes = _pq(vecs, m, k, iters)
        cents16, codes16 = _pq(vecs, C.PQ_M, C.PQ_K, C.PQ_ITERS)
        for cw, cd, mm in ((cents, codes, m), (cents16, codes16, C.PQ_M)):
            # no zero reconstruction
            assume(all(any(x for s in range(mm) for x in cw[(s, cd[(i, s)])]) for i in vecs))

        want = _ranked(vecs, {q: set(vecs) for q in queries}, codes, cents, m, topk)
        got = similarity.topk_pq(df, qmax, m, k, iters, topk).collect()
        assert {(r["vec_id"], r["rnk"], r["neighbor_id"]) for r in got} == want

        ivf = {i: v for i, v in vecs.items() if i % mod == 0}
        lists = {i: _nearest(v, ivf, 1)[0] for i, v in vecs.items()}
        probed = {q: set(_nearest(vecs[q], ivf, nprobe)) for q in queries}
        cands = {q: {i for i, c in lists.items() if c in probed[q]} for q in queries}
        want_ivf = _ranked(vecs, cands, codes16, cents16, C.PQ_M, topk)
        got_ivf = similarity.topk_ivfpq(df, qmax, mod, nprobe, topk).collect()
        assert {(r["vec_id"], r["rnk"], r["neighbor_id"]) for r in got_ivf} == want_ivf

        if len({tuple(v) for v in rows}) < len(rows):
            seen.add("duplicates")
        if topk > len(rows) - 1:
            seen.add("k > candidates")

    run()
    assert seen == {"duplicates", "k > candidates"}
