"""Random property tests of ``similarity.kmeans_train``,
``similarity.semdedup``, ``similarity.pq_train`` and
``similarity.pq_encode`` against a small pure-Python model of the Lloyd
trajectory, the SemDeDup drop rule and the PQ trajectory.

The model is the contract the oracle SQL also replays:

* init centroids are the vectors with vec_id < k;
* a vector goes to the centroid with the largest 6-dp rounded cosine,
  ties to the lowest centroid id;
* a new centroid is the per-dim member mean rounded to 6 dp, and a
  centroid with no members drops out;
* after the last round, v is dropped iff a lower id in its cluster has
  rounded cosine >= threshold.

Vectors are small integer vectors (2-4 dims, entries in [-3, 3], never
all zero), so norms, dot products against the integer init centroids and
every cluster mean are exact in both the model and the kernels. Later
rounds score against 6-dp centroids, where a BLAS dot may differ from the
model's in the last ulp; the 6-dp round absorbs that. ``_cos6`` rounds as
``np.round(x, 6)`` does (``rint(x * 1e6) / 1e6``). Clusters stay under
128 members, so no mean has a 7th decimal of exactly 5, where Spark's
HALF_UP ``round`` and Python's ``round`` would part.

The PQ model is the same Lloyd run once per subspace: a vector of
``d = m * w`` dims splits into ``m`` contiguous ``w``-dim subvectors, init
codewords are the subvectors of vec_id < k, and a subvector goes to the
codeword with the smallest ``round(svv - 2 * sv.c + cc, 6)``, ties to the
lowest id. Each dot product is the left-to-right fold
``x0*y0 + x1*y1 + ...`` in IEEE doubles, and the round is Spark's
(HALF_UP on the shortest decimal form of the double).
"""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import Phase, example, given, settings
from hypothesis import strategies as st

from espkinesis_spark.functions import similarity

_NO_SHRINK = (Phase.explicit, Phase.reuse, Phase.generate)
_BLOCK = 2  # the cluster stage's row block, forced below most cluster sizes


def _cos6(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(y * y for y in b))
    return round(dot / (na * nb) * 1e6) / 1e6


def _assign(v, cents):
    # max keeps the first maximum of the ascending ids: ties go to the lowest
    return max(sorted(cents), key=lambda c: _cos6(v, cents[c]))


def _lloyd(vecs, k, iters):
    cents = {i: v for i, v in vecs.items() if i < k}
    for _ in range(iters):
        members = defaultdict(list)
        for v in vecs.values():
            members[_assign(v, cents)].append(v)
        cents = {
            c: [round(sum(xs) / len(xs), 6) for xs in zip(*vs)] for c, vs in members.items()
        }
    return cents


def _semdedup(vecs, k, iters, threshold):
    cents = _lloyd(vecs, k, iters)
    cluster = {i: _assign(v, cents) for i, v in vecs.items()}
    return {
        i: (
            cluster[i],
            not any(
                j < i and cluster[j] == cluster[i] and _cos6(vecs[j], vecs[i]) >= threshold
                for j in vecs
            ),
        )
        for i in vecs
    }


@st.composite
def _draws(draw):
    d = draw(st.integers(2, 4))
    vec = st.lists(st.integers(-3, 3), min_size=d, max_size=d).filter(any)
    vecs = draw(st.lists(vec, min_size=1, max_size=16))
    # exact duplicates: copy some rows over others
    for src, dst in draw(st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)), max_size=4)):
        if max(src, dst) < len(vecs):
            vecs[dst] = vecs[src]
    k = draw(st.integers(1, len(vecs) + 3))
    return vecs, k, draw(st.integers(0, 3)), draw(st.sampled_from([0.45, 0.8, 0.99, 1.0]))


def test_kmeans_and_semdedup_match_python_model(spark, monkeypatch):
    monkeypatch.setattr(similarity, "PAIR_ROW_BLOCK", _BLOCK)
    seen = set()

    @settings(max_examples=10, deadline=None, phases=_NO_SHRINK)
    @given(_draws())
    # vector 1 duplicates centroid 0, so centroid 1 loses every member
    @example(([[1, 0], [1, 0], [0, 1], [1, 1], [2, 1], [0, 3]], 3, 2, 0.45))
    # k > n
    @example(([[1, 2], [2, 1], [-1, 0]], 5, 2, 0.8))
    # one cluster of 7 near vectors, far larger than the row block
    @example(([[3, 1], [3, 2], [3, 1], [2, 1], [3, 3], [2, 2], [1, 1]], 1, 1, 0.99))
    def run(draw):
        rows, k, iters, threshold = draw
        vecs = {i: [float(x) for x in v] for i, v in enumerate(rows)}
        df = spark.createDataFrame(list(vecs.items()), "vec_id long, embedding array<float>")

        want_cents = _lloyd(vecs, k, iters)
        got_cents = {r["centroid_id"]: list(r["c"]) for r in similarity.kmeans_train(df, k, iters).collect()}
        assert got_cents == want_cents

        want = _semdedup(vecs, k, iters, threshold)
        got = {
            r["vec_id"]: (r["centroid_id"], r["keep"])
            for r in similarity.semdedup(df, k, iters, threshold).collect()
        }
        assert got == want

        if len({tuple(v) for v in rows}) < len(rows):
            seen.add("duplicates")
        if iters and len(want_cents) < min(k, len(rows)):
            seen.add("centroid lost every member")
        if k > len(rows):
            seen.add("k > n")
        sizes = defaultdict(int)
        for c, _ in want.values():
            sizes[c] += 1
        if max(sizes.values()) > _BLOCK:
            seen.add("cluster larger than the row block")

    run()
    assert seen == {
        "duplicates",
        "centroid lost every member",
        "k > n",
        "cluster larger than the row block",
    }


def _fold(a, b):
    acc = a[0] * b[0]
    for x, y in zip(a[1:], b[1:]):
        acc = acc + x * y
    return acc


def _round6(x):
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _nearest_codeword(sv, book):
    # min keeps the first minimum of the ascending ids: ties go to the lowest
    return min(
        sorted(book),
        key=lambda c: _round6(_fold(sv, sv) - 2 * _fold(sv, book[c]) + _fold(book[c], book[c])),
    )


def _pq(vecs, m, k, iters):
    """The codebooks {(subspace, id): codeword} after ``iters`` rounds and
    the codes {(vec_id, subspace): id} against them."""
    w = len(next(iter(vecs.values()))) // m
    subs = [{i: v[s * w : (s + 1) * w] for i, v in vecs.items()} for s in range(m)]
    books = [{i: sv for i, sv in sub.items() if i < k} for sub in subs]
    for _ in range(iters):
        for s, sub in enumerate(subs):
            members = defaultdict(list)
            for sv in sub.values():
                members[_nearest_codeword(sv, books[s])].append(sv)
            books[s] = {
                c: [round(sum(xs) / len(xs), 6) for xs in zip(*svs)]
                for c, svs in members.items()
            }
    cents = {(s, c): cw for s, book in enumerate(books) for c, cw in book.items()}
    codes = {
        (i, s): _nearest_codeword(sv, books[s]) for s, sub in enumerate(subs) for i, sv in sub.items()
    }
    return cents, codes


@st.composite
def _pq_draws(draw):
    m, w = draw(st.integers(1, 3)), draw(st.integers(1, 2))
    vec = st.lists(st.integers(-3, 3), min_size=m * w, max_size=m * w)
    vecs = draw(st.lists(vec, min_size=1, max_size=12))
    for src, dst in draw(st.lists(st.tuples(st.integers(0, 11), st.integers(0, 11)), max_size=3)):
        if max(src, dst) < len(vecs):
            vecs[dst] = vecs[src]
    return vecs, m, draw(st.integers(1, len(vecs) + 3)), draw(st.integers(0, 3))


def test_pq_train_and_encode_match_python_model(spark):
    seen = set()

    @settings(max_examples=8, deadline=None, phases=_NO_SHRINK)
    @given(_pq_draws())
    # codewords 0 and 1 start equal: 1 ties 0 on every subvector and
    # loses every member; subvector [0] sits at d² = 1 from both -1 and 1
    @example(([[1, 1], [1, 1], [-1, 0], [0, 2], [2, -1]], 2, 3, 2))
    # k > n: every vector starts as a codeword
    @example(([[-1, 2], [1, 0], [0, 1]], 1, 5, 1))
    def run(draw):
        rows, m, k, iters = draw
        vecs = {i: [float(x) for x in v] for i, v in enumerate(rows)}
        df = spark.createDataFrame(list(vecs.items()), "vec_id long, embedding array<float>")

        want_cents, want_codes = _pq(vecs, m, k, iters)
        cents = similarity.pq_train(df, m, k, iters)
        got_cents = {(r["m"], r["centroid_id"]): list(r["c"]) for r in cents.collect()}
        assert got_cents == want_cents
        got_codes = {
            (r["vec_id"], r["m"]): r["code"] for r in similarity.pq_encode(df, cents, m).collect()
        }
        assert got_codes == want_codes

        w = len(rows[0]) // m
        per_sub = [[tuple(v[s * w : (s + 1) * w]) for v in rows] for s in range(m)]
        init = [sub[: min(k, len(rows))] for sub in per_sub]
        if any(len(set(b)) < len(b) for b in init):
            seen.add("tied init codewords")
        if iters and len(want_cents) < m * min(k, len(rows)):
            seen.add("codeword lost every member")
        if k > len(rows):
            seen.add("k > n")

    run()
    assert seen == {"tied init codewords", "codeword lost every member", "k > n"}
