"""Random property tests of the keyed candidate stages against a small
pure-Python brute force over the same keys.

``similarity.topk_lsh``, ``similarity.knn_graph(mutual=False)``,
``similarity.topk_ivf`` and the ``ex_ann_filtered`` registry entry all
score with ``similarity._keyed_topk``. The model is the rule the oracle
SQL replays:

* a query's candidates are every other vector whose key is one the query
  probes: its sign bucket, plus every 1-bit flip with multiprobe; the
  ``nprobe`` nearest IVF centroids (ties to the lowest centroid id, a
  query's own centroid included); its label;
* a vector's IVF list is its nearest centroid, ties to the lowest id;
* candidates rank by 6-dp rounded cosine descending, ties to the lowest
  neighbor id, and the first k are kept.

Vectors are small integer vectors (2-4 dims, entries in [-3, 3], never
all zero), so every dot product and squared norm is an exact integer and
the model's cosine is the kernel's bit for bit. Draws force duplicate
vectors (ties), a hot bucket (one sign pattern for every vector), probe
keys with no corpus vector and queries with fewer than k candidates;
vector 0 is always a query and its own IVF centroid. The row block is
forced to 2, below most key groups.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import Phase, example, given, settings
from hypothesis import strategies as st

from espkinesis_spark import queries
from espkinesis_spark.functions import similarity

# no shrink phase: every shrink step is a Spark job
_NO_SHRINK = (Phase.explicit, Phase.reuse, Phase.generate)
_BLOCK = 2


def _cos6(a, b):
    dot = sum(x * y for x, y in zip(a, b))
    na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(y * y for y in b))
    return round(dot / (na * nb) * 1e6) / 1e6


def _topk(vecs, q, cands, k):
    ranked = sorted(cands - {q}, key=lambda n: (-_cos6(vecs[q], vecs[n]), n))
    return [(n, _cos6(vecs[q], vecs[n])) for n in ranked[:k]]


def _bucket(v, bits):
    return sum(1 << i for i in range(bits) if v[i] > 0)


def _lsh(vecs, queries_, bits, k, multiprobe):
    buckets = {i: _bucket(v, bits) for i, v in vecs.items()}
    out = {}
    for q in queries_:
        probes = {buckets[q]} | ({buckets[q] ^ (1 << i) for i in range(bits)} if multiprobe else set())
        out[q] = _topk(vecs, q, {n for n, b in buckets.items() if b in probes}, k)
    return out


def _nearest(v, cents, n):
    return sorted(cents, key=lambda c: (-_cos6(v, cents[c]), c))[:n]


def _ivf(vecs, query_max_id, mod, nprobe, k):
    cents = {i: v for i, v in vecs.items() if i % mod == 0}
    lists = {i: _nearest(v, cents, 1)[0] for i, v in vecs.items()}
    out = {}
    for q in (i for i in vecs if i < query_max_id):
        probes = set(_nearest(vecs[q], cents, nprobe))
        out[q] = _topk(vecs, q, {n for n, c in lists.items() if c in probes}, k)
    return out


def _ranked(model):
    return {(q, r + 1, n) for q, hits in model.items() for r, (n, _) in enumerate(hits)}


@st.composite
def _draws(draw):
    d = draw(st.integers(2, 4))
    hot = draw(st.booleans())
    entry = st.integers(1, 3) if hot else st.integers(-3, 3)
    vecs = draw(
        st.lists(st.lists(entry, min_size=d, max_size=d).filter(any), min_size=1, max_size=14)
    )
    # exact duplicates: copy some rows over others
    for src, dst in draw(st.lists(st.tuples(st.integers(0, 13), st.integers(0, 13)), max_size=4)):
        if max(src, dst) < len(vecs):
            vecs[dst] = vecs[src]
    labels = draw(st.lists(st.integers(0, 2), min_size=len(vecs), max_size=len(vecs)))
    return (
        vecs,
        labels,
        draw(st.integers(1, d)),  # bits
        draw(st.integers(1, 4)),  # k
        draw(st.booleans()),  # multiprobe
        draw(st.integers(1, 4)),  # IVF centroid mod
        draw(st.integers(1, 3)),  # nprobe
    )


def test_keyed_stages_match_python_model(spark, monkeypatch, tmp_path):
    monkeypatch.setattr(similarity, "PAIR_ROW_BLOCK", _BLOCK)
    seen = set()

    @settings(max_examples=8, deadline=None, phases=_NO_SHRINK)
    @given(_draws())
    # one sign pattern for every vector, so every flip bucket is empty;
    # centroid 2 duplicates centroid 0 and loses every tie, so its IVF
    # list is empty
    @example(([[1, 2], [3, 1], [1, 2], [3, 1], [1, 1]], [0, 0, 1, 2, 1], 2, 4, True, 2, 2))
    # vector 0 alone in its bucket (no candidate), then six copies of one
    # vector: every candidate ties, more than k of them
    @example(([[-1, 3]] + [[2, -1]] * 6 + [[1, 1]], [1] * 8, 2, 2, False, 3, 1))
    def run(draw):
        rows, labels, bits, k, multiprobe, mod, nprobe = draw
        vecs = {i: [float(x) for x in v] for i, v in enumerate(rows)}
        df = spark.createDataFrame(list(vecs.items()), "vec_id long, embedding array<float>")
        qmax = max(1, len(rows) - 2)  # the last vectors are corpus only

        want = _lsh(vecs, [i for i in vecs if i < qmax], bits, k, multiprobe)
        got = similarity.topk_lsh(df, qmax, bits, k, multiprobe).collect()
        assert {(r["vec_id"], r["rnk"], r["neighbor_id"]) for r in got} == _ranked(want)

        want_knn = _lsh(vecs, list(vecs), bits, k, True)
        got_knn = similarity.knn_graph(df, bits, k, mutual=False).collect()
        assert {(r["src"], r["dst"], r["cos"]) for r in got_knn} == {
            (q, n, c) for q, hits in want_knn.items() for n, c in hits
        }

        want_ivf = _ivf(vecs, qmax, mod, nprobe, k)
        got_ivf = similarity.topk_ivf(df, qmax, mod, nprobe, k).collect()
        assert {(r["vec_id"], r["rnk"], r["neighbor_id"]) for r in got_ivf} == _ranked(want_ivf)

        # ex_ann_filtered: top 3 among the query's label, every vector a query
        sf = tmp_path / f"sf{len(list(tmp_path.iterdir()))}"
        sf.mkdir()
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(list(vecs), pa.int64()),
                    "embedding": pa.array(list(vecs.values()), pa.list_(pa.float32())),
                    "label": pa.array(labels, pa.int32()),
                }
            ),
            sf / "embeddings.parquet",
        )
        want_f = {
            (q, labels[q], r + 1, n, c)
            for q in vecs
            for r, (n, c) in enumerate(
                _topk(vecs, q, {n for n in vecs if labels[n] == labels[q]}, 3)
            )
        }
        got_f = queries.ex_ann_filtered(spark, str(sf)).collect()
        assert {tuple(r) for r in got_f} == want_f

        buckets = {_bucket(v, bits) for v in vecs.values()}
        if len(rows) > 2 and len(buckets) == 1:
            seen.add("hot bucket")
        if len({tuple(v) for v in rows}) < len(rows):
            seen.add("duplicates")
        if any(len(hits) < k for hits in want.values()):
            seen.add("fewer than k candidates")
        if multiprobe and len(buckets) < bits + 1:
            seen.add("empty probe bucket")
        cents = {i: v for i, v in vecs.items() if i % mod == 0}
        if len({_nearest(v, cents, 1)[0] for v in vecs.values()}) < len(cents):
            seen.add("empty IVF list")
        if any(len({c for _, c in hits}) < len(hits) for hits in want.values()):
            seen.add("tied candidates")

    run()
    assert seen == {
        "hot bucket",
        "duplicates",
        "fewer than k candidates",
        "empty probe bucket",
        "empty IVF list",
        "tied candidates",
    }
