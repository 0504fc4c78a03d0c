"""Kernel-vs-oracle equivalence: each Arrow kernel must equal the DuckDB
oracle SQL that defines its semantics, on adversarial inputs.

The doc kernels (``simhash``, ``fingerprints``, ``lang_id``) run against
``ORACLES["ex_simhash" | "ex_fingerprint" | "ex_lang_id"]`` over the test's
docs registered as ``documents`` in an in-memory DuckDB; the vector kernels
against ``ORACLES["ex_neardup_cosine"]`` and inline SQL built from
``oracles._cos``.

The property test's docs alphabet leaves out Unicode whitespace and
``\\x0b`` on purpose: there DuckDB itself diverges from Spark's
``text.tokens()`` contract, so the oracle cannot referee. DuckDB's
``trim`` strips an edge U+00A0 where Spark's strips only ' ', and RE2's
``\\s`` lacks ``\\x0b`` where Java's has it. The kernels' tokenizer is
instead pinned straight against Spark over that wider alphabet
(``test_split_tokens_equals_spark_tokens``).
"""

from __future__ import annotations

import random
import string

import duckdb
import pandas as pd
from hypothesis import Phase, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from espkinesis_spark import verify
from espkinesis_spark.functions import common as C
from espkinesis_spark.functions import dedup, similarity, text
from espkinesis_spark.oracles import ORACLES, _cos
from espkinesis_spark.tables import load_table

# (kernel, oracle) per doc kernel; the kernel's columns are cut to the oracle's
_DOC_KERNELS = {
    "simhash": (dedup.simhash, "ex_simhash"),
    "fingerprints": (text.fingerprints, "ex_fingerprint"),
    "lang_id": (text.lang_id, "ex_lang_id"),
}


def _random_docs(n=60):
    rng = random.Random(42)

    def doc(i):
        words = [
            "".join(rng.choices(string.ascii_lowercase + string.digits, k=rng.randint(1, 8)))
            for _ in range(rng.randint(1, 40))
        ]
        # inject repeated tokens, punctuation, and odd whitespace
        if i % 3 == 0:
            words += words[:3]
        txt = (" " * (i % 3 + 1)).join(words)
        if i % 4 == 0:
            txt = "  " + txt + " !?. "
        return (i, txt)

    return [doc(i) for i in range(n)]


def _check_doc_kernel(spark, name, rows):
    kernel, oracle = _DOC_KERNELS[name]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = con.execute(ORACLES[oracle]).df()
    con.close()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    verify.compare(kernel(docs).select(*want.columns), want)


def test_simhash_kernel_equals_sql(spark):
    _check_doc_kernel(spark, "simhash", _random_docs())


def test_fingerprints_kernel_equals_sql(spark):
    _check_doc_kernel(spark, "fingerprints", _random_docs())


def test_lang_id_kernel_equals_sql(spark):
    # mix in real stopwords so every language branch fires
    extra = [
        (1000, "the cat of the house and a dog"),
        (1001, "el que la casa y un perro en"),
        (1002, "der hund und die katze ist ein"),
        (1003, "le chat est une maison du les"),
        (1004, "zzz qqq www"),
        (1005, "the el der le"),  # cross-language tie -> en priority
    ]
    _check_doc_kernel(spark, "lang_id", _random_docs() + extra)


# no shrink phase: every shrink step is a Spark job, and the failure
# message already names the diverging doc
_NO_SHRINK = (Phase.explicit, Phase.reuse, Phase.generate)
_STOPWORDS = sorted({w for ws in C.LANG_STOPWORDS.values() for w in ws})
_WORD_CHARS = string.ascii_letters + string.digits + "!?.Éß"
_SEPARATORS = " \t\n\r\f"


def test_doc_kernels_property_against_oracle(spark):
    """All three doc kernels equal their oracles on random corpora whose
    separators include tab, newline, CR and form feed at token edges."""
    word = st.one_of(st.sampled_from(_STOPWORDS), st.text(_WORD_CHARS, max_size=6))
    sep = st.text(st.sampled_from(_SEPARATORS), min_size=1, max_size=3)
    doc = st.lists(st.one_of(word, sep), max_size=16).map("".join)

    @settings(max_examples=10, deadline=None, phases=_NO_SHRINK)
    @given(st.lists(doc, min_size=40, max_size=80))
    def run(texts):
        rows = list(enumerate(texts))
        for name in _DOC_KERNELS:
            _check_doc_kernel(spark, name, rows)

    run()


def test_split_tokens_equals_spark_tokens(spark):
    """``common.split_tokens`` (the Arrow kernels' tokenizer) equals
    Spark's ``text.tokens()`` over every ASCII whitespace, U+00A0 and
    U+2003 — including the edges, where a plain ``str.strip()`` diverges."""

    @settings(max_examples=10, deadline=None, phases=_NO_SHRINK)
    @given(st.lists(st.text("ab \t\n\r\f\x0b\xa0\u2003", max_size=10), min_size=1, max_size=50))
    def run(texts):
        df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
        got = df.select("i", text.tokens(F.col("text")).alias("toks")).collect()
        for r in got:
            assert C.split_tokens(texts[r["i"]]) == list(r["toks"]), repr(texts[r["i"]])

    run()


def _vector_oracle(sf_dir, sql):
    con = verify.duck_connection(sf_dir)
    try:
        return con.execute(sql).df()
    finally:
        con.close()


_VECS = "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)"


def test_neardup_cosine_kernel_equals_sql(spark, sf_dir, monkeypatch):
    vecs = load_table(spark, sf_dir, "embeddings")
    # the single-broadcast kernel; the blocked path is held equal to it
    # in test_scale_paths
    monkeypatch.setattr(similarity, "NEARDUP_BROADCAST_BYTES", 1 << 60)
    want = _vector_oracle(sf_dir, ORACLES["ex_neardup_cosine"])
    assert len(want) > 0
    verify.compare(similarity.neardup_cosine(vecs), want)


def test_topk_kernel_equals_sql(spark, sf_dir):
    vecs = load_table(spark, sf_dir, "embeddings")
    q = vecs.filter(F.col("vec_id") < 10)
    want = _vector_oracle(
        sf_dir,
        f"""WITH {_VECS},
        p AS (SELECT a.vec_id, b.vec_id AS neighbor_id, {_cos('a.e', 'b.e')} AS cos
              FROM v a JOIN v b ON b.vec_id <> a.vec_id WHERE a.vec_id < 10)
        SELECT vec_id, rnk, neighbor_id, cos FROM (
          SELECT vec_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id) AS rnk
          FROM p) WHERE rnk <= 4""",
    )
    assert len(want) > 0
    verify.compare(similarity.topk_bruteforce(q, vecs, k=4), want)


def test_ivf_assign_kernel_equals_sql(spark, sf_dir):
    vecs = load_table(spark, sf_dir, "embeddings")
    cents = vecs.filter(F.col("vec_id") % 25 == 0)
    want = _vector_oracle(
        sf_dir,
        f"""WITH {_VECS},
        c AS (SELECT vec_id AS centroid_id, e AS c FROM v WHERE vec_id % 25 = 0)
        SELECT vec_id, centroid_id FROM (
          SELECT v.vec_id, c.centroid_id,
                 row_number() OVER (PARTITION BY v.vec_id
                                    ORDER BY {_cos('v.e', 'c.c')} DESC, c.centroid_id) AS rn
          FROM v, c) WHERE rn = 1""",
    )
    verify.compare(similarity.ivf_assign(vecs, cents), want)
