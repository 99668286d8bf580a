"""Bloom-prefiltered incremental dedup: no false negatives ever,
bounded false positives, and exact end-to-end semantics after the
confirm join. BM25: parity with a transparent pure-python scorer."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from pudl_spark.functions.bloom import (
    bloom_build, bloom_incremental_dedup, bloom_probe,
)


def test_bloom_no_false_negatives_and_low_fp(spark):
    members = [(i, f"doc number {i} text") for i in range(200)]
    others = [(i, f"unseen document {i}") for i in range(200, 700)]
    mdf = spark.createDataFrame(members, "id long, text string")
    odf = spark.createDataFrame(others, "id long, text string")

    words = bloom_build(mdf, F.col("text"), num_bits=1 << 14, k=4)
    hit_m = bloom_probe(mdf, F.col("text"), words, k=4).collect()
    assert all(r["bloom_hit"] for r in hit_m)  # never a false negative

    hit_o = bloom_probe(odf, F.col("text"), words, k=4).collect()
    fp = sum(r["bloom_hit"] for r in hit_o) / len(hit_o)
    # 16384 bits / 200 items at k=4 -> theoretical fp ~ (1-e^(-4*200/16384))^4
    # ~ 4e-5; allow two orders of slack for hash-family variance.
    assert fp < 0.05


def test_bloom_incremental_dedup_exact(spark):
    corpus = [(i, f"corpus text {i % 50}") for i in range(100)]
    batch = ([(1000 + i, f"corpus text {i}") for i in range(30)]  # dups
             + [(2000 + i, f"fresh text {i}") for i in range(40)])  # new
    cdf = spark.createDataFrame(corpus, "doc_id long, text string")
    bdf = spark.createDataFrame(batch, "doc_id long, text string")

    out = {r["doc_id"]: r["is_dup"] for r in bloom_incremental_dedup(
        cdf, bdf, "doc_id", "text", num_bits=1 << 13, k=4).collect()}
    corpus_texts = {t for _, t in corpus}
    expect = {i: t in corpus_texts for i, t in batch}
    assert out == expect


def _bm25_py(docs, terms, k1=1.2, b=0.75):
    toks = {i: t.lower().split() for i, t in docs}
    n = float(len(docs))
    avgdl = sum(len(v) for v in toks.values()) / n
    dfreq = {t: float(sum(t in v for v in toks.values())) for t in terms}
    out = {}
    for i, _ in docs:
        dl = float(len(toks[i]))
        s = 0.0
        for t in terms:
            tf = float(toks[i].count(t))
            idf = math.log((n - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * dl / avgdl))
        out[i] = round(s, 6)
    return out


def test_bm25_matches_python_reference(spark):
    from pudl_spark.functions.text import bm25_scores

    docs = [
        (0, "spark shuffle join query spark"),
        (1, "query planning and optimization notes"),
        (2, "completely unrelated cooking recipe text"),
        (3, "spark spark spark spark shuffle"),
        (4, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: r["bm25"] for r in
           bm25_scores(df, "text", ["spark", "query", "shuffle"]).collect()}
    want = _bm25_py(docs, ["spark", "query", "shuffle"])
    for i in want:
        assert abs(got[i] - want[i]) < 1e-6, (i, got[i], want[i])
    # ranking sanity: the spark-heavy docs dominate, empty doc scores 0
    assert got[3] > got[1] > got[2] == 0.0
    assert got[4] == 0.0


def test_bm25_backslash_term_scores_like_plain_term(spark):
    """A query term with a backslash must match its token: Spark
    decodes ``\\b`` inside a quote-only-escaped literal, which made
    the term ``a\\b`` silently score 0."""
    from pudl_spark.functions.text import bm25_scores

    def scores(corpus, terms):
        df = spark.createDataFrame(list(enumerate(corpus)),
                                   "doc_id long, text string")
        return {r["doc_id"]: r["bm25"]
                for r in bm25_scores(df, "text", terms).collect()}

    got = scores(["a\\b c", "d e"], ["a\\b"])
    plain = scores(["axb c", "d e"], ["axb"])
    assert got[0] > 0
    assert got == plain
