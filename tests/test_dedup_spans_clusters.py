"""Unit tests for duplicated-substring span detection and cluster-level
MinHash dedup — edge cases the synthetic corpus doesn't exercise
(short docs, transitive chains, singletons).
"""

from __future__ import annotations

import pytest

from pudl_spark.functions.dedup import (
    duplicated_span_stats, minhash_clusters,
)


def test_duplicated_span_stats_known_span(spark):
    # docs 1 and 2 share the 7-token run "a b c d e f g" -> with k=3
    # that is 5 consecutive duplicated shingle starts; doc 3 shares
    # nothing; doc 4 is too short for any shingle.
    rows = [
        (1, "x y a b c d e f g q r"),
        (2, "a b c d e f g z z z z"),
        (3, "totally different words here now ok"),
        (4, "one two"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           duplicated_span_stats(df, "doc_id", "text", k=3).collect()}
    assert out[1]["n_grams"] == 9
    assert out[1]["n_dup_grams"] == 5
    assert out[1]["max_dup_run"] == 5
    assert out[2]["n_dup_grams"] == 5
    assert out[2]["max_dup_run"] == 5
    assert out[3]["n_dup_grams"] == 0
    assert out[3]["max_dup_run"] == 0
    assert out[3]["dup_ratio"] == 0.0
    assert out[4]["n_grams"] == 0
    assert out[4]["dup_ratio"] == 0.0
    assert len(out) == 4


def test_duplicated_span_stats_two_separate_runs(spark):
    # doc 1 shares two non-adjacent trigram runs with docs 2/3 ->
    # max_dup_run must be the longest single run, not the total.
    rows = [
        (1, "a b c q q q q d e f q q q q"),
        (2, "z a b c z"),
        (3, "z d e f z"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           duplicated_span_stats(df, "doc_id", "text", k=3).collect()}
    assert out[1]["n_dup_grams"] == 2
    assert out[1]["max_dup_run"] == 1


def test_minhash_clusters_transitive_chain(spark):
    # A==B and B==C textually (exact dup -> jaccard 1), D is a
    # singleton: one cluster {1,2,3} keyed by min id, D self-keyed.
    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, text), (2, text), (3, text),
            (4, "completely unrelated content with many distinct words")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           minhash_clusters(df, "doc_id", "text", num_hashes=64,
                            bands=16, shingle_k=3,
                            jaccard_threshold=0.5).collect()}
    assert [out[i]["cluster_id"] for i in (1, 2, 3)] == [1, 1, 1]
    assert [out[i]["cluster_size"] for i in (1, 2, 3)] == [3, 3, 3]
    assert [out[i]["is_kept"] for i in (1, 2, 3, 4)] == [
        True, False, False, True]
    assert out[4]["cluster_id"] == 4 and out[4]["cluster_size"] == 1


def test_minhash_clusters_no_pairs(spark):
    rows = [(7, "alpha beta gamma delta epsilon zeta eta theta"),
            (9, "iota kappa lambda mu nu xi omicron pi rho")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           minhash_clusters(df, "doc_id", "text").collect()}
    assert out[7]["cluster_id"] == 7 and out[7]["is_kept"]
    assert out[9]["cluster_id"] == 9 and out[9]["is_kept"]


def test_quality_logit_empty_and_signs(spark):
    from pudl_spark.functions.text import quality_logit_expr

    rows = [(1, ""), (2, "the and of to in is it that for on as with "
                         "at by from the and of to in is it that")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["z"] for r in df.select(
        "doc_id", quality_logit_expr("text").alias("z")).collect()}
    # empty text: x1=0, x2=0, x3=0, x4=0.3 -> z = 0.27 - 2.5 < 0
    assert out[1] == pytest.approx(0.9 * 0.3 - 2.5)
    # all-stopword text scores x3 at the cap
    assert out[2] > out[1]


def test_bigram_perplexity_tiny_fixture(spark):
    import math

    from pudl_spark.plans.queries import QUERIES
    import tempfile, os
    rows = [(1, "a b a b"), (2, "a b"), (3, "solo")]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, ["doc_id", "text"]).write.parquet(
                os.path.join(td, "documents.parquet"))
        out = {r["doc_id"]: r for r in
               QUERIES["doc_bigram_perplexity"](spark, td).collect()}
    # corpus bigrams: doc1 -> (a,b),(b,a),(a,b); doc2 -> (a,b)
    # c12: (a,b)=3, (b,a)=1; c1: a=3, b=1; V=3 (a,b,solo)
    # doc3 has no bigrams and must drop out
    assert set(out) == {1, 2}
    lnp_ab = round(math.log((3 + 1.0) / (3 + 3.0)), 6)
    lnp_ba = round(math.log((1 + 1.0) / (1 + 3.0)), 6)
    assert out[2]["n_bigrams"] == 1
    assert out[2]["avg_logprob"] == pytest.approx(lnp_ab, abs=1e-9)
    exp1 = (2 * lnp_ab + lnp_ba) / 3
    assert out[1]["n_bigrams"] == 3
    assert out[1]["avg_logprob"] == pytest.approx(exp1, abs=1e-6)
    assert out[1]["perplexity"] == pytest.approx(
        round(math.exp(-out[1]["avg_logprob"]), 6), abs=1e-5)


def test_chunk_windows_boundaries(spark):
    import tempfile, os

    from pudl_spark.plans.queries import QUERIES

    mk = lambda n: " ".join(f"w{i}" for i in range(1, n + 1))
    rows = [(1, mk(64)), (2, mk(65)), (3, mk(112)), (4, mk(113)),
            (5, "one"), (6, "   ")]
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, ["doc_id", "text"]).write.parquet(
                os.path.join(td, "documents.parquet"))
        out = QUERIES["doc_chunk_windows"](spark, td).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for v in by_doc.values():
        v.sort(key=lambda r: r["chunk_idx"])
    assert len(by_doc[1]) == 1 and by_doc[1][0]["n_tok"] == 64
    assert [r["n_tok"] for r in by_doc[2]] == [64, 17]
    assert [r["start_tok"] for r in by_doc[2]] == [1, 49]
    assert [r["n_tok"] for r in by_doc[3]] == [64, 64]
    assert [r["n_tok"] for r in by_doc[4]] == [64, 64, 17]
    assert [r["start_tok"] for r in by_doc[4]] == [1, 49, 97]
    assert by_doc[5][0]["chunk_text"] == "one"
    assert 6 not in by_doc  # whitespace-only doc yields no chunks
    # overlap property: consecutive chunks share exactly 16 tokens
    c0, c1 = by_doc[3][0]["chunk_text"].split(), by_doc[3][1]["chunk_text"].split()
    assert c0[-16:] == c1[:16]


def test_duplicated_span_stats_heavy_hitter_shingle(spark):
    """VERDICT r3 #3 (de-skew): one boilerplate shingle planted in 10%
    of docs must (a) stay correct and (b) be flagged via a splittable
    groupBy+semi-join, never a Window over partitionBy(gh) — a skewed
    window partition is unsplittable at corpus scale."""
    boiler = "all rights reserved worldwide"
    rows = [(i, (boiler if i % 10 == 0
                 else f"unique body {i} with") + f" tail {i} words {i}")
            for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(8)
    out = duplicated_span_stats(df, "doc_id", "text", k=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the only Window in the plan is the per-doc run detection
    # (partitionBy id); the cross-doc flag must be a semi-join
    assert "LeftSemi" in plan
    import re
    for m in re.finditer(r"Window \[([^\]]*)\]", plan):
        assert "gh" not in m.group(1)
    got = {r["doc_id"]: r for r in out.collect()}
    # every 10th doc shares exactly the boilerplate 4-gram ("all
    # rights reserved worldwide" + " tail" etc diverge at token 5 via
    # the distinct i), so dup grams == 1 for them, 0 for the rest
    assert got[0]["n_dup_grams"] >= 1
    assert got[10]["n_dup_grams"] >= 1
    assert got[1]["n_dup_grams"] == 0
    assert got[7]["n_dup_grams"] == 0
