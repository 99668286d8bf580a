"""Prefix-filter similarity join: deterministic completeness vs a
brute-force exact-Jaccard reference (the property LSH banding cannot
offer), and the rendezvous-sharding minimal-movement law."""

from __future__ import annotations

import itertools

from pyspark.sql import functions as F

from pudl_spark.functions.dedup import prefix_filter_pairs


def _brute_pairs(docs, k=3, t=0.5):
    def shingles(text):
        w = text.split()
        return {" ".join(w[i:i + k]) for i in range(len(w) - k + 1)}

    sets = {i: shingles(x) for i, x in docs}
    out = {}
    for (a, sa), (b, sb) in itertools.combinations(sorted(sets.items()), 2):
        if not sa or not sb:
            continue
        j = len(sa & sb) / len(sa | sb)
        if j >= t:
            out[(a, b)] = j
    return out


def test_complete_at_threshold_vs_brute_force(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, base),
        (2, base),  # exact dup
        (3, base + " tail"),  # high-j near dup
        (4, "the quick brown fox jumps over the sleepy dog again and again"),
        (5, "a completely different document about spark shuffles"),
        (6, "a completely different document about spark shuffles and joins"),
        (7, "short text only"),
        (8, "the quick brown fox"),  # one shingle, subset of base
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in prefix_filter_pairs(df, "doc_id", "text",
                                        jaccard_threshold=0.5).collect()}
    want = _brute_pairs(docs, t=0.5)
    assert set(got) == set(want)
    for p, j in want.items():
        assert abs(got[p] - j) < 1e-12
    assert (1, 2) in got  # the dup pair actually exercises the join


def test_threshold_one_keeps_only_exact(spark):
    docs = [(1, "a b c d e"), (2, "a b c d e"), (3, "a b c d f")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"])
           for r in prefix_filter_pairs(df, "doc_id", "text",
                                        jaccard_threshold=1.0).collect()}
    assert got == {(1, 2)}


def test_rendezvous_minimal_movement(spark):
    from pudl_spark.plans.queries import QUERIES

    out = QUERIES["doc_rendezvous_shards"](spark,
                                           "/root/testdata/sf0.001")
    rows = out.collect()
    assert rows
    for r in rows:
        assert 0 <= r["shard8"] < 8 and 0 <= r["shard9"] < 9
        # HRW law: a doc moves IFF the new shard (8) wins its argmax
        # — movement is always INTO the added shard, never reshuffle.
        assert r["moved"] == (r["shard9"] == 8)
        if not r["moved"]:
            assert r["shard8"] == r["shard9"]
    moved = sum(r["moved"] for r in rows) / len(rows)
    # expected 1/9 of the corpus; generous envelope for 500 docs
    assert 0.03 < moved < 0.25, moved


from hypothesis import given, settings
from hypothesis import strategies as st


@given(seed=st.integers(min_value=0, max_value=2**31 - 1),
       t=st.sampled_from([0.4, 0.5, 0.7, 0.9]))
@settings(max_examples=4, deadline=None)
def test_property_complete_on_random_corpora(seed, t, spark):
    """Completeness is the operator's whole claim — fuzz it: on
    random small-vocab corpora (high shingle overlap by construction)
    the prefix-filter output must equal the brute-force exact-Jaccard
    pair set at every threshold."""
    import numpy as np

    rng = np.random.default_rng(seed)
    vocab = ["a", "b", "c", "d", "e"]
    docs = [(i, " ".join(rng.choice(vocab, size=rng.integers(3, 12))))
            for i in range(12)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in prefix_filter_pairs(df, "doc_id", "text",
                                        jaccard_threshold=t).collect()}
    want = _brute_pairs(docs, t=t)
    assert set(got) == set(want)
    for p, j in want.items():
        assert abs(got[p] - j) < 1e-12


def test_float_ceil_overshoot_cannot_drop_pairs(spark):
    """Self-review r8 (high pass): 0.56*25 floats to 14.000…002, so a
    naive ceil gives 15 and the length/prefix filters drop a pair at
    exactly J = 14/25 = 0.56 before verification. The shaved-epsilon
    ceil must keep it."""
    words = [f"w{i}" for i in range(27)]
    a = " ".join(words)            # 25 distinct 3-shingles
    b = " ".join(words[:16])       # 14 shingles, all shared
    df = spark.createDataFrame([(1, a), (2, b)],
                               "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in prefix_filter_pairs(df, "doc_id", "text",
                                        jaccard_threshold=0.56).collect()}
    assert got == {(1, 2): 14 / 25}


def test_weighted_rendezvous_share_and_movement(spark):
    from pudl_spark.plans.queries import QUERIES

    out = QUERIES["doc_weighted_rendezvous_shards"](
        spark, "/root/testdata/sf0.01")
    rows = out.collect()
    assert rows
    n = len(rows)
    for r in rows:
        assert 0 <= r["shard4"] < 4 and 0 <= r["shard5"] < 5
        # weighted HRW law: movement is only ever INTO the added
        # shard — the old argmax is untouched unless the new shard
        # beats it.
        assert r["moved"] == (r["shard5"] == 4)
        if not r["moved"]:
            assert r["shard4"] == r["shard5"]
    # expected shares w_s / sum(w): 1/10..4/10 over 4 shards, then
    # the added shard takes 5/15 of the corpus. Generous envelopes
    # for 500 docs (sigma ~ 2%).
    from collections import Counter
    c4 = Counter(r["shard4"] for r in rows)
    for s in range(4):
        want = (s + 1) / 10
        assert abs(c4[s] / n - want) < 0.08, (s, c4[s] / n, want)
    moved = sum(r["moved"] for r in rows) / n
    assert abs(moved - 5 / 15) < 0.08, moved


def test_prefix_filter_single_text_pass(spark):
    """Structural pin for the single text pass: the FINAL plan must
    read only the checkpointed sets blocks — no parquet/file relation
    means the text shingles exactly once, at the checkpoint
    materialization. Pinned on optimized-logical-plan NODE CLASSES
    (LogicalRelation / LogicalRDD), not explain-string substrings."""
    from pudl_spark.catalog import read_parquet_table
    from pudl_spark.functions.dedup import prefix_filter_pairs

    from plan_utils import optimized_plan_classes

    d = read_parquet_table(spark,
                           "/root/testdata/sf0.001/documents.parquet")

    out = prefix_filter_pairs(d, "doc_id", "text",
                              jaccard_threshold=0.5)
    classes = optimized_plan_classes(out)
    assert "LogicalRelation" not in classes, classes
    assert "LogicalRDD" in classes, classes
