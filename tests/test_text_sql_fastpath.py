"""Golden pins for the SQL-text expression builders in
``functions/text.py`` and ``operators/layout.py``. The expected values
in ``golden/text_builders.json`` were frozen from the earlier two-body
builders (parsed SQL text and Column operators) while both bodies
agreed bit for bit, over a corpus chosen to hit every guard branch
(empty / whitespace-only / short / unicode / quote / backslash
inputs).
"""

import json
import os

import pytest

from pudl_spark.functions.text import (
    bpe_ish_token_count, char_ngrams, document_fingerprint_digest,
    language_id_expr, quality_logit_expr, quality_score_expr, tokens,
    word_shingles,
)
from pudl_spark.operators.layout import zorder_expr

with open(os.path.join(os.path.dirname(__file__), "golden",
                       "text_builders.json")) as _f:
    GOLDEN = json.load(_f)

CORPUS = [
    "",                                   # empty -> empty token array
    "   ",                                # whitespace-only
    "a",                                  # shorter than any n/k
    "one two",                            # < k=3 tokens
    "the quick brown fox jumps over the lazy dog",
    "der und die ist nicht das ein zu",   # German markers
    "it's a \"quoted\" back\\slash line", # quote/backslash safety
    "café naïve 中文 words mixed in",  # unicode
    "x" * 37 + " yy " + "z" * 9,          # long words (BPE ceil path)
    "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    "Multi.  spaced\tand\nnewlined   text here!",
    "pun,ct;ua:tion! and? (numbers) 123 45.6 7e8",
]

BUILDERS = [
    ("tokens", lambda c: tokens(c)),
    ("bpe", lambda c: bpe_ish_token_count(c)),
    ("char_ngrams3", lambda c: char_ngrams(c, n=3)),
    ("char_ngrams2_all", lambda c: char_ngrams(c, n=2, distinct=False)),
    ("shingles3", lambda c: word_shingles(c, k=3)),
    ("shingles5_all", lambda c: word_shingles(c, k=5, distinct=False)),
    ("lang", lambda c: language_id_expr(c)),
    ("quality", lambda c: quality_score_expr(c)),
    ("logit", lambda c: quality_logit_expr(c)),
    ("digest", lambda c: document_fingerprint_digest(c, k=5)),
]


@pytest.fixture(scope="module")
def text_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], ["id", "text"],
    ).coalesce(1)


@pytest.mark.parametrize("name,build", BUILDERS, ids=[b[0] for b in BUILDERS])
def test_sql_text_path_bit_equal(text_df, name, build):
    """Each builder reproduces the frozen two-body output bit for bit
    (exact floats, same array order)."""
    assert GOLDEN["corpus"] == CORPUS
    got = [r.v for r in text_df.select("id", build("text").alias("v"))
           .orderBy("id").collect()]
    assert got == GOLDEN[name]


def test_zorder_sql_text_bit_equal(spark):
    """zorder_expr reproduces the frozen interleaved-bit values,
    including keys at the 20-bit edge."""
    df = spark.createDataFrame(
        [tuple(r) for r in GOLDEN["zorder_rows"]], ["a", "b"]).coalesce(1)
    got = [r.z for r in
           df.select(zorder_expr(["a", "b"], bits=20).alias("z")).collect()]
    assert got == GOLDEN["zorder"]
    # Distinctness sanity: interleaving is injective on these inputs.
    assert len(set(got)) == df.count()
