"""Distributed BPE tokenizer training (Sennrich, Haddow & Birch 2016).

The byte-pair-encoding merge table is THE tokenizer-induction step of
a training-data pipeline, and its scale shape matters: the corpus is
scanned ONCE to build the (word, count) frequency table — at 100 TB
that collapses terabytes of text into a vocabulary-sized frame
(~10^6-10^7 distinct words) — and every merge iteration then runs on
that small frame only: one explode of adjacent symbol pairs, one
weighted groupBy, one 1-row collect for the argmax pair, and one
Arrow-batched merge application. N merges = N cheap jobs over the
vocabulary, never N passes over the corpus.

Determinism: ties on pair count break lexicographically (left, right)
ascending, so the merge table is a pure function of the corpus — the
test suite pins it against a first-principles pure-Python reference.
The trained table is the genuinely-iterative kind of result the
driver contract records with a rows-only check (no closed-form SQL
oracle exists for an iterative argmax recursion).

Word convention: whitespace tokens, lowercased by the caller if
desired; each word's symbol sequence is its characters with a
trailing end-of-word marker symbol "</w>" (the original paper's
convention), so merges can learn word-final units.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F

EOW = "</w>"


def _merge_symbols(syms: list[str], left: str, right: str) -> list[str]:
    """Greedy left-to-right, non-overlapping merge of (left, right)."""
    out: list[str] = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def train_bpe(docs: DataFrame, text_col: str,
              num_merges: int = 50) -> DataFrame:
    """Learn ``num_merges`` BPE merges from a text column; returns a
    DataFrame (rank int, left string, right string, merged string,
    pair_count long) ordered by rank.

    Plan shape per iteration: the vocabulary frame (distinct word ->
    corpus count -> current symbol array) explodes its adjacent
    pairs, a weighted groupBy sums counts (map-side combinable), the
    argmax pair collects as ONE row, and an Arrow-batched kernel
    rewrites the symbol arrays. Each round ends in an EAGER
    ``localCheckpoint`` that truncates lineage — same discipline as
    the connected-components loop; without it the nested-plan tree
    grows once per merge and the fixpoint dies of plan bloat long
    before data size matters.
    """
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(F.split(
            F.trim(F.col(text_col)), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "syms",
            F.concat(F.split(F.col("word"), ""),
                     F.array(F.lit(EOW))))
        .select("word", "n", "syms")
        # Lineage pin: the vocabulary the merge loop starts from.
        .localCheckpoint()
    )

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(num_merges):
        pairs = (
            words.select(
                "n",
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, F.size("syms") - 1),
                        F.slice("syms", 2, F.size("syms") - 1),
                        lambda a, b: F.struct(a.alias("l"),
                                              b.alias("r")))
                ).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("l").asc(),
                     F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not pairs:
            break
        best = pairs[0]
        left, right, cnt = best["l"], best["r"], int(best["cnt"])
        merges.append((rank, left, right, left + right, cnt))

        def apply_merge(it: Iterator[pd.DataFrame],
                        _l: str = left, _r: str = right
                        ) -> Iterator[pd.DataFrame]:
            for pdf in it:
                pdf = pdf.copy()
                pdf["syms"] = pdf["syms"].map(
                    lambda s: _merge_symbols(list(s), _l, _r))
                yield pdf

        # Lineage pin: one cut per merge keeps the plan depth constant.
        words = words.mapInPandas(
            apply_merge, schema="word string, n long, syms array<string>"
        ).localCheckpoint()
    return spark.createDataFrame(
        merges,
        "rank int, left string, right string, merged string, "
        "pair_count long")


def train_bpe_reference(word_counts: dict[str, int],
                        num_merges: int = 50
                        ) -> list[tuple[int, str, str, str, int]]:
    """First-principles single-process reference (the paper's
    algorithm verbatim) used by the tests to pin the distributed
    implementation exactly — same EOW convention and tie-break."""
    vocab = {w: list(w) + [EOW] for w in word_counts}
    merges = []
    for rank in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            n = word_counts[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + n
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), cnt = best
        merges.append((rank, left, right, left + right, cnt))
        vocab = {w: _merge_symbols(s, left, right)
                 for w, s in vocab.items()}
    return merges


def apply_bpe(docs: DataFrame, text_col: str, merges: list[tuple],
              out_col: str = "bpe_tokens") -> DataFrame:
    """Tokenize a text column with a trained merge list (ranks in
    order): Arrow-batched map-only kernel, the corpus-scale side of
    the tokenizer — no shuffle, merge table broadcast by closure.
    NULL-total: a NULL text yields NULL tokens (SQL semantics — the
    oracle's string chain propagates NULL the same way), never the
    literal string "None" tokenized."""
    ordered = [(m[1], m[2]) for m in sorted(merges, key=lambda m: m[0])]

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            toks = []
            for text in pdf[text_col]:
                if text is None or (isinstance(text, float)
                                    and pd.isna(text)):
                    toks.append(None)
                    continue
                words = str(text).split()
                out: list[str] = []
                for w in words:
                    syms = list(w) + [EOW]
                    for left, right in ordered:
                        if len(syms) < 2:
                            break
                        syms = _merge_symbols(syms, left, right)
                    out.extend(syms)
                toks.append(out)
            pdf = pdf.copy()
            pdf[out_col] = toks
            yield pdf

    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in docs.schema.fields)
    return docs.mapInPandas(
        kernel, schema=f"{fields}, {out_col} array<string>")
