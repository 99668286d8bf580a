"""Text-analysis column expressions — language ID, quality scoring,
token counting, shingling, fingerprinting.

These extend the reference's string-cleaning vocabulary
(src/pudl/transform/classes.py) to the training-data-pipeline ops a
100 TB document corpus needs. Everything is a Column expression over
built-in functions: no Python in the row path, so the work distributes
and stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from pudl_spark.sql import ident, lit

# The builders render parsed SQL text: one JVM-side parse per
# expression instead of one py4j round trip per Column operator
# (hundreds to thousands per query).


def _tokens_sql(c: str) -> str:
    return (f"CASE WHEN trim({c}) = '' THEN "
            f"CAST(array() AS array<string>) "
            f"ELSE split(trim({c}), '\\\\s+') END")


def _word_shingles_sql(c: str, k: int, distinct: bool) -> str:
    t = _tokens_sql(c)
    # NB sequence(1, 0) steps DOWN in Spark -> guard short documents.
    idx = (f"CASE WHEN size({t}) >= {k} THEN "
           f"sequence(1, size({t}) - {k - 1}) "
           f"ELSE CAST(array() AS array<int>) END")
    sh = f"transform({idx}, i -> array_join(slice({t}, i, {k}), ' '))"
    return f"array_distinct({sh})" if distinct else sh

# Tiny per-language marker vocabularies for the n-gram/stopword
# heuristic language ID. Real pipelines swap in fastText et al.; the
# heuristic keeps the plumbing testable and deterministic.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "a", "in", "that"),
    "es": ("el", "la", "de", "que", "los", "una", "es", "por"),
    "fr": ("le", "la", "les", "des", "est", "une", "dans", "que"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "zh": ("de5", "shi4", "le5", "zai4", "you3", "wo3", "ta1", "men5"),
}

STOPWORDS_EN = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "as", "with", "at", "by", "from",
)


def tokens(col: str) -> Column:
    """Whitespace tokenization; empty string -> empty array."""
    return F.expr(_tokens_sql(ident(col)))


def token_count(col: str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: str) -> Column:
    """BPE-flavored token estimate: words + punctuation runs + digit
    runs each count; long words count ceil(len/4) pieces (the common
    ~4-chars-per-token heuristic).
    """
    c = ident(col)
    pieces = (f"aggregate({_tokens_sql(c)}, "
              f"CAST(0 AS BIGINT), (acc, wrd) -> "
              f"acc + CAST(ceil(length(wrd) / 4.0D) AS BIGINT))")
    punct = (f"length({c}) - length(regexp_replace({c}, "
             f"'[^\\\\w\\\\s]', ''))")
    return F.expr(f"CAST({pieces} + {punct} AS BIGINT)")


def char_ngrams(col: str, n: int = 3, distinct: bool = True) -> Column:
    """Character n-gram (shingle) array via sequence+substr — no UDF."""
    c = ident(col)
    # NB sequence(1, 0) steps DOWN in Spark -> guard short strings.
    idx = (f"CASE WHEN length({c}) >= {n} THEN "
           f"sequence(1, length({c}) - {n - 1}) "
           f"ELSE CAST(array() AS array<int>) END")
    grams = f"transform({idx}, i -> substr({c}, i, {n}))"
    return F.expr(f"array_distinct({grams})" if distinct else grams)


def word_shingles(col: str, k: int = 3, distinct: bool = True) -> Column:
    """k-word shingles: array of space-joined consecutive token runs."""
    return F.expr(_word_shingles_sql(ident(col), k, distinct))


def language_id_expr(col: str,
                     markers: dict[str, tuple[str, ...]] | None = None,
                     min_hits: int = 1) -> Column:
    """Heuristic language ID: the language whose marker vocabulary hits
    the most tokens; NULL when nothing scores >= min_hits.
    Deterministic tie-break by language code.
    """
    markers = markers or LANG_MARKERS
    t = _tokens_sql(ident(col))
    best = "CAST(NULL AS STRING)"
    best_score = lit(min_hits - 1)
    for lang in sorted(markers):
        vocab = "array(" + ",".join(lit(m) for m in markers[lang]) + ")"
        score = f"size(array_intersect({t}, {vocab}))"
        cond = f"{score} > {best_score}"
        best = f"CASE WHEN {cond} THEN {lit(lang)} ELSE {best} END"
        best_score = f"CASE WHEN {cond} THEN {score} ELSE {best_score} END"
    return F.expr(best)


def quality_score_expr(col: str,
                       stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    """Composite document-quality score in [0, 1]: combines length,
    mean word length, alpha ratio and stopword ratio — the standard
    cheap pre-filter family for web corpora.
    """
    f = _quality_features_sql(ident(col), stopwords)
    return F.expr(
        f"0.3D * {f['len_score']} + 0.2D * {f['word_score']} "
        f"+ 0.2D * {f['alpha_ratio']} + 0.3D * {f['stop_score']}")


def _quality_features_sql(c: str,
                          stopwords: tuple[str, ...]) -> dict[str, str]:
    """SQL fragments for the features quality_score_expr and
    quality_logit_expr share."""
    t = _tokens_sql(c)
    n_tok = f"size({t})"
    n_chars = f"length({c})"
    mean_word = (f"CASE WHEN {n_tok} > 0 THEN {n_chars} / {n_tok} "
                 f"ELSE 0.0D END")
    alpha_ratio = (
        f"CASE WHEN {n_chars} > 0 THEN "
        f"length(regexp_replace({c}, '[^A-Za-z ]', '')) "
        f"/ {n_chars} ELSE 0.0D END")
    sw = "array(" + ",".join(lit(s) for s in stopwords) + ")"
    stop_hits = (f"size(filter({t}, "
                 f"w -> array_contains({sw}, lower(w))))")
    stop_ratio = (f"CASE WHEN {n_tok} > 0 THEN {stop_hits} / {n_tok} "
                  f"ELSE 0.0D END")
    return {
        "len_score": f"least({n_tok} / 100.0D, 1.0D)",
        "word_score": (f"CASE WHEN (({mean_word}) >= 3) AND "
                       f"(({mean_word}) <= 10) THEN 1.0D "
                       f"ELSE 0.3D END"),
        "alpha_ratio": f"({alpha_ratio})",
        "stop_score": f"least(({stop_ratio}) * 5.0D, 1.0D)",
    }


def document_fingerprint(col: str, k: int = 5) -> Column:
    """Winnowing-style rolling-hash fingerprint: min 64-bit hash over
    the document's k-word shingles. Stable under whitespace noise;
    equal fingerprints are near-dup candidates.
    """
    sh = word_shingles(col, k=k, distinct=True)
    hashed = F.transform(sh, lambda s: F.xxhash64(s))
    return F.when(F.size(sh) > 0, F.array_min(hashed)).otherwise(
        F.xxhash64(F.col(col)))


def document_fingerprint_digest(col: str, k: int = 5) -> Column:
    """Winnowing-style fingerprint via a native digest: min md5 hex
    over the document's k-word shingles (whole-text md5 when shorter
    than k tokens). One single-pass JVM digest per shingle — ~10x
    cheaper than the per-character polynomial fold — while staying
    engine-portable (md5 is standardized, so a SQL oracle reproduces
    it bit-for-bit, unlike xxhash64). Hex strings compare bytewise in
    both engines, so min() agrees.
    """
    c = ident(col)
    sh = _word_shingles_sql(c, k, True)
    hashed = f"transform({sh}, s -> md5(encode(s, 'utf-8')))"
    return F.expr(
        f"CASE WHEN size({sh}) > 0 THEN array_min({hashed}) "
        f"ELSE md5(encode({c}, 'utf-8')) END")


def polynomial_hash(col: Column, mod: int = 1_000_000_007,
                    base: int = 31) -> Column:
    """Portable polynomial rolling hash over a string's code points:
    h = fold(h * base + unicode(ch)) mod m. Unlike xxhash64 this is
    reproducible in any SQL engine (the DuckDB oracle mirrors it with
    list_reduce), so fingerprint queries are differentially testable.
    Stays in whole-stage codegen: split/transform/aggregate are all
    built-in higher-order functions. Takes an expression: callers hash
    derived strings (e.g. a prefixed id).
    """
    chars = F.split(col, "")
    codes = F.transform(chars, lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * base + x) % mod,
    )


def document_fingerprint_portable(col: str, k: int = 5,
                                  mod: int = 1_000_000_007,
                                  base: int = 31) -> Column:
    """Winnowing-style fingerprint with the portable polynomial hash:
    min over the document's k-word shingles. Same semantics as
    document_fingerprint (the xxhash64 production path) but oracle-
    checkable bit-for-bit against DuckDB.
    """
    sh = word_shingles(col, k=k, distinct=True)
    hashed = F.transform(
        sh, lambda s: F.aggregate(
            F.transform(F.split(s, ""), lambda ch: F.ascii(ch).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: (acc * base + x) % mod))
    whole = F.aggregate(
        F.transform(F.split(F.col(col), ""),
                    lambda ch: F.ascii(ch).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * base + x) % mod)
    return F.when(F.size(sh) > 0, F.array_min(hashed)).otherwise(whole)


def bm25_scores(df, text_col: str, terms: list[str],
                k1: float = 1.2, b: float = 0.75):
    """BM25 relevance of every document against a fixed query-term
    list — the relevance-filtering step of a corpus curation pipeline
    ("keep documents that look like X").

    Scale shape: one aggregation pass computes the corpus statistics
    (N, avg doc length, per-term document frequencies) as a SINGLE
    row; a broadcast cross-join attaches it; tf and the score are then
    map-only higher-order array expressions inside codegen. Two scans,
    one 1-row shuffle, no explode of the token stream (term count is
    fixed and small, so per-term ``array_contains``/``filter`` beats
    an explode+join by the width of the token explosion).

    Per-term scores are summed in list order (a fixed-length chain,
    not a SUM aggregate) so the float result is order-deterministic
    and mirrors an oracle writing the same chain.

    Returns df plus: ``doc_len`` (bigint) and ``bm25`` (double,
    rounded to 6 dp to absorb the ULP difference between ln()
    implementations).
    """
    reserved = {"__toks", "__n", "__sumdl", "__dl", "doc_len", "bm25"} | {
        f"__df_{i}" for i in range(len(terms))}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"bm25_scores: input already has column(s) {sorted(clash)} "
            "that this operator uses as temp/output names; rename them")
    # Parsed SQL text: the per-term chain costs ~1,500 py4j round trips
    # when assembled through Column operators, one JVM-side parse here.
    qc = ident(text_col)
    k1, b = float(k1), float(b)
    toks_sql = f"transform({_tokens_sql(qc)}, t -> lower(t))"
    df = df.withColumn("__toks", F.expr(toks_sql))
    dl_sql = "CAST(size(__toks) AS BIGINT)"
    stats = df.agg(
        F.expr("CAST(count(1) AS DOUBLE) AS __n"),
        F.expr(f"CAST(sum({dl_sql}) AS DOUBLE) AS __sumdl"),
        *[F.expr(f"CAST(sum(CAST(array_contains(__toks, {lit(t)}) "
                 f"AS BIGINT)) AS DOUBLE) AS __df_{i}")
          for i, t in enumerate(terms)],
    )
    out = df.crossJoin(F.broadcast(stats)).withColumn(
        "__dl", F.expr(dl_sql))
    score_sql = lit(0.0)
    for i, t in enumerate(terms):
        tf = f"CAST(size(filter(__toks, x -> x = {lit(t)})) AS DOUBLE)"
        idf = (f"ln((__n - __df_{i} + {lit(0.5)}) / "
               f"(__df_{i} + {lit(0.5)}) + {lit(1.0)})")
        denom = (f"{tf} + {lit(k1)} * ({lit(1.0)} - {lit(b)} + {lit(b)} "
                 f"* CAST(__dl AS DOUBLE) / (__sumdl / __n))")
        score_sql = (f"({score_sql} + {idf} * "
                     f"({tf} * {lit(k1 + 1.0)}) / ({denom}))")
    return (
        out.withColumn("doc_len", F.col("__dl"))
        .withColumn("bm25", F.expr(f"round({score_sql}, 6)"))
        .drop("__toks", "__dl", "__n", "__sumdl",
              *[f"__df_{i}" for i in range(len(terms))])
    )


def quality_logit_expr(col: str,
                       stopwords: tuple[str, ...] = STOPWORDS_EN,
                       weights: tuple[float, float, float, float] =
                       (1.8, 2.2, 1.4, 0.9),
                       bias: float = -2.5) -> Column:
    """Linear quality-classifier logit (fasttext-style linear model
    with fixed weights — the model-based document filter of curation
    pipelines like CCNet/DCLM, made deterministic so an SQL oracle can
    reproduce it bit-for-bit). Features, in weight order:

      x1 = min(n_tok/100, 1)          (length)
      x2 = alpha_ratio                 (symbol pollution)
      x3 = min(stopword_ratio*5, 1)    (English-ness)
      x4 = 1.0 if 3<=mean_word_len<=10 else 0.3   (word shape)

    Returns the raw logit z = ((w1*x1 + w2*x2) + w3*x3) + w4*x4 + b;
    callers derive sigmoid(z) and the keep/drop label. The expression
    shape (association order) is part of the contract — mirror it
    exactly in any oracle. Map-only, whole-stage-codegen."""
    f = _quality_features_sql(ident(col), stopwords)
    w1, w2, w3, w4 = (float(w) for w in weights)
    return F.expr(
        f"((({lit(w1)} * {f['len_score']} "
        f"+ {lit(w2)} * {f['alpha_ratio']}) "
        f"+ {lit(w3)} * {f['stop_score']}) "
        f"+ {lit(w4)} * {f['word_score']}) "
        f"+ {lit(float(bias))}")
