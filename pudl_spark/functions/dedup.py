"""Deduplication at corpus scale: exact, MinHash+LSH, SimHash, n-gram
Jaccard. All signature math is built-in-function Column algebra
(xxhash64 / transform / aggregate) — JVM-side, no Python row path —
so signatures compute map-side in one scan and the only shuffles are
the band-bucket groupBys and the candidate-pair join.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window, functions as F

from pudl_spark.functions.text import char_ngrams, word_shingles
from pudl_spark.session import inherit_context
from pudl_spark.sql import in_list


def _spread(df: DataFrame, key: str) -> DataFrame:
    from pudl_spark.catalog import spread_small_input

    return spread_small_input(df, key)


# ---------------------------------------------------------------- exact

def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-duplicate groups: (group_hash, canonical_id, dup_ids).

    Groups by a 64-bit content hash (cheap shuffle key — the full text
    never shuffles), keeps min(id) as canonical.
    """
    h = F.xxhash64(F.col(text_col)).alias("content_hash")
    return (
        df.select(F.col(id_col), h)
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------- minhash

def oph_banded_from_sets(sets_df: DataFrame, num_hashes: int = 64,
                         bands: int = 16,
                         checkpoint: bool = True) -> DataFrame:
    """LSH band keys ``(id, band, bucket)`` from OPH minhash
    signatures of an ``(id, __set)`` shingle-hash frame —
    `shingle_hash_sets`' output or a persisted ``{prefix}_sets``
    table. The one blocking primitive of the pair miner
    (`minhash_candidate_pairs`) and the persisted index
    (`build_lsh_store`, `append_to_lsh_store`, `lsh_store_probe`);
    deriving bands from stored hash arrays spares a second text
    pass. ``sets_df`` is already `_spread` across cores, so no
    repartition is added here.

    One-permutation hashing (OPH, Li/Owen/Zhang 2012): instead of
    num_hashes independent permutation minima (num_hashes agg-buffer
    updates per shingle), each distinct shingle hash routes to bin
    h mod num_hashes and each occupied (id, bin) keeps ONE min; the
    per-bin minima then pivot into the fixed-length signature in a
    num_hashes-times-smaller aggregation. Empty bins densify by
    ROTATION (Shrivastava & Li 2014): bin i copies the next
    non-empty bin scanning i+1, i+2, ... mod num_hashes, which keeps
    the per-bin collision probability ~= j for short documents (a
    global-min fill would correlate every empty bin and miss
    high-j short-doc pairs), so the banding recall bound matches
    classic MinHash. Precision is exact regardless: every caller
    verifies true Jaccard on the full sets.

    Densification runs as log2(num_hashes) coalesce-doubling
    passes: after pass r, __v{r}[i] = first non-empty among bins
    i .. i+2^r-1 (mod nb). Each pass is its own projected column so
    the expression tree stays linear, and each is one parsed SQL
    expression rather than Column-DSL lambdas, which cost hundreds
    of py4j round trips per call for the same Catalyst tree.

    ``checkpoint`` pins the signatures (reuse pin) for the pair
    miner's self-join (minhash_near_dup_pairs 2.28 s unpinned vs
    1.53 s at sf0.1); single-consumer callers (the store writes,
    appends and the probe) pass False.
    """
    nb = F.lit(num_hashes)
    exploded = sets_df.select(
        "id", F.explode("__set").alias("__sh"))
    binned = exploded.groupBy(
        "id", F.pmod("__sh", nb).alias("__bin")
    ).agg(F.min("__sh").alias("__mh"))
    sig_map = binned.groupBy("id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("__bin", "__mh"))).alias("__m"))
    rows_per_band = num_hashes // bands
    hi = num_hashes - 1
    sig_map = sig_map.withColumn(
        "__v0", F.expr(f"transform(sequence(0, {hi}), "
                       "i -> element_at(__m, cast(i as bigint)))"))
    step, r = 1, 0
    while step < num_hashes:
        sig_map = sig_map.withColumn(
            f"__v{r + 1}",
            F.expr(f"transform(sequence(0, {hi}), i -> coalesce("
                   f"element_at(__v{r}, i + 1), element_at(__v{r}, "
                   f"pmod(i + {step}, {num_hashes}) + 1)))"))
        step, r = step * 2, r + 1
    sig_agg = sig_map.select("id", F.col(f"__v{r}").alias("__sig"))
    if checkpoint:
        sig_agg = sig_agg.localCheckpoint(eager=False)
    entries = ", ".join(
        f"named_struct('band', {b}, 'bucket', xxhash64(slice(__sig, "
        f"{b * rows_per_band + 1}, {rows_per_band})))"
        for b in range(bands))
    # Bands shuffle WITHOUT the verify sets (ids + two longs only —
    # the explode multiplies rows by `bands`, so payload width matters
    # 16x); sets re-join for the candidate pairs only.
    return sig_agg.select(
        "id", F.explode(F.expr(f"array({entries})")).alias("bb")
    ).select("id", "bb.band", "bb.bucket")


def shingle_hash_sets(df: DataFrame, id_col: str, text_col: str,
                      shingle_k: int = 3) -> DataFrame:
    """``(id, __set)`` distinct shingle-hash arrays — the verify-side
    payload. MAP-SIDE array algebra on the base table (no shuffle, no
    object-hash aggregate): distinct shingle xxhash64s — set jaccard
    over 64-bit hashes equals string-set jaccard modulo collisions,
    and longs are ~5x slimmer than shingle strings. Only candidate
    ids' sets ever shuffle, via the verify joins.
    """
    df = _spread(df, id_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform(word_shingles(text_col, k=shingle_k),
                        lambda s: F.xxhash64(s))).alias("__set"))


def verified_jaccard_pairs(cand: DataFrame, sets_a: DataFrame,
                           sets_b: DataFrame, a_col: str = "id_a",
                           b_col: str = "id_b",
                           jaccard_threshold: float = 0.7) -> DataFrame:
    """Exact-Jaccard verify join: candidate pairs pick up their two
    shingle-hash sets and keep only pairs at/above the threshold —
    precision is exact no matter how loose the blocking was.
    """
    pairs = (
        cand
        .join(sets_a.select(F.col("id").alias(a_col),
                            F.col("__set").alias("sh_a")), a_col)
        .join(sets_b.select(F.col("id").alias(b_col),
                            F.col("__set").alias("sh_b")), b_col)
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return (
        pairs.withColumn(
            "jaccard",
            F.when(union > 0, inter.cast("double") / union).otherwise(0.0))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select(a_col, b_col, "jaccard")
    )


def minhash_candidate_pairs(df: DataFrame, id_col: str, text_col: str,
                            num_hashes: int = 64, bands: int = 16,
                            shingle_k: int = 3,
                            jaccard_threshold: float = 0.7) -> DataFrame:
    """MinHash + LSH banding near-dup pairs.

    shingle -> minhash (map-side) -> split signature into ``bands``
    bands -> explode -> bucket-join on (band_idx, band_hash) -> verify
    true Jaccard on the shingle sets. Returns (id_a, id_b, jaccard)
    with id_a < id_b. The verify join re-reads only candidate rows'
    shingles; candidates ~ O(true dups), not O(n^2).

    The corpus shingles ONCE into a lazily checkpointed sets frame:
    the band keys derive from those hash arrays
    (`oph_banded_from_sets`) and the verify join reads the same
    blocks. Text shingling is the dominant map-side cost, and the
    checkpoint measured faster than a second text pass. Its blocks
    do not survive executor loss; on a preemptible cluster, where a
    restart costs more than a reliable checkpoint, use
    `df.checkpoint()` instead.
    """
    # Reuse pin: banding and the verify join read the sets
    # (minhash_near_dup_pairs 5.59 s unpinned vs 1.53 s at sf0.1).
    sets = shingle_hash_sets(df, id_col, text_col,
                             shingle_k).localCheckpoint(eager=False)
    banded = oph_banded_from_sets(sets, num_hashes, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, on=[F.col("a.band") == F.col("b.band"),
                      F.col("a.bucket") == F.col("b.bucket"),
                      F.col("a.id") < F.col("b.id")])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return verified_jaccard_pairs(cand, sets, sets, "id_a", "id_b",
                                  jaccard_threshold)


def prefix_filter_pairs(df: DataFrame, id_col: str, text_col: str,
                        shingle_k: int = 3,
                        jaccard_threshold: float = 0.7) -> DataFrame:
    """DETERMINISTICALLY COMPLETE near-dup pairs via prefix filtering
    (SSJoin, Chaudhuri/Ganti/Kaushik ICDE 2006; All-Pairs, Bayardo et
    al. WWW 2007; PPJoin, Xiao et al. WWW 2008) — the exact
    alternative to MinHash banding: banding misses a qualifying pair
    with probability (1-j^r)^b > 0, while the prefix filter misses
    NONE at/above the threshold, by construction.

    Order every document's shingle-hash set by a global canonical
    order (ascending corpus frequency, rarest first — ties by hash);
    keep each set's first ``p = n - ceil(t*n) + 1`` tokens as its
    PREFIX. Any pair with J(a,b) >= t shares >= ceil(t*|a|) tokens,
    and a's suffix holds only ceil(t*|a|) - 1 of them, so some shared
    token sits in a's prefix — candidates = pairs sharing any prefix
    token, provably a superset of the answer. Exact-Jaccard verify
    restores precision.

    Scale shape: one token-frequency aggregation (vocabulary-sized,
    map-side combinable), one bounded per-doc window (partition = one
    document's set), one equi-join on prefix tokens — rare tokens
    first means the join's fan-out per token is small by
    construction (the frequent tokens that would explode the join
    land in suffixes). Returns (id_a, id_b, jaccard), id_a < id_b.
    The token-to-frequency join sends every occurrence of a hot
    token to one shuffle partition; its build side is one row per
    token, so AQE's skew-join split handles those partitions.
    """
    t = jaccard_threshold

    def ceil_safe(x):
        # ceil(t*n) with an epsilon shaved off first: float rounding
        # can push t*n a hair ABOVE the true rational product (e.g.
        # 0.56*25 -> 14.000000000000002, ceil 15 not 14), and an
        # overshot ceiling here would SHORTEN a prefix / TIGHTEN a
        # filter and silently drop a qualifying pair — the one
        # direction that breaks completeness. Undershooting merely
        # lengthens a prefix; the exact verify keeps precision.
        return F.ceil(x - F.lit(1e-9))

    # Reuse pin: the token explodes and both verify sides read the
    # sets (doc_prefix_filter_dup_pairs 7.41 s unpinned vs 3.16 s).
    sets = shingle_hash_sets(df, id_col, text_col,
                             shingle_k).localCheckpoint(eager=False)
    tok = sets.select("id", F.size("__set").alias("__n"),
                      F.explode("__set").alias("__tok"))
    freq = tok.groupBy("__tok").agg(F.count(F.lit(1)).alias("__df"))
    tokf = tok.join(freq, "__tok")
    w = Window.partitionBy("id").orderBy(F.col("__df").asc(),
                                         F.col("__tok").asc())
    prefix = (tokf
              .withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn")
                      <= F.col("__n")
                      - ceil_safe(F.lit(t) * F.col("__n"))
                      + F.lit(1))
              .select("id", "__n", "__rn", "__tok"))
    # LENGTH filter (SSJoin): J >= t forces min(|a|,|b|) >= overlap
    # >= t * max(|a|,|b|), so size-incompatible pairs drop inside the
    # join before the dedupe shuffle ever sees them. POSITIONAL
    # filter (PPJoin): every common token sits at canonical position
    # >= this one, so overlap <= min(|a|-i+1, |b|-j+1); J >= t needs
    # overlap >= t/(1+t)*(|a|+|b|). The pair's FIRST common token has
    # the smallest positions (largest bound), so keeping a pair when
    # ANY shared prefix token passes equals the paper's first-match
    # rule. Both filters run Spark-side only (the verify is exact),
    # so the sole hazard is OVER-pruning — the 1e-9 slack keeps
    # float-rounded bounds from ever exceeding the true rational one.
    a_left = F.col("a.__n") - F.col("a.__rn") + F.lit(1)
    b_left = F.col("b.__n") - F.col("b.__rn") + F.lit(1)
    min_overlap = (F.lit(t) / F.lit(1.0 + t)
                   * (F.col("a.__n") + F.col("b.__n")) - F.lit(1e-9))
    cand = (prefix.alias("a")
            .join(prefix.alias("b"),
                  on=[F.col("a.__tok") == F.col("b.__tok"),
                      F.col("a.id") < F.col("b.id"),
                      F.col("b.__n")
                      >= ceil_safe(F.lit(t) * F.col("a.__n")),
                      F.col("a.__n")
                      >= ceil_safe(F.lit(t) * F.col("b.__n")),
                      F.least(a_left, b_left) >= min_overlap])
            .select(F.col("a.id").alias("id_a"),
                    F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
    return verified_jaccard_pairs(cand, sets, sets, "id_a", "id_b", t)


def minhash_dedup(df: DataFrame, id_col: str, text_col: str,
                  **kwargs) -> DataFrame:
    """Drop near-duplicates: every id appearing as the *larger* member
    of a qualifying pair is removed (min-id canonicalization — the
    transitive-closure variant composes with
    operators.graph.connected_components when exact cluster membership
    matters).
    """
    pairs = minhash_candidate_pairs(df, id_col, text_col, **kwargs)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


_STORE_BYTES_CACHE: dict[str, int] = {}


def build_lsh_store(spark, df: DataFrame, id_col: str, text_col: str,
                    table_prefix: str, path: str,
                    num_hashes: int = 64, bands: int = 16,
                    shingle_k: int = 3, num_buckets: int = 8) -> None:
    """Persist a corpus as an INCREMENTAL near-dup index: two
    bucketed tables, ``{prefix}_bands`` (band keys, bucketed+sorted
    by the LSH join key) and ``{prefix}_sets`` (shingle-hash sets,
    bucketed by id for the verify join).

    The point at 100 TB: a growing corpus re-mines near-dups every
    ingest batch, and the expensive parts — shingling, OPH signature
    aggregation, the band shuffle — are all corpus-side. Paying them
    ONCE at index build and probing with only the new batch turns
    per-batch cost from O(corpus) to O(batch): `lsh_store_probe`
    plans the bucket join and the verify join with NO Exchange on
    the store side (the same bucketed-layout contract as
    `similarity.build_ivf_store`).

    Single-text-pass build (the build half of the r12
    `oph_banded_from_sets` swap, staged two rounds and landed r15):
    the corpus is shingled ONCE — the SETS table writes first, and
    the bands table derives from the WRITTEN sets table via
    `oph_banded_from_sets`, so the second corpus text pass becomes a
    scan of stored hash arrays (measured 32% off the index build at
    sf0.1; the saved work is the corpus text pass, so the fraction
    grows with document length at scale). Write order flips (sets
    before bands) with crash semantics covered on every reader: both
    tables drop first, the build is re-runnable from scratch,
    probes/appends read BOTH tables (a missing one raises at plan
    time), and the streaming bootstrap gate requires both tables
    before taking the probe path (r16 — the r15 order flip had left
    that gate keyed on the first-written table). Byte-identity of
    BOTH tables vs the pre-swap two-pass build is pinned against
    frozen fingerprints in tests/test_r16_queue.py.

    Deliberately SEQUENTIAL, unlike the IVF build's concurrent
    store+sidecar writes (r16, measured): deriving bands from a
    checkpointed sets frame to unlock write overlap was tried and
    REVERTED — localCheckpoint does not preserve the frame's
    partitioning, so the OPH aggregations lost the Exchange-free
    plan the id-bucketed sets table gives them (HashPartitioning(id)
    satisfies both groupBys' clustering), costing +2 exchanges and
    +2 AQE stage jobs; interleaved same-window A/B floors read the
    fused form ~0.5-0.8 s SLOWER per build at sf0.1, and at scale
    the extra corpus-sized exchanges only grow.
    """
    from pudl_spark.sources.files import (
        set_table_build_params, write_bucketed_table,
    )

    for t in (f"{table_prefix}_bands", f"{table_prefix}_sets"):
        _invalidate_store_bytes(spark, t)  # rebuilt size differs
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_bucketed_table(
        shingle_hash_sets(df, id_col, text_col, shingle_k),
        f"{table_prefix}_sets", ["id"], num_buckets,
        sort_cols=["id"], path=os.path.join(path, "sets"))
    write_bucketed_table(
        oph_banded_from_sets(spark.table(f"{table_prefix}_sets"),
                             num_hashes, bands, checkpoint=False),
        f"{table_prefix}_bands", ["band", "bucket"], num_buckets,
        sort_cols=["band", "bucket", "id"],
        path=os.path.join(path, "bands"))
    # The bands table carries the index's build parameters
    # (VERDICT r10 #4): every append/probe asserts against them, so
    # a caller who repeats the wrong num_hashes/bands/shingle_k now
    # raises instead of silently corrupting the index (append) or
    # missing pairs (probe).
    set_table_build_params(
        spark, f"{table_prefix}_bands",
        {"num_hashes": num_hashes, "bands": bands,
         "shingle_k": shingle_k, "num_buckets": num_buckets})


def append_to_lsh_store(spark, table_prefix: str, new_docs: DataFrame,
                        id_col: str, text_col: str,
                        num_hashes: int = 64, bands: int = 16,
                        shingle_k: int = 3,
                        num_buckets: int = 8) -> None:
    """INGEST a batch into the persisted LSH index — the write half
    of the probe-then-ingest loop a growing corpus runs every batch
    (r9; the IVF twin is `similarity.append_to_ivf_store`): the
    batch's band keys and shingle sets append into the two bucketed
    tables under the build's exact bucket/sort spec, so downstream
    probes keep their Exchange-free store side across appends.
    Index rows are per-document and independent, so append(batch) ==
    rebuild(corpus UNION batch) UNCONDITIONALLY (unlike the IVF
    append, which also needs the batch to contribute no seeds) —
    pinned in tests/test_lsh_store.py. Work is O(batch): the batch
    text is shingled ONCE (its shingle sets materialize via
    localCheckpoint and the band keys derive from those rows through
    `oph_banded_from_sets`), two bucketed appends, nothing
    corpus-sized. Parameters are ASSERTED against
    the ones the build persisted as table properties (VERDICT r10
    #4): a mismatched append raises instead of silently writing
    signatures the probes can't match.
    """
    from pudl_spark.sources.files import (
        assert_build_params_match, write_bucketed_table,
    )

    assert_build_params_match(
        spark, f"{table_prefix}_bands",
        {"num_hashes": num_hashes, "bands": bands,
         "shingle_k": shingle_k, "num_buckets": num_buckets},
        "append_to_lsh_store")
    # Reuse pin: both table appends read the sets rows
    # (doc_lsh_store_ingest 8.42 s unpinned vs 5.55 s at sf0.1).
    sets_rows = shingle_hash_sets(new_docs, id_col, text_col,
                                  shingle_k).localCheckpoint()
    # Concurrent appends (r16, guide §2.6 — same fusion as the
    # build): both tables' append chains read the materialized batch
    # blocks and are independent, so the wall is max(append) instead
    # of append + append. Crash window unchanged in kind: a blind
    # append was never redelivery-safe in ANY order (that is what
    # `append_to_lsh_store_idempotent` exists for), and a crash
    # leaving one table appended is equally silent whichever table
    # it is. The idempotent variant stays SEQUENTIAL — the streaming
    # loop's skip-detection relies on its write order.
    from concurrent.futures import ThreadPoolExecutor

    def _append_bands() -> None:
        write_bucketed_table(
            oph_banded_from_sets(sets_rows, num_hashes, bands,
                                 checkpoint=False),
            f"{table_prefix}_bands", ["band", "bucket"], num_buckets,
            sort_cols=["band", "bucket", "id"], mode="append")

    def _append_sets() -> None:
        write_bucketed_table(
            sets_rows,
            f"{table_prefix}_sets", ["id"], num_buckets,
            sort_cols=["id"], mode="append")

    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(inherit_context(spark, _append_bands)),
                  pool.submit(inherit_context(spark, _append_sets))]:
            f.result()
    _invalidate_after_append(spark, table_prefix)


def append_to_lsh_store_idempotent(
        spark, table_prefix: str, new_docs: DataFrame,
        id_col: str, text_col: str,
        num_hashes: int = 64, bands: int = 16, shingle_k: int = 3,
        num_buckets: int = 8, max_prune_values: int = 2048,
        guard_tables: tuple = ("_bands", "_sets"),
        prune_ids: list | None = None,
        recover: bool = True) -> None:
    """Redelivery-safe LSH store append — the exactly-once variant a
    STREAMING foreachBatch sink needs (r11, VERDICT r10 stretch #10).

    `append_to_lsh_store` appends blindly, so a checkpoint
    redelivery (crash after the append committed but before the
    stream checkpoint did) would double every index row, and a crash
    BETWEEN the two table appends would leave bands without sets.
    Here each table's append first anti-joins the batch's doc ids
    against that table's existing ids, so replaying the same batch —
    whole or after any partial crash — converges to the same final
    store (idempotent at doc-id granularity; each per-table append
    job is atomic under the Hadoop commit protocol). The guard's
    store side is the bucketed id column: the anti-join plans
    Exchange-free on the store, and for small batches the collected
    batch ids push into the store scan as an In() predicate (same
    bounded-collect regime gate as the probes), so the guard reads
    O(batch), not O(corpus). Build parameters are asserted like the
    plain append.

    ``guard_tables``/``prune_ids``/``recover``: a
    caller that already anti-joined the batch against one of the
    index tables (the streaming loop pre-filters against ``_sets``
    to detect fully-redelivered batches) passes the remaining
    table(s), its already-collected id list — any SUPERSET of the
    batch's ids is valid for the guard's In() prune, since a
    superset filter cannot change an anti-join result — and
    ``recover=False`` when it ran the compaction-swap recovery
    check on both tables this batch already, so the per-micro-batch
    hot path never repeats a guard scan, an id collect, or a
    recovery catalog round-trip.
    """
    from pudl_spark.sources.files import (
        assert_build_params_match, write_bucketed_table,
    )

    assert_build_params_match(
        spark, f"{table_prefix}_bands",
        {"num_hashes": num_hashes, "bands": bands,
         "shingle_k": shingle_k, "num_buckets": num_buckets},
        "append_to_lsh_store_idempotent")
    ids = (prune_ids if prune_ids is not None
           else [r[0] for r in new_docs.select(id_col).distinct()
                 .limit(max_prune_values + 1).collect()])
    small = len(ids) <= max_prune_values
    # Reuse pin: both guarded appends read the sets rows
    # (doc_lsh_store_redelivery 9.94 s unpinned vs 7.34 s at sf0.1).
    sets_rows = shingle_hash_sets(new_docs, id_col, text_col,
                                  shingle_k).localCheckpoint()
    # ORDER IS LOAD-BEARING (bands strictly before sets — do NOT
    # parallelize like the plain append, r16): the streaming loop's
    # fully-redelivered-batch detection keys on the _sets table, so
    # the invariant "id in _sets => its band rows are present" must
    # hold through any crash; sets-before-bands (or concurrent)
    # would let a crash strand ids whose redelivery is then skipped
    # with their band rows permanently missing.
    for suffix, rows, sorts, buckets in (
            ("_bands",
             oph_banded_from_sets(sets_rows, num_hashes, bands,
                                  checkpoint=False),
             ["band", "bucket", "id"], ["band", "bucket"]),
            ("_sets", sets_rows, ["id"], ["id"])):
        if suffix in guard_tables:
            store_ids = spark.table(
                f"{table_prefix}{suffix}").select("id")
            if small:
                store_ids = store_ids.filter(in_list("id", sorted(ids)))
            rows = rows.join(store_ids.distinct(), "id", "left_anti")
        write_bucketed_table(rows, f"{table_prefix}{suffix}",
                             buckets, num_buckets, sort_cols=sorts,
                             mode="append", recover=recover)
    _invalidate_after_append(spark, table_prefix)


def _invalidate_after_append(spark, table_prefix: str) -> None:
    # The index grew: drop the probe gate's cached sizes so the next
    # probe re-reads them (r9 self-review).
    for t in (f"{table_prefix}_bands", f"{table_prefix}_sets"):
        _invalidate_store_bytes(spark, t)


def _resolve_table_location(spark, table_name: str) -> str:
    """A table's resolved storage Location (DESCRIBE FORMATTED) —
    a driver-side catalog lookup, never a Spark job."""
    return [r["data_type"]
            for r in spark.sql(f"DESCRIBE FORMATTED {table_name}")
            .collect() if r["col_name"] == "Location"][0]


def _invalidate_store_bytes(spark, table_name: str) -> None:
    """Drop a table's cached byte size, resolving its Location
    first; a missing table (checked via the catalog, so the resolve
    never throws-and-logs an AnalysisException on the expected
    first-build case) has nothing cached under any live key."""
    if not _STORE_BYTES_CACHE:
        # Nothing cached under ANY key (r16, guide §5.3): the common
        # build path — fresh store, no probe has sized it yet — was
        # paying a tableExists catalog lookup plus a DESCRIBE
        # FORMATTED command per table just to invalidate an empty
        # map. The probes that populate the cache also pay the
        # resolves that key it, so this fast path can never strand a
        # stale entry.
        return
    if not spark.catalog.tableExists(table_name):
        return
    _STORE_BYTES_CACHE.pop(_resolve_table_location(spark, table_name),
                           None)


def _table_location_bytes(spark, table_name: str) -> int:
    """Total bytes under a table's storage location — a driver-side
    filesystem metadata call (ContentSummary), never a Spark job.
    CACHED per resolved LOCATION (r9 self-review; VERDICT r10 #7 —
    a bare-name key let same-named stores in different warehouses
    alias each other's sizes): on HDFS the summary is one RPC, but
    on object stores it is a recursive O(files) listing — a serving
    loop must not pay that walk per probe. The Location resolve
    itself is a per-call catalog lookup (~ms, no job). The cache is
    invalidated by `build_lsh_store`/`append_to_lsh_store` (the
    in-engine ways a store changes); external growth merely delays
    the gate flipping to the pruned regime, which is a performance
    choice, not a correctness one (pruned == unpruned always)."""
    loc = _resolve_table_location(spark, table_name)
    if loc in _STORE_BYTES_CACHE:
        return _STORE_BYTES_CACHE[loc]
    jpath = spark._jvm.org.apache.hadoop.fs.Path(loc)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    size = fs.getContentSummary(jpath).getLength()
    _STORE_BYTES_CACHE[loc] = size
    return size


def lsh_store_probe(spark, table_prefix: str, new_docs: DataFrame,
                    id_col: str, text_col: str,
                    num_hashes: int = 64, bands: int = 16,
                    shingle_k: int = 3,
                    jaccard_threshold: float = 0.7,
                    max_prune_values: int = 2048,
                    batch_rows: int | None = None,
                    min_store_bytes: int = 4 << 30,
                    recover: bool = True) -> DataFrame:
    """Near-dup pairs between a NEW batch and the indexed corpus:
    signature only the batch, bucket-join against ``{prefix}_bands``,
    exact-verify against ``{prefix}_sets``. Returns
    (new_id, corpus_id, jaccard). The signature/banding parameters
    must match the ones the store was built with (asserted against
    the build's table properties).

    Two regimes, gated by ``n_batch * bands <= max_prune_values``
    (``batch_rows`` passes a known batch size so the gate costs no
    count over the batch's lineage):

    * SMALL: the raw batch is checkpointed once, so its upstream
      pipeline evaluates exactly once. Its band keys (exactly
      n * bands rows) are collected once and served back as a
      single-slice LocalRelation, so the candidate join broadcasts
      them. When the two index tables hold at least
      ``min_store_bytes`` (0 forces it), the store scans are also
      In()-pruned: to the batch's band buckets, and, once the
      candidate pairs are collected the same way, to their corpus
      ids. Both tables are sorted by exactly those columns, so
      parquet min/max stats skip the files the batch never touches.
      Below a few GB a full scan of the index is cheaper than the
      extra collects pruning costs, hence the byte gate.
    * LARGE: everything stays lazy inside the one returned action;
      an In() list beyond a few thousand values costs more to plan
      than the scan it saves, and the join amortizes the index scan
      over many probe rows. ``max_prune_values=0`` forces this
      regime for any non-empty batch.

    Results are join-exact in every regime (longs and doubles
    round-trip the driver exactly). ``recover=False`` skips the
    compaction-swap recovery check for callers that ran it on both
    tables this batch already.
    """
    from pudl_spark.sources.files import assert_build_params_match

    if recover:
        from pudl_spark.operators.layout import (
            recover_pending_compaction,
        )

        for t in (f"{table_prefix}_bands", f"{table_prefix}_sets"):
            recover_pending_compaction(spark, t)
    assert_build_params_match(
        spark, f"{table_prefix}_bands",
        {"num_hashes": num_hashes, "bands": bands,
         "shingle_k": shingle_k}, "lsh_store_probe")
    store_bands = spark.table(f"{table_prefix}_bands")
    store_sets = spark.table(f"{table_prefix}_sets")
    pruned = False
    n = batch_rows if batch_rows is not None else new_docs.count()
    small = n * bands <= max_prune_values
    if small:
        # Reuse pin: the banding and the verify side both read the
        # batch (doc_lsh_store_probe_small 5.22 s unpinned vs 3.17 s).
        new_docs = new_docs.localCheckpoint()
    # No signature checkpoint: the small regime collects nb whole and
    # the large one reads it once. A sets checkpoint shared with the
    # verify side measured slower in both regimes than shingling the
    # batch twice.
    new_sets = shingle_hash_sets(new_docs, id_col, text_col, shingle_k)
    nb = oph_banded_from_sets(new_sets, num_hashes, bands,
                              checkpoint=False)
    if small:
        nbrows = nb.collect()
        nb = spark.createDataFrame(
            spark.sparkContext.parallelize(nbrows, 1), nb.schema)
        if (min_store_bytes <= 0
                or _table_location_bytes(spark, f"{table_prefix}_bands")
                + _table_location_bytes(spark, f"{table_prefix}_sets")
                >= min_store_bytes):
            pruned = True
            store_bands = store_bands.filter(in_list(
                "bucket", sorted({r["bucket"] for r in nbrows})))
    cand = (
        nb.alias("a").join(
            store_bands.alias("b"),
            on=[F.col("a.band") == F.col("b.band"),
                F.col("a.bucket") == F.col("b.bucket")])
        .select(F.col("a.id").alias("new_id"),
                F.col("b.id").alias("corpus_id"))
        .dropDuplicates(["new_id", "corpus_id"])
    )
    if pruned:
        # Bounded collect of the candidate pairs (~the batch's dup
        # pairs plus banding collisions): the verify then reads a
        # LocalRelation and an id-pruned sets scan instead of
        # re-running the candidate join.
        crows = cand.limit(max_prune_values + 1).collect()
        if len(crows) <= max_prune_values:
            cand = spark.createDataFrame(
                spark.sparkContext.parallelize(crows, 1), cand.schema)
            store_sets = store_sets.filter(in_list(
                "id", sorted({r["corpus_id"] for r in crows})))
    return verified_jaccard_pairs(cand, new_sets, store_sets,
                                  "new_id", "corpus_id",
                                  jaccard_threshold)


# -------------------------------------------------------------- simhash

def simhash_expr(col: str, bits: int = 64) -> Column:
    """SimHash over whitespace tokens: per bit position, sum +-1 votes
    of each token-hash's bit; pack the majority signs into a bigint.

    Pure array algebra: token hashes -> per-bit vote vector via
    aggregate(zip_with(bit_get)), then a static OR-fold packing the
    sign bits (static shift literals keep ANSI overflow out of play).
    """
    from pudl_spark.functions.text import tokens as _tokens

    t = _tokens(col)
    hashed = F.transform(t, lambda w: F.xxhash64(w))
    zero = F.array_repeat(F.lit(0).cast("long"), bits)
    positions = F.sequence(F.lit(0), F.lit(bits - 1))
    votes = F.aggregate(
        hashed,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(positions, lambda i: F.bit_get(h, i) * 2 - 1),
            lambda a, v: a + v,
        ),
    )
    packed = F.lit(0).cast("long")
    for i in range(bits):
        mask = (1 << i) if i < 63 else -(1 << 63)
        packed = packed.bitwiseOR(
            F.when(F.element_at(votes, i + 1) > 0,
                   F.lit(mask).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return packed


def simhash_near_duplicates(df: DataFrame, id_col: str, text_col: str,
                            max_hamming: int = 3,
                            block_bits: int = 16) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Blocking: split the 64-bit simhash into 4 16-bit blocks; by
    pigeonhole any pair within Hamming distance 3 shares at least one
    exact block -> candidate join per block, verified with bit_count.
    """
    n_blocks = 64 // block_bits
    df = _spread(df, id_col)
    sh = df.select(
        F.col(id_col).alias("id"),
        simhash_expr(text_col).alias("simhash"),
    )
    blocks = F.array(*[
        F.struct(
            F.lit(b).alias("block"),
            F.shiftright(F.col("simhash"), b * block_bits)
            .bitwiseAND(F.lit((1 << block_bits) - 1)).alias("key"),
        )
        for b in range(n_blocks)
    ])
    exploded = sh.select(
        "id", "simhash", F.explode(blocks).alias("bb")
    ).select("id", "simhash", "bb.block", "bb.key")
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (
        a.join(b, on=[F.col("a.block") == F.col("b.block"),
                      F.col("a.key") == F.col("b.key"),
                      F.col("a.id") < F.col("b.id")])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("sh_a"),
                F.col("b.simhash").alias("sh_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_verified_pairs(df: DataFrame, id_col: str, text_col: str,
                           max_hamming: int = 10, block_bits: int = 4,
                           shingle_k: int = 3,
                           jaccard_threshold: float = 0.5) -> DataFrame:
    """SimHash as the cheap blocker, exact shingle-set Jaccard as the
    verify step — the production near-dup pipeline shape (candidates
    from Hamming balls, decisions from true similarity). Returns
    (id_a, id_b, jaccard), so the output is engine-portable (the
    Hamming distances themselves depend on the hash function).

    Pigeonhole: with 64/block_bits blocks, any pair within
    ``max_hamming < n_blocks`` shares at least one exact block.
    block_bits trades candidate volume (small blocks collide more)
    against the guaranteed Hamming radius.
    """
    cand = simhash_near_duplicates(df, id_col, text_col,
                                   max_hamming=max_hamming,
                                   block_bits=block_bits)
    sets = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform(word_shingles(text_col, k=shingle_k),
                        lambda s: F.xxhash64(s))).alias("__set"),
    )
    pairs = (
        cand.select("id_a", "id_b")
        .join(sets.select(F.col("id").alias("id_a"),
                          F.col("__set").alias("sh_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"),
                          F.col("__set").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    return (
        pairs.select(
            "id_a", "id_b",
            F.when(union > 0, inter.cast("double") / union)
            .otherwise(0.0).alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


# ------------------------------------------------------- ngram jaccard

def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.8,
                        sketch_k: int = 8) -> DataFrame:
    """Character-n-gram Jaccard near-dup pairs, blocked by a bottom-k
    sketch (the k smallest n-gram hashes; sharing ANY sketch value ->
    candidate) so the join is equi-keyed, never O(n^2).

    A single winnowing fingerprint blocks too coarsely: a pair at
    Jaccard j shares the global min hash w.p. ~j, so even j=0.9 pairs
    miss ~10% of the time. Sharing at least one of the bottom-k is
    missed w.p. <= (1-j)^k — at j=0.8, k=8 that's ~2.6e-6. The sketch
    explodes k short longs per doc (not the gram set), so the
    candidate join stays narrow at corpus scale.
    """
    prepped = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        char_ngrams(text_col, n=n).alias("grams"),
    ).withColumn(
        "__sketch",
        F.slice(F.array_sort(F.transform(
            F.col("grams"), lambda g: F.xxhash64(g))), 1, sketch_k),
    )
    sk = (
        prepped.select("id", F.explode("__sketch").alias("__h"))
    )
    a, b = sk.alias("a"), sk.alias("b")
    cand = (
        a.join(b, on=[F.col("a.__h") == F.col("b.__h"),
                      F.col("a.id") < F.col("b.id")])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    grams = prepped.select("id", "grams")
    pairs = (
        cand
        .join(grams.select(F.col("id").alias("id_a"),
                           F.col("grams").alias("g_a")), "id_a")
        .join(grams.select(F.col("id").alias("id_b"),
                           F.col("grams").alias("g_b")), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("g_a"), F.col("g_b")))
    union = F.size(F.array_union(F.col("g_a"), F.col("g_b")))
    return (
        pairs.select(
            "id_a", "id_b",
            F.when(union > 0, inter.cast("double") / union)
            .otherwise(0.0).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------- duplicated substrings

def duplicated_span_stats(df: DataFrame, id_col: str, text_col: str,
                          k: int = 5) -> DataFrame:
    """Exact duplicated-substring span detection (the suffix-array
    dedup of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", re-expressed relationally): a position p
    in a document is *duplicated* when the k-token shingle starting at
    p also occurs in at least one OTHER document. Returns per document

        (id, n_grams, n_dup_grams, max_dup_run, dup_ratio)

    where max_dup_run is the longest run of consecutive duplicated
    positions — the length (in shingle starts) of the longest span
    shared verbatim with the rest of the corpus.

    Scale shape: shingles hash to 64-bit map-side, so the shuffles
    carry (hash, id, pos) triples only — the text never leaves the
    scan stage. One groupBy(hash) marks cross-document grams with a
    min!=max comparison (no distinct-count sketch needed), one
    hash-join flags positions, and the run detection is a single
    gaps-and-islands window per document. Ref: the reference corpus
    tooling has no equivalent; this is a training-data-pipeline
    extension (SURVEY.md LLM ops).
    """
    grams = word_shingles(text_col, k=k, distinct=False)
    # Per-doc totals are map-side arithmetic on the base table — no
    # shuffle, no explode; the exploded frame below carries only
    # (id, pos, hash).
    totals = df.select(F.col(id_col).alias("id"),
                       F.size(grams).alias("n_grams"))
    pos = (
        df.select(F.col(id_col).alias("id"), grams.alias("__g"))
        .select(
            "id",
            F.posexplode(
                F.transform("__g", lambda g: F.xxhash64(g))
            ).alias("pos", "gh"),
        )
    )
    # Cross-document grams: any hash seen under two distinct ids —
    # min(id)!=max(id) per gram hash. Computed as groupBy(gh) + a
    # gh-keyed semi-join back to the position stream, NOT a window
    # over partitionBy(gh): a window puts every occurrence of one
    # hash in ONE partition, and a boilerplate shingle (license
    # header, chat template) appearing billions of times at corpus
    # scale becomes an unsplittable straggler — AQE can split skewed
    # JOINS but not skewed window partitions. The groupBy form
    # collapses heavy hitters map-side (partial min/max) before the
    # shuffle. Note the build (groupBy) and probe sides both derive
    # from the uncached exploded frame, so Spark plans the explode
    # twice — a deliberate trade: re-running a map-side explode is
    # cheaper at corpus scale than persisting a (id, pos, hash)
    # intermediate the size of the tokenized corpus (ADVICE r4).
    from pyspark.sql import Window
    cross = (
        pos.groupBy("gh")
        .agg(F.min("id").alias("__mn"), F.max("id").alias("__mx"))
        .filter(F.col("__mn") != F.col("__mx"))
        .select("gh")
    )
    flagged = pos.join(cross, on="gh", how="left_semi").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    runs = (
        flagged
        .withColumn("__isl", F.col("pos") - F.row_number().over(w))
        .groupBy("id", "__isl")
        .agg(F.count(F.lit(1)).alias("__rl"))
        .groupBy("id")
        .agg(F.sum("__rl").alias("n_dup_grams"),
             F.max("__rl").alias("max_dup_run"))
    )
    out = (
        totals.join(runs, on="id", how="left")
        .select(
            F.col("id").alias(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("long")
            .alias("n_dup_grams"),
            F.coalesce("max_dup_run", F.lit(0)).cast("long")
            .alias("max_dup_run"),
        )
        .withColumn(
            "dup_ratio",
            F.when(F.col("n_grams") > 0,
                   F.col("n_dup_grams").cast("double") / F.col("n_grams"))
            .otherwise(F.lit(0.0)),
        )
    )
    return out


def minhash_clusters(df: DataFrame, id_col: str, text_col: str,
                     **kwargs) -> DataFrame:
    """End-to-end near-duplicate clustering: MinHash+LSH candidate
    pairs -> connected components -> per-document cluster assignment

        (id, cluster_id, cluster_size, is_kept)

    cluster_id is the minimum member id (exactly what
    operators.graph.connected_components labels with), singleton
    documents cluster with themselves, and is_kept marks the one
    canonical document a dedup pass would retain — the full
    pairs->clusters->keep-list recipe production corpus dedup runs
    (e.g. the RefinedWeb / SlimPajama pipelines), not just the pair
    list. Scale: pairs are LSH-blocked (never all-pairs), CC is
    O(log diameter) pointer-jumping rounds, and the final size/keep
    computation is one groupBy on the cluster key.
    """
    from pudl_spark.operators.graph import connected_components

    pairs = minhash_candidate_pairs(df, id_col, text_col, **kwargs)
    labels = connected_components(
        pairs.select(F.col("id_a"), F.col("id_b")), src="id_a", dst="id_b")
    assigned = (
        df.select(F.col(id_col).alias("id"))
        .join(labels.withColumnRenamed("node", "id"), on="id", how="left")
        .select(
            "id",
            F.coalesce("component", F.col("id")).alias("cluster_id"),
        )
    )
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (
        assigned.join(sizes, on="cluster_id")
        .select(
            F.col("id").alias(id_col),
            "cluster_id",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            (F.col("id") == F.col("cluster_id")).alias("is_kept"),
        )
    )
