"""Scale-stress harness: scaled corpora and the store/append stress modes.

`build_scaled` synthesizes an id-shifted ~Nx copy of the sf0.1
testdata (id-shifted unions, so key structure and per-user/per-doc
locality are preserved while user, document and order cardinalities
genuinely grow); `tools/query_profile.py --sf1` and bench.py time
queries on it. `build_mutated` builds a mutation-based corpus for the
dedup family. Each mode below prints one JSON line; with no mode flag
the script prints this usage and exits.

Usage: python tools/scale_stress.py MODE [--mult N] [--mults A,B,C]
           [--batches B] [--mutate-rate R] [name ...]

--dedup-stress [name ...] swaps the id-shifted copies for a
MUTATION-BASED corpus (build_mutated) and runs the dedup family —
verbatim copies make near-dup pair output quadratic in the
multiplier by construction, so the id-shift recipe can't
scale-stress exactly the queries whose 100 TB story matters most.

--store-stress [--mults 1,10,100] runs the persisted-LSH-store
lifecycle on the mutated corpus: per mult, build the store once
(timed, ~linear allowed), then probe and append a FIXED batch — the
claim bounded is per-batch cost independent of store size.

--ivf-stress [--mults 1,10,100] is the IVF twin: signed-
permutation-scaled embeddings, build the cell-bucketed store once,
then a fixed top-k probe batch + a fixed append batch per scale.

--churn-stress [--mult N] [--batches B] measures append-churn
degradation and compaction recovery: probe floor fresh, after B
drip appends (file count grows num_buckets per append), and after
compact_bucketed_table restores one file per bucket.

--append-stress and --reseed-stress [--mult N] phase-split the store
append paths and the IVF reseed on the id-shifted Nx copy.

Writes nothing outside /tmp.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
SCALED = "/tmp/spark_graft_scaled"
MUT_SCALED = "/tmp/spark_graft_mut_scaled"

# Per-table id-shift recipe: (column, stride) pairs applied per copy i
# as col + i*stride. Strides are far above real key ranges, so copies
# never collide and referential joins to the unscaled dims still work.
SHIFTS = {
    "events": [("event_id", 10**9), ("user_id", 10**7)],
    "documents": [("doc_id", 10**7)],
    "embeddings": [("vec_id", 10**7)],
    # customer scales too (r7): the media frame-sample bench keys its
    # video corpus off c_custkey, and an unscaled customer made the
    # sf1 media entry measure nothing. Copy 0 keeps the original
    # custkeys, so orders->customer referential joins still resolve;
    # shifted copies are unmatched dim rows (15k -> 150k, still
    # broadcastable) and change no aggregate.
    "customer": [("c_custkey", 10**9)],
    "orders": [("o_orderkey", 10**9)],
    "lineitem": [("l_orderkey", 10**9)],
}
COPY_AS_IS = ("region", "nation", "supplier", "part")

def build_scaled(spark, mult: int, base: str = BASE) -> None:
    from pyspark.sql import functions as F

    from pudl_spark.catalog import read_parquet_table

    if os.path.exists(SCALED):
        shutil.rmtree(SCALED)
    os.makedirs(SCALED)
    for t in COPY_AS_IS:
        src = os.path.join(base, f"{t}.parquet")
        dst = os.path.join(SCALED, f"{t}.parquet")
        shutil.copy(src, dst)
    for t, shifts in SHIFTS.items():
        df = read_parquet_table(spark, os.path.join(base, f"{t}.parquet"))
        parts = []
        for i in range(mult):
            c = df
            for col, stride in shifts:
                c = c.withColumn(col, F.col(col) + F.lit(i * stride))
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # one dir of parquet files; queries read it like a table
        out.write.mode("overwrite").parquet(
            os.path.join(SCALED, f"{t}.parquet"))


DEDUP_QUERIES = [
    "minhash_near_dup_pairs",      # OPH MinHash + LSH banding
    "doc_prefix_filter_dup_pairs",  # prefix-filter (SSJoin/PPJoin)
    "embedding_semantic_dedup",     # SemDeDup (IVF-blocked cosine)
]


def _mutation_expr(tag: str, rate: int):
    """Per-copy deterministic same-length word substitution over
    ``text``, keyed on (token, tag): doc lengths, shingle counts and
    n_chars stay consistent (split/array_join on a single space
    round-trips runs of spaces as empty tokens, guarded by
    length(w) > 0). Shared by the corpus scaler (tag = copy index)
    and the store-lifecycle probe batch (tag = 'probe')."""
    from pyspark.sql import functions as F

    return F.expr(f"""
        array_join(transform(split(text, ' '), w ->
          CASE WHEN length(w) > 0
                AND pmod(xxhash64(concat(w, ':{tag}')), 100) < {rate}
               THEN substring(
                      repeat(md5(concat(w, ':{tag}')),
                             1 + CAST(length(w) / 32 AS INT)),
                      1, length(w))
               ELSE w END), ' ')""")


def _signed_perm_expr(dim: int, tag: str):
    """Deterministic per-tag SIGNED PERMUTATION of an `embedding`
    array — a bit-exact orthogonal transform (permuting float32
    lanes and flipping sign bits loses no precision). Shared by the
    corpus scaler (tag = copy index) and the IVF lifecycle stress'
    fixed probe batch (tag = 'probe')."""
    import hashlib
    import random

    from pyspark.sql import functions as F

    rng = random.Random(int.from_bytes(
        hashlib.md5(f"perm:{tag}".encode()).digest(), "big"))
    perm = list(range(dim))
    rng.shuffle(perm)
    signs = [rng.choice((1.0, -1.0)) for _ in range(dim)]
    return F.array(*[
        (F.element_at("embedding", perm[j] + 1)
         * F.lit(signs[j])).cast("float")
        for j in range(dim)])


def build_mutated(spark, mult: int, base: str = BASE,
                  out_dir: str = MUT_SCALED, rate: int = 60,
                  with_embeddings: bool = True,
                  with_documents: bool = True) -> None:
    """Mutation-based corpus scaler for the DEDUP family (VERDICT r13
    #4). Verbatim copy-scaling is confounded for near-dup queries:
    every copy of a doc is a jaccard-1.0 partner of every other copy,
    so qualifying-pair output grows QUADRATICALLY in the multiplier
    by construction and wall time measures the pair census, not the
    engine. Here each copy i > 0 is MUTATED so cross-copy similarity
    falls well below every registered threshold while INTRA-copy
    near-dup structure is preserved — each doc's near-dup partner
    count stays constant as the corpus grows, which is what a real
    100 TB crawl looks like:

    - documents: per-copy deterministic word substitution. Each
      whitespace token w is replaced, with probability rate% keyed
      on xxhash64(w || ':' || i), by a same-length md5-derived
      token. The substitution is a pure function of (token, copy),
      so two docs in the SAME copy that shared a token still share
      its mutated form — intra-copy shingle jaccard is ~preserved
      and every base near-dup pair recurs once per copy (pinned
      exactly in tests/test_scale_stress_mutation.py). Cross-copy,
      a doc vs its own mutant keeps a 3-WORD shingle only when all
      three words escape: with p = rate/100, expected jaccard ~=
      (1-p)^3 / (2 - (1-p)^3) — 0.034 at the default rate 60, far
      under the 0.5 registered threshold. Residual leakage comes
      from SHORT docs whose every word escapes (P = (1-p)^n_words):
      measured at sf0.001, rate 45 leaves 3/500 docs at J >= 0.5
      (max 0.64) while rate 60 leaves none (max 0.33), and at
      sf0.1 x100 the output-row linearity is 1.25 at rate 45 vs
      1.008 at rate 60 — hence the default.
    - embeddings: per-copy SIGNED PERMUTATION of the dims — a
      bit-exact orthogonal transform (permuting float32 lanes and
      flipping sign bits loses no precision), so intra-copy cosines
      and therefore each vector's partner set are preserved
      EXACTLY; cross-copy cosines between 64-dim unit vectors under
      independent signed permutations concentrate at ~N(0, 1/64),
      far below the 0.4 SemDeDup threshold.

    Copy 0 stays unmutated, so the base corpus' pairs are a subset
    of the scaled output and linearity is directly checkable:
    rows_scaled ~= mult * rows_base (stress_dedup reports the
    ratio as row_linearity).
    """
    from pyspark.sql import functions as F

    from pudl_spark.catalog import read_parquet_table

    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)

    if with_documents:
        d = read_parquet_table(spark, os.path.join(base,
                                                   "documents.parquet"))
        parts = []
        for i in range(mult):
            c = d.withColumn("doc_id",
                             F.col("doc_id") + F.lit(i * 10**7))
            if i:
                c = c.withColumn("text", _mutation_expr(str(i), rate))
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, "documents.parquet"))

    if not with_embeddings:
        # the LSH store-lifecycle stress indexes text only
        return
    e = read_parquet_table(spark, os.path.join(base,
                                               "embeddings.parquet"))
    dim = e.select(F.size("embedding").alias("d")).first()["d"]
    parts = []
    for i in range(mult):
        c = e.withColumn("vec_id", F.col("vec_id") + F.lit(i * 10**7))
        if i:
            c = c.withColumn("embedding",
                             _signed_perm_expr(dim, str(i)))
        parts.append(c)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out.write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet"))


def stress_dedup(spark, mult: int, names=None,
                 scaled_dir: str = MUT_SCALED) -> dict:
    """Time the dedup family at 1x vs mult-x on the MUTATED corpus
    (each doc's near-dup partner count held constant — see
    build_mutated) and report output-row linearity alongside the
    wall ratio. min-of-2 per scale, one session, counts as the
    action (the pair census IS the output)."""
    import gc

    from pudl_spark.plans.queries import QUERIES

    out = {}
    for name in names or DEDUP_QUERIES:
        fn = QUERIES[name]
        row = {}
        for label, sf_dir in (("base", BASE), ("scaled", scaled_dir)):
            spark.catalog.clearCache()
            runs, rows = [], None
            for _ in range(2):
                gc.collect()
                t0 = time.perf_counter()
                rows = fn(spark, sf_dir).count()
                runs.append(time.perf_counter() - t0)
            row[label] = {"floor": round(min(runs), 3), "rows": rows}
        row["ratio"] = round(row["scaled"]["floor"]
                             / max(row["base"]["floor"], 1e-9), 2)
        row["s_per_extra_copy"] = round(
            (row["scaled"]["floor"] - row["base"]["floor"])
            / max(mult - 1, 1), 3)
        if row["base"]["rows"]:
            row["row_linearity"] = round(
                row["scaled"]["rows"]
                / (mult * row["base"]["rows"]), 3)
        out[name] = row
        print(json.dumps({"query": name, **row}), flush=True)
    return out


STORE_STRESS_DIR = "/tmp/spark_graft_store_stress"


def stress_store_lifecycle(spark, mults=(1, 10, 100),
                           rate: int = 60) -> dict:
    """100x stress for the PERSISTED LSH store lifecycle (VERDICT
    r14 "What's missing" #3): build-once/probe-many under a mutated
    growing corpus. The claim to bound is PER-BATCH cost independent
    of store size. At each mult: build the mutated corpus
    (build_mutated — per-doc near-dup partner counts stay constant
    as it grows), build the LSH store ONCE over it (timed; the one
    lifecycle stage allowed to scale with the corpus, ~linearly),
    then time the SAME fixed batch probing and appending against
    that store.

    The batch is a 500-doc slice of the BASE corpus (doc_id % 10 ==
    0), word-mutated at rate 10 under the reserved tag 'probe' and
    id-shifted to 5e9 — identical bytes at every mult and
    localCheckpoint()ed once, so any wall growth across mults is
    store-size dependence, nothing else. Rate 10 keeps expected
    jaccard vs each doc's unmutated original at ~(0.9^3)/(2-0.9^3)
    = 0.57, so probing at threshold 0.5 returns ~one pair per batch
    doc REGARDLESS of store size — constant verify work and
    constant output, the clean fixture for the flatness claim. The
    probe times the In()-pruned serving path (min_store_bytes=0 —
    the regime a 100 TB index lives in; join-exact vs the full scan
    per the certified probe query), with batch_rows supplied so the
    gate costs no extra action. Append is the O(batch) bucketed
    two-table append, timed after the probes so the probed store is
    pristine."""
    import gc

    from pyspark.sql import functions as F

    from pudl_spark.catalog import read_parquet_table
    from pudl_spark.functions.dedup import (
        append_to_lsh_store, build_lsh_store, lsh_store_probe,
        _table_location_bytes,
    )

    base_docs = read_parquet_table(
        spark, os.path.join(BASE, "documents.parquet"))
    batch = (base_docs.filter(F.expr("pmod(doc_id, 10) = 0"))
             .withColumn("doc_id", F.col("doc_id") + F.lit(5 * 10**9))
             .withColumn("text", _mutation_expr("probe", 10))
             .localCheckpoint())
    n_batch = batch.count()

    out = {}
    for mult in mults:
        corpus_dir = os.path.join(STORE_STRESS_DIR, f"corpus_{mult}")
        store_dir = os.path.join(STORE_STRESS_DIR, f"store_{mult}")
        prefix = f"stress_life_{mult}"
        build_mutated(spark, mult, out_dir=corpus_dir, rate=rate,
                      with_embeddings=False)
        corpus = read_parquet_table(
            spark, os.path.join(corpus_dir, "documents.parquet"))
        n_corpus = corpus.count()
        gc.collect()
        t0 = time.perf_counter()
        build_lsh_store(spark, corpus, "doc_id", "text", prefix,
                        store_dir)
        build_s = time.perf_counter() - t0
        store_bytes = (_table_location_bytes(spark, f"{prefix}_bands")
                       + _table_location_bytes(spark, f"{prefix}_sets"))
        probe_runs, probe_rows = [], None
        for _ in range(3):
            gc.collect()
            t0 = time.perf_counter()
            probe_rows = lsh_store_probe(
                spark, prefix, batch, "doc_id", "text",
                jaccard_threshold=0.5, min_store_bytes=0,
                batch_rows=n_batch).count()
            probe_runs.append(time.perf_counter() - t0)
        gc.collect()
        t0 = time.perf_counter()
        append_to_lsh_store(spark, prefix, batch, "doc_id", "text")
        append_s = time.perf_counter() - t0
        row = {"corpus_docs": n_corpus,
               "store_mb": round(store_bytes / 2**20, 1),
               "build_s": round(build_s, 2),
               "probe_runs": [round(r, 2) for r in probe_runs],
               "probe_floor": round(min(probe_runs), 2),
               "probe_rows": probe_rows,
               "append_s": round(append_s, 2)}
        out[str(mult)] = row
        print(json.dumps({"mult": mult, **row}), flush=True)
        for t in (f"{prefix}_bands", f"{prefix}_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(corpus_dir, ignore_errors=True)
        shutil.rmtree(store_dir, ignore_errors=True)
    shutil.rmtree(STORE_STRESS_DIR, ignore_errors=True)
    return out


def stress_store_churn(spark, mult: int = 10,
                       n_batches: int = 30) -> dict:
    """Append-churn degradation + compaction recovery — the numbers
    behind the bucket-aware compaction cadence (r15). Build the LSH
    store on the mutated corpus at `mult`x, measure the fixed-batch
    In()-pruned probe floor, append `n_batches` SMALL batches (each
    a 500-doc mutated slice under its own reserved id range — the
    drip-ingest pattern that grows a bucketed table's file count by
    num_buckets per append), re-measure the probe against the
    churned layout, then `compact_bucketed_table` both tables back
    to one file per bucket and re-measure. Parquet row-group
    pruning skips BYTES in churned files but every surviving file
    still pays open/footer cost — compaction is what keeps the
    serving path's file count, and therefore its fixed per-probe
    cost, bounded as appends accumulate."""
    import gc

    from pyspark.sql import functions as F

    from pudl_spark.catalog import read_parquet_table
    from pudl_spark.functions.dedup import (
        _resolve_table_location, append_to_lsh_store,
        build_lsh_store, lsh_store_probe,
    )
    from pudl_spark.operators.layout import compact_bucketed_table

    def n_files(table):
        loc = _resolve_table_location(spark, table)
        path = loc[len("file:"):] if loc.startswith("file:") else loc
        return sum(1 for _, _, fs in os.walk(path)
                   for f in fs if f.endswith(".parquet"))

    base_docs = read_parquet_table(
        spark, os.path.join(BASE, "documents.parquet"))
    slice_ = base_docs.filter(F.expr("pmod(doc_id, 10) = 0"))
    probe_batch = (slice_
                   .withColumn("doc_id",
                               F.col("doc_id") + F.lit(5 * 10**9))
                   .withColumn("text", _mutation_expr("probe", 10))
                   .localCheckpoint())
    n_probe = probe_batch.count()

    corpus_dir = os.path.join(STORE_STRESS_DIR, "churn_corpus")
    store_dir = os.path.join(STORE_STRESS_DIR, "churn_store")
    prefix = "stress_churn"
    build_mutated(spark, mult, out_dir=corpus_dir,
                  with_embeddings=False)
    corpus = read_parquet_table(
        spark, os.path.join(corpus_dir, "documents.parquet"))
    build_lsh_store(spark, corpus, "doc_id", "text", prefix,
                    store_dir)

    def probe_floor():
        runs = []
        for _ in range(3):
            gc.collect()
            t0 = time.perf_counter()
            lsh_store_probe(spark, prefix, probe_batch, "doc_id",
                            "text", jaccard_threshold=0.5,
                            min_store_bytes=0,
                            batch_rows=n_probe).count()
            runs.append(time.perf_counter() - t0)
        return round(min(runs), 2), [round(r, 2) for r in runs]

    out = {"mult": mult, "n_batches": n_batches}
    out["files_fresh"] = {s: n_files(f"{prefix}_{s}")
                          for s in ("bands", "sets")}
    out["probe_fresh"], out["probe_fresh_runs"] = probe_floor()

    t0 = time.perf_counter()
    # drip batches are TINY (50 docs: pmod 100) so the churned
    # store's CONTENT stays within ~ a few % of fresh and the
    # churned-vs-compacted probe delta isolates the FILE-COUNT cost
    # (both states hold identical rows)
    drip = base_docs.filter(F.expr("pmod(doc_id, 100) = 0"))
    for i in range(n_batches):
        batch = (drip
                 .withColumn("doc_id", F.col("doc_id")
                             + F.lit(10**10 + i * 10**7))
                 .withColumn("text",
                             _mutation_expr(f"churn{i}", 60)))
        append_to_lsh_store(spark, prefix, batch, "doc_id", "text")
    out["append_total_s"] = round(time.perf_counter() - t0, 2)
    out["files_churned"] = {s: n_files(f"{prefix}_{s}")
                            for s in ("bands", "sets")}
    out["probe_churned"], out["probe_churned_runs"] = probe_floor()

    t0 = time.perf_counter()
    for s in ("bands", "sets"):
        compact_bucketed_table(spark, f"{prefix}_{s}")
    out["compact_s"] = round(time.perf_counter() - t0, 2)
    out["files_compacted"] = {s: n_files(f"{prefix}_{s}")
                              for s in ("bands", "sets")}
    out["probe_compacted"], out["probe_compacted_runs"] = \
        probe_floor()

    print(json.dumps(out), flush=True)
    for t in (f"{prefix}_bands", f"{prefix}_sets"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    shutil.rmtree(STORE_STRESS_DIR, ignore_errors=True)
    return out


def stress_ivf_lifecycle(spark, mults=(1, 10, 100)) -> dict:
    """The IVF twin of `stress_store_lifecycle` (r15): per-batch
    probe/append cost vs store size under the mutated growing
    corpus. At each mult: scale embeddings via per-copy signed
    permutation (intra-copy cosines preserved bit-exactly), build
    the cell-bucketed IVF store ONCE (timed; seeds sample at
    vec_id % seed_modulus so SEED COUNT GROWS WITH THE CORPUS and
    mean cell size stays ~constant), then time the SAME fixed
    batches against it: a 50-query top-k probe (`ivf_store_topk`,
    min-of-3) and an append of ~500 permuted base vectors under a
    reserved id range. Expected shape: probe near-flat (per-query
    work = seed scan + nprobe cells of ~constant size; the seed
    scan DOES grow linearly but at corpus/97 rows it stays tiny
    through the measured decade — the hierarchical-seed rework it
    would eventually need is noted in SCALE.md), append O(batch
    x seed scan), build ~linear."""
    import gc

    from pyspark.sql import functions as F

    from pudl_spark.catalog import read_parquet_table
    from pudl_spark.functions.similarity import (
        append_to_ivf_store, build_ivf_store, ivf_store_topk,
    )

    base_e = read_parquet_table(
        spark, os.path.join(BASE, "embeddings.parquet")
    ).select("vec_id", "embedding")
    dim = base_e.select(F.size("embedding").alias("d")).first()["d"]
    queries = (base_e.filter(F.col("vec_id") % 101 == 5)
               .select(F.col("vec_id").alias("query_id"),
                       "embedding").localCheckpoint())
    n_q = queries.count()
    batch = (base_e.filter(F.col("vec_id") % 10 == 0)
             .withColumn("vec_id", F.col("vec_id") + F.lit(5 * 10**9))
             .withColumn("embedding", _signed_perm_expr(dim, "probe"))
             .localCheckpoint())
    batch.count()

    out = {}
    for mult in mults:
        corpus_dir = os.path.join(STORE_STRESS_DIR, f"ivf_{mult}")
        store_dir = os.path.join(STORE_STRESS_DIR, f"ivfstore_{mult}")
        name = f"stress_ivf_{mult}"
        build_mutated(spark, mult, out_dir=corpus_dir,
                      with_documents=False)
        corpus = read_parquet_table(
            spark, os.path.join(corpus_dir, "embeddings.parquet")
        ).select("vec_id", "embedding")
        n_corpus = corpus.count()
        gc.collect()
        t0 = time.perf_counter()
        build_ivf_store(spark, corpus, name, store_dir)
        build_s = time.perf_counter() - t0
        n_seeds = spark.table(f"{name}_seeds").count()
        probe_runs, probe_rows = [], None
        for _ in range(3):
            gc.collect()
            t0 = time.perf_counter()
            probe_rows = ivf_store_topk(spark, name, queries,
                                        k=10).count()
            probe_runs.append(time.perf_counter() - t0)
        gc.collect()
        t0 = time.perf_counter()
        append_to_ivf_store(spark, name, batch)
        append_s = time.perf_counter() - t0
        row = {"corpus_vecs": n_corpus, "n_seeds": n_seeds,
               "n_queries": n_q,
               "build_s": round(build_s, 2),
               "probe_runs": [round(r, 2) for r in probe_runs],
               "probe_floor": round(min(probe_runs), 2),
               "probe_rows": probe_rows,
               "append_s": round(append_s, 2)}
        out[str(mult)] = row
        print(json.dumps({"mult": mult, **row}), flush=True)
        for t in (name, f"{name}_seeds"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(corpus_dir, ignore_errors=True)
        shutil.rmtree(store_dir, ignore_errors=True)
        shutil.rmtree(f"{store_dir}_seeds", ignore_errors=True)
    shutil.rmtree(STORE_STRESS_DIR, ignore_errors=True)
    return out


def stress_reseed(spark, mult: int) -> dict:
    """VERDICT r11 #7: the two numbers behind the 'reseed when
    appends ~= corpus' cadence rule.

    (a) RESEED WALL at 1x vs mult-x: build an IVF store on a third
    of the corpus, append the other two thirds (appends ~= 2x the
    built corpus — past the cadence trigger), then time
    `rebuild_ivf_store`. The reseed is O(corpus) like any build, so
    its wall should track the corpus multiplier (~mult) — a
    super-mult ratio would mean the rebuild hides quadratic work
    (e.g. an all-pairs assignment) and the cadence rule would not
    hold at scale.

    (b) RECALL + GEOMETRY (base scale): probe recall@10 vs exact
    brute force BEFORE the reseed (store grown 3x under the FROZEN
    bootstrap seeds) and AFTER (seeds re-derived from the full
    corpus), plus the seed counts and the unreachable
    negative-singleton counts. MEASURED FINDING (r12, SCALE.md):
    recall at FIXED probe params is granularity-coupled, not a
    drift meter — the reseed multiplies the seed count by the
    corpus growth, so fixed nprobe/seed_probe covers a smaller
    corpus fraction and fixed-params recall can DROP across a
    reseed even though post-reseed quality is exactly a fresh
    build's (rebuild == build, pinned). The direct drift signal is
    the negative-singleton count (appended vectors no seeded cell
    could claim — unreachable to every probe), which appends
    accumulate and a reseed clears; the cadence rule is geometry
    maintenance, and probe breadth should scale with the
    post-reseed cell count.

    min-of-2 cycles per scale for the walls; recall is deterministic
    (hash seeds, fixed tie-breaks) so it is measured once.
    """
    import gc
    import tempfile

    from pyspark.sql import functions as F

    from pudl_spark.catalog import read_parquet_table
    from pudl_spark.functions.similarity import (
        append_to_ivf_store, brute_force_topk, build_ivf_store,
        ivf_store_topk, rebuild_ivf_store,
    )

    def timed(fn):
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    out: dict = {}
    for label, sf_dir in (("base", BASE), ("scaled", SCALED)):
        e = read_parquet_table(
            spark, os.path.join(sf_dir, "embeddings.parquet")
        ).select("vec_id", "embedding")
        corpus0 = e.filter(F.col("vec_id") % 3 == 0)
        rest = e.filter(F.col("vec_id") % 3 != 0)
        walls = []
        for cycle in range(2):
            gc.collect()
            with tempfile.TemporaryDirectory() as td:
                p = os.path.join(td, "s")
                build_ivf_store(spark, corpus0, "st_rs", p)
                append_to_ivf_store(spark, "st_rs", rest)
                if label == "base" and cycle == 0:
                    # (b) recall + geometry, measured on the grown
                    # store before and after the reseed. Recall at
                    # FIXED probe params is granularity-coupled
                    # (the reseed multiplies the seed count by the
                    # corpus growth, so fixed nprobe/seed_probe
                    # covers a smaller corpus fraction) — report
                    # the seed counts and the unreachable
                    # negative-singleton counts alongside so the
                    # number is interpretable (SCALE.md r12 notes).
                    q = (e.filter(F.col("vec_id") % 101 == 5)
                         .select(F.col("vec_id").alias("query_id"),
                                 "embedding"))
                    truth = brute_force_topk(e, q, k=10).select(
                        "query_id", "neighbor_id")
                    truth.cache()
                    n_truth = truth.count()

                    def recall():
                        got = ivf_store_topk(
                            spark, "st_rs", q, k=10).select(
                            "query_id", "neighbor_id")
                        hit = got.join(truth,
                                       ["query_id", "neighbor_id"]
                                       ).count()
                        return round(hit / max(n_truth, 1), 4)

                    def geometry(tag):
                        st = spark.table("st_rs")
                        out[f"neg_singletons_{tag}"] = st.filter(
                            F.col("cell") < 0).count()
                        out[f"n_seeds_{tag}"] = spark.table(
                            "st_rs_seeds").count()

                    out["recall_pre_reseed"] = recall()
                    geometry("pre")
                    walls.append(timed(lambda: rebuild_ivf_store(
                        spark, "st_rs", p)))
                    out["recall_post_reseed"] = recall()
                    geometry("post")
                    truth.unpersist()
                else:
                    walls.append(timed(lambda: rebuild_ivf_store(
                        spark, "st_rs", p)))
                for t in ("st_rs", "st_rs_seeds"):
                    spark.sql(f"DROP TABLE IF EXISTS {t}")
        out.setdefault("reseed_wall", {})[label] = round(min(walls), 3)
    out["reseed_wall"]["ratio"] = round(
        out["reseed_wall"]["scaled"]
        / max(out["reseed_wall"]["base"], 1e-9), 2)
    return out


def stress_append_paths(spark, mult: int) -> dict:
    """VERDICT r9 #3 / r10 #5: time the two store APPEND paths with
    the corpus at 1x and at mult-x while the ingest batch stays
    IDENTICAL (the unshifted-id slice — scaled copies shift ids by
    >= 10**7, so `id < 10**7` selects exactly the base rows at both
    scales). The O(batch) claim both append docstrings make is then
    directly falsifiable: build wall may grow ~mult (it IS
    O(corpus)), but append wall for the same batch must stay ~flat —
    an append ratio tracking the corpus multiplier means a hidden
    corpus-sized scan (e.g. the IVF centroid derivation regressing
    from the sidecar to the store). Probe wall for a fixed batch is
    reported alongside (bounded by index-scan growth in the
    full-scan regime; the In()-pruned regime at real index sizes
    follows the batch).

    min-of-2 full build/append/probe cycles per scale, fresh store
    tables each cycle, gc between (the bench-hygiene rules)."""
    import gc
    import tempfile

    from pyspark.sql import functions as F

    from pudl_spark.catalog import read_parquet_table
    from pudl_spark.functions.dedup import (
        append_to_lsh_store, build_lsh_store, lsh_store_probe,
    )
    from pudl_spark.functions.similarity import (
        append_to_ivf_store, build_ivf_store, ivf_store_topk,
    )

    unshifted = F.col("doc_id") < 10**7
    out: dict = {}

    def timed(fn):
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    for label, sf_dir in (("base", BASE), ("scaled", SCALED)):
        d = read_parquet_table(
            spark, os.path.join(sf_dir, "documents.parquet"))
        # The PROBE docs (%7 == 0 on the pre-shift id) are excluded
        # from the corpus along with every shifted copy of them —
        # otherwise each probe doc self-matches at jaccard 1.0 and,
        # at 10x, matches its 9 byte-identical copies, and the probe
        # line measures a corpus-coupled verify workload instead of
        # a fixed batch (r11 self-review). Residual probe-output
        # growth is the TRUE pair census (near-dups of probe docs
        # duplicate with the corpus copies) — the same honest-growth
        # caveat as minhash_dedup_clusters' floor.
        base_id7 = (F.col("doc_id") % 10**7) % 7
        corpus = d.filter((base_id7 != 0)
                          & ((F.col("doc_id") % 7 != 1) | ~unshifted))
        batch = d.filter((F.col("doc_id") % 7 == 1) & unshifted)
        probe_b = d.filter((F.col("doc_id") % 7 == 0) & unshifted)
        cycles = []
        for _ in range(2):
            gc.collect()
            with tempfile.TemporaryDirectory() as td:
                row = {}
                row["build"] = timed(lambda: build_lsh_store(
                    spark, corpus, "doc_id", "text", "st_lsh",
                    os.path.join(td, "s")))
                row["append"] = timed(lambda: append_to_lsh_store(
                    spark, "st_lsh", batch, "doc_id", "text"))
                row["probe"] = timed(lambda: lsh_store_probe(
                    spark, "st_lsh", probe_b, "doc_id", "text",
                    jaccard_threshold=0.8).write.format("noop")
                    .mode("overwrite").save())
                for t in ("st_lsh_bands", "st_lsh_sets"):
                    spark.sql(f"DROP TABLE IF EXISTS {t}")
                cycles.append(row)
        out.setdefault("lsh_store", {})[label] = {
            k: round(min(c[k] for c in cycles), 3)
            for k in ("build", "append", "probe")}

        e = read_parquet_table(
            spark, os.path.join(sf_dir, "embeddings.parquet"))
        vu = F.col("vec_id") < 10**7
        vcorpus = e.filter((F.col("vec_id") % 97 != 3) | ~vu)
        vbatch = e.filter((F.col("vec_id") % 97 == 3) & vu)
        q = (e.filter((F.col("vec_id") < 5) & vu)
             .select(F.col("vec_id").alias("query_id"), "embedding"))
        cycles = []
        for _ in range(2):
            gc.collect()
            with tempfile.TemporaryDirectory() as td:
                row = {}
                row["build"] = timed(lambda: build_ivf_store(
                    spark, vcorpus, "st_ivf", os.path.join(td, "s")))
                row["append"] = timed(lambda: append_to_ivf_store(
                    spark, "st_ivf", vbatch))
                row["probe"] = timed(lambda: ivf_store_topk(
                    spark, "st_ivf", q, k=10, batch_rows=5)
                    .write.format("noop").mode("overwrite").save())
                for t in ("st_ivf", "st_ivf_seeds"):
                    spark.sql(f"DROP TABLE IF EXISTS {t}")
                cycles.append(row)
        out.setdefault("ivf_store", {})[label] = {
            k: round(min(c[k] for c in cycles), 3)
            for k in ("build", "append", "probe")}
    for store, row in out.items():
        row["ratios"] = {k: round(row["scaled"][k]
                                  / max(row["base"][k], 1e-9), 2)
                         for k in ("build", "append", "probe")}
    return out


MODES = ("--dedup-stress", "--store-stress", "--ivf-stress",
         "--churn-stress", "--append-stress", "--reseed-stress")


def main() -> int:
    mult = 10
    args = sys.argv[1:]
    mode = None
    churn_batches = 30
    mults = (1, 10, 100)
    mutate_rate = 60
    # Order-independent flag parsing: a trailing mode flag must not
    # fall through into the query names.
    while args and args[0].startswith("--"):
        if args[0] in MODES:
            mode = args[0]; args = args[1:]
        elif args[0] == "--batches":
            churn_batches = int(args[1]); args = args[2:]
        elif args[0] == "--mults":
            mults = tuple(int(m) for m in args[1].split(","))
            args = args[2:]
        elif args[0] == "--mutate-rate":
            mutate_rate = int(args[1]); args = args[2:]
        elif args[0] == "--mult":
            mult = int(args[1]); args = args[2:]
        else:
            raise SystemExit(f"unknown flag {args[0]}")
    if mode is None:
        raise SystemExit(__doc__)

    from pudl_spark.session import get_spark

    spark = get_spark("scale_stress")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    try:
        if mode == "--store-stress":
            out = {"mults": list(mults), "mutate_rate": mutate_rate,
                   "store_stress": stress_store_lifecycle(
                       spark, mults, rate=mutate_rate)}
        elif mode == "--churn-stress":
            out = {"churn_stress": stress_store_churn(
                spark, mult, churn_batches)}
        elif mode == "--ivf-stress":
            out = {"mults": list(mults),
                   "ivf_stress": stress_ivf_lifecycle(spark, mults)}
        elif mode == "--dedup-stress":
            print(f"building mutated {mult}x corpus (rate "
                  f"{mutate_rate}) under {MUT_SCALED} ...",
                  file=sys.stderr)
            t0 = time.perf_counter()
            build_mutated(spark, mult, rate=mutate_rate)
            print(f"built in {time.perf_counter()-t0:.1f}s",
                  file=sys.stderr)
            out = {"mult": mult, "mutate_rate": mutate_rate,
                   "dedup_stress": stress_dedup(spark, mult,
                                                args or None)}
        else:
            print(f"building {mult}x testdata under {SCALED} ...",
                  file=sys.stderr)
            t0 = time.perf_counter()
            build_scaled(spark, mult)
            print(f"built in {time.perf_counter()-t0:.1f}s",
                  file=sys.stderr)
            if mode == "--append-stress":
                out = {"mult": mult,
                       "append_stress": stress_append_paths(spark, mult)}
            else:
                out = {"mult": mult,
                       "reseed_stress": stress_reseed(spark, mult)}
        print(json.dumps(out))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
