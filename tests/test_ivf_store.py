"""Round-7: cell-bucketed IVF store — the persisted layout that makes
every cell-keyed pass Exchange-free (the promise in
`ivf_partitioned_argmax`'s docstring). Pins the plan property the
oracle sweep can't see."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from pudl_spark.functions.similarity import build_ivf_store
from pudl_spark.plans.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_ivf_store_total_and_exchange_free(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with tempfile.TemporaryDirectory() as td:
        build_ivf_store(spark, emb, "t_ivf_store",
                        os.path.join(td, "store"))
        try:
            s = spark.table("t_ivf_store")
            # TOTAL: every vector stored once; unassigned rows (if
            # any) sit in negative singleton cells.
            assert s.count() == emb.count()
            neg = s.filter(F.col("cell") < 0)
            for r in neg.collect():
                assert r["cell"] == -r["vec_id"] - 1
            # Store-side reads plan with NO Exchange once broadcast
            # is off: the self-join on the bucket column and the
            # per-cell aggregation both reuse the bucketing.
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            b = s.select("cell", F.col("vec_id").alias("b_id"))
            join_plan = (s.join(b, "cell")._jdf.queryExecution()
                         .executedPlan().toString())
            assert "Exchange" not in join_plan, join_plan
            agg_plan = (s.groupBy("cell").count()._jdf.queryExecution()
                        .executedPlan().toString())
            assert "Exchange" not in agg_plan, agg_plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
            spark.sql("DROP TABLE IF EXISTS t_ivf_store")
            spark.sql("DROP TABLE IF EXISTS t_ivf_store_seeds")


def test_ivf_store_query_self_cleans(spark):
    out = QUERIES["ivf_store_cell_stats"](spark, SF)
    rows = out.collect()
    assert len(rows) > 0
    # members sum to the corpus; the catalog keeps no residue —
    # neither the store nor its seed sidecar.
    emb_n = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert sum(r["n_members"] for r in rows) == emb_n
    assert not any(t.name in ("ann_ivf_store", "ann_ivf_store_seeds")
                   for t in spark.catalog.listTables())


def test_ivf_store_probe_reads_sidecar_not_corpus(spark):
    """VERDICT r7 #1: the probe's seed table comes from the persisted
    ``{table}_seeds`` sidecar, and the only store access is the
    candidate fetch — pruned to the probed cells by a pushed In()
    filter. No probe stage reads the full store's vec rows."""
    from pudl_spark.functions.similarity import ivf_store_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    with tempfile.TemporaryDirectory() as td:
        build_ivf_store(spark, emb, "t_ivf_sidecar",
                        os.path.join(td, "store"))
        try:
            out = ivf_store_topk(spark, "t_ivf_sidecar", queries,
                                 k=10, seed_probe=3)
            plan = (out._jdf.queryExecution().executedPlan()
                    .toString())
            # The store table itself is scanned exactly once (the
            # candidate fetch), with the probed-cell In() predicate
            # pushed into that scan. The probe side reads the
            # checkpointed qseeds rows (the ADVICE r8
            # single-evaluation fix), never the corpus.
            store_scans = [ln for ln in plan.splitlines()
                           if "FileScan" in ln
                           and "t_ivf_sidecar" in ln
                           and "t_ivf_sidecar_seeds" not in ln]
            assert len(store_scans) == 1, plan
            assert "In(cell" in store_scans[0], store_scans[0]
            # The seed table comes from the persisted sidecar, never
            # a corpus-sized store rescan: visible in the UNpruned
            # plan, whose lineage isn't cut by the pruned branch's
            # localCheckpoint.
            unpruned = ivf_store_topk(spark, "t_ivf_sidecar", queries,
                                      k=10, seed_probe=3,
                                      max_prune_values=0)
            uplan = (unpruned._jdf.queryExecution().executedPlan()
                     .toString())
            assert "t_ivf_sidecar_seeds" in uplan, uplan
            ustore = [ln for ln in uplan.splitlines()
                      if "FileScan" in ln
                      and "t_ivf_sidecar" in ln
                      and "t_ivf_sidecar_seeds" not in ln]
            assert len(ustore) == 1, uplan
            # Pruning preserved the result: identical to the
            # unpruned join-only path.
            got = sorted(map(tuple, out.collect()))
            ref = sorted(map(tuple, unpruned.collect()))
            assert got == ref
        finally:
            spark.sql("DROP TABLE IF EXISTS t_ivf_sidecar")
            spark.sql("DROP TABLE IF EXISTS t_ivf_sidecar_seeds")


def test_ivf_store_topk_probe(spark):
    from pudl_spark.functions.similarity import (
        brute_force_topk, ivf_store_topk,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding")
    with tempfile.TemporaryDirectory() as td:
        build_ivf_store(spark, emb, "t_ivf_probe",
                        os.path.join(td, "store"))
        try:
            got = ivf_store_topk(spark, "t_ivf_probe", queries,
                                 k=10, seed_probe=3).collect()
        finally:
            spark.sql("DROP TABLE IF EXISTS t_ivf_probe")
            spark.sql("DROP TABLE IF EXISTS t_ivf_probe_seeds")
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    exact = brute_force_topk(emb, queries, k=10).collect()
    exact_by_q = {}
    for r in exact:
        exact_by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for qid, rows in by_q.items():
        # The query vector is a member of its own assigned cell and
        # that cell is always probed -> self is the rank-1 hit.
        top = min(rows, key=lambda r: r["rank"])
        assert top["neighbor_id"] == qid and top["rank"] == 1
        assert abs(top["score"] - 1.0) < 1e-9
        got_ids = {r["neighbor_id"] for r in rows}
        hits += len(got_ids & exact_by_q[qid])
        total += len(exact_by_q[qid])
    assert len(by_q) == 8
    # Deterministic corpus + deterministic probe: recall@10 is a
    # fixed number; require a loose floor so the probe is meaningful
    # (brute force would be 1.0, random ~0).
    assert hits / total >= 0.4, f"recall {hits}/{total}"


def test_append_equals_rebuild_when_batch_has_no_seeds(spark):
    """VERDICT r8 #3: append(batch) == rebuild(corpus UNION batch)
    exactly when the batch contributes no seed-eligible rows — the
    seed set (vec_id % 97 == 1) is then identical, and assignment is
    per-vector, so the two stores must match row-for-row."""
    from pudl_spark.functions.similarity import append_to_ivf_store

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 97 != 3)
    batch = emb.filter(F.col("vec_id") % 97 == 3)
    assert batch.count() > 0
    with tempfile.TemporaryDirectory() as td:
        build_ivf_store(spark, corpus, "t_ivf_app",
                        os.path.join(td, "inc"))
        build_ivf_store(spark, emb, "t_ivf_full",
                        os.path.join(td, "full"))
        try:
            append_to_ivf_store(spark, "t_ivf_app", batch)
            got = sorted(map(tuple, spark.table("t_ivf_app")
                             .select("cell", "vec_id").collect()))
            want = sorted(map(tuple, spark.table("t_ivf_full")
                              .select("cell", "vec_id").collect()))
            assert got == want and got
            # The appended store keeps the bucketed-layout contract:
            # a cell-keyed self-join still plans with no Exchange on
            # the store side (broadcast off so the bucketing is what
            # the planner must lean on, as at scale).
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           "-1")
            try:
                s = spark.table("t_ivf_app")
                j = s.alias("a").join(
                    s.alias("b"),
                    on=[F.col("a.cell") == F.col("b.cell"),
                        F.col("a.vec_id") < F.col("b.vec_id")])
                plan = (j._jdf.queryExecution().executedPlan()
                        .toString())
                assert "Exchange" not in plan, plan
            finally:
                spark.conf.set(
                    "spark.sql.autoBroadcastJoinThreshold", "64m")
        finally:
            spark.sql("DROP TABLE IF EXISTS t_ivf_app")
            spark.sql("DROP TABLE IF EXISTS t_ivf_full")
            spark.sql("DROP TABLE IF EXISTS t_ivf_app_seeds")
            spark.sql("DROP TABLE IF EXISTS t_ivf_full_seeds")


def test_append_assigns_against_old_seeds(spark):
    """An append is an index INGEST, not a re-train: a batch that
    WOULD be seed-eligible under the build rule is still assigned
    against the existing sidecar's seeds, and the sidecar itself is
    unchanged."""
    from pudl_spark.functions.similarity import append_to_ivf_store

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)  # contains %97==1
    assert batch.filter(F.col("vec_id") % 97 == 1).count() > 0
    with tempfile.TemporaryDirectory() as td:
        build_ivf_store(spark, corpus, "t_ivf_app2",
                        os.path.join(td, "inc"))
        try:
            seeds_before = sorted(
                r["seed_id"] for r in
                spark.table("t_ivf_app2_seeds").collect())
            append_to_ivf_store(spark, "t_ivf_app2", batch)
            seeds_after = sorted(
                r["seed_id"] for r in
                spark.table("t_ivf_app2_seeds").collect())
            assert seeds_before == seeds_after
            # Every appended vector landed in an existing seed's
            # cell or its own negative singleton — never in a cell
            # keyed by a batch vec_id.
            s = spark.table("t_ivf_app2")
            assert s.count() == corpus.count() + batch.count()
            bad = (s.filter(F.col("cell") >= 0)
                   .join(spark.table("t_ivf_app2_seeds"),
                         F.col("cell") == F.col("seed_id"),
                         "left_anti"))
            assert bad.count() == 0
        finally:
            spark.sql("DROP TABLE IF EXISTS t_ivf_app2")
            spark.sql("DROP TABLE IF EXISTS t_ivf_app2_seeds")


def test_mismatched_ivf_append_and_probe_raise(spark):
    """VERDICT r10 #4, IVF half: the sidecar persists nprobe /
    centroid_factor / num_buckets / seed_modulus at build time; an
    append under a different assignment rule (silent index
    corruption) or a probe re-deriving centroids under a different
    factor (silently skewed recall) must raise."""
    import pytest

    from pudl_spark.functions.similarity import (
        append_to_ivf_store, ivf_store_topk,
    )
    from pudl_spark.sources.files import get_table_build_params

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 97 != 3)
    batch = emb.filter(F.col("vec_id") % 97 == 3)
    with tempfile.TemporaryDirectory() as td:
        build_ivf_store(spark, corpus, "t_ivf_mm",
                        os.path.join(td, "s"))
        try:
            stored = get_table_build_params(spark, "t_ivf_mm_seeds")
            assert stored == {"nprobe": "2", "centroid_factor": "2.0",
                              "num_buckets": "8", "seed_modulus": "97"}
            with pytest.raises(ValueError, match="centroid_factor"):
                append_to_ivf_store(spark, "t_ivf_mm", batch,
                                    centroid_factor=3.0)
            with pytest.raises(ValueError, match="nprobe"):
                append_to_ivf_store(spark, "t_ivf_mm", batch,
                                    nprobe=1)
            q = emb.filter(F.col("vec_id") < 3).select(
                F.col("vec_id").alias("query_id"), "embedding")
            with pytest.raises(ValueError, match="centroid_factor"):
                ivf_store_topk(spark, "t_ivf_mm", q, k=3,
                               centroid_factor=3.0)
            # Probe-time nprobe stays a FREE recall knob (only the
            # centroid derivation rule is pinned), and matched calls
            # work end-to-end.
            ivf_store_topk(spark, "t_ivf_mm", q, k=3,
                           nprobe=1).collect()
            append_to_ivf_store(spark, "t_ivf_mm", batch)
        finally:
            spark.sql("DROP TABLE IF EXISTS t_ivf_mm")
            spark.sql("DROP TABLE IF EXISTS t_ivf_mm_seeds")


def test_rebuild_ivf_store_reseeds_from_current_corpus(spark):
    """`rebuild_ivf_store` = the drift remedy the append docstring
    defers to. Pins (a) rebuild(grown store) == one-shot build over
    the same rows — deterministic seed/centroid/argmax rules make
    the re-train exactly reproducible — and (b) the reseed actually
    absorbs drift: vectors that were seed-INELIGIBLE under the
    bootstrap slice's frozen seeds but seed-eligible in the grown
    corpus become seeds, so the sidecar grows past the frozen one.
    Also exercises the read-then-swap mechanics (the build drops and
    CTAS-overwrites the very tables/files the store rows were read
    from)."""
    from pudl_spark.functions.similarity import (
        append_to_ivf_store, rebuild_ivf_store,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding")
    boot = emb.filter(F.col("vec_id") % 3 == 0)
    rest = emb.filter(F.col("vec_id") % 3 != 0)
    with tempfile.TemporaryDirectory() as td:
        try:
            build_ivf_store(spark, boot, "t_ivf_rb",
                            os.path.join(td, "s"))
            frozen_seeds = spark.table("t_ivf_rb_seeds").count()
            append_to_ivf_store(spark, "t_ivf_rb", rest)
            assert spark.table("t_ivf_rb").count() == emb.count()
            rebuild_ivf_store(spark, "t_ivf_rb",
                              os.path.join(td, "s"))
            build_ivf_store(spark, emb, "t_ivf_rb_ref",
                            os.path.join(td, "ref"))
            for suffix in ("", "_seeds"):
                got = sorted(map(tuple,
                                 spark.table(f"t_ivf_rb{suffix}")
                                 .collect()))
                want = sorted(map(tuple,
                                  spark.table(f"t_ivf_rb_ref{suffix}")
                                  .collect()))
                assert got == want and got, suffix or "store"
            # The reseed picked up seed-eligible appended vectors
            # the frozen bootstrap seed set could not contain.
            assert (spark.table("t_ivf_rb_seeds").count()
                    > frozen_seeds)
        finally:
            for t in ("t_ivf_rb", "t_ivf_rb_seeds",
                      "t_ivf_rb_ref", "t_ivf_rb_ref_seeds"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def _fake_reseed_crash_state(spark, table_name, p, params):
    """Simulate a rebuild that committed its write-ahead state and
    then crashed mid-build: snapshot of the CURRENT store +
    _reseed_params.json + the rebuild-pending marker, written in
    the same marker-last order as rebuild_ivf_store itself."""
    import json

    (spark.table(table_name).select("vec_id", "embedding")
     .write.mode("overwrite").parquet(p + "__reseed_src"))
    with open(os.path.join(p + "__reseed_src",
                           "_reseed_params.json"), "w") as f:
        json.dump(params, f)
    with open(p + "__reseed_pending", "w") as f:
        f.write(p + "__reseed_src")


def test_rebuild_crash_reentry_and_sidecar_defaults(spark):
    """(a) Crash re-entry: a rebuild that died mid-build leaves the
    committed write-ahead snapshot at {path}__reseed_src AND the
    {path}__reseed_pending marker; the next rebuild must read the
    snapshot — NOT the half-written store — and converge to the
    clean rebuild, then remove marker + snapshot. Simulated by
    committing snapshot/params/marker and truncating the store to a
    subset (the 'half-written' state). (b) Crash re-entry takes its
    geometry from the snapshot's _reseed_params.json even when the
    SIDECAR IS GONE (r11 advice #2: build_ivf_store drops the
    sidecar mid-build, so a crash in that window must not raise or
    silently fall back to hard-coded defaults)."""
    from pudl_spark.functions.similarity import rebuild_ivf_store

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding")
    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "s")
        try:
            build_ivf_store(spark, emb, "t_ivf_cr", p,
                            num_buckets=4, seed_modulus=31,
                            centroid_factor=3.0)
            want = sorted(map(tuple, spark.table("t_ivf_cr")
                              .select("cell", "vec_id").collect()))
            # (a) Simulate: snapshot+marker committed, then the
            # build crashed after destroying part of the store —
            # including (b) the sidecar drop window.
            _fake_reseed_crash_state(
                spark, "t_ivf_cr", p,
                {"num_buckets": 4, "seed_modulus": 31, "nprobe": 2,
                 "centroid_factor": 3.0})
            assert os.path.exists(
                os.path.join(p + "__reseed_src", "_SUCCESS"))
            half = (spark.table("t_ivf_cr")
                    .filter(F.col("vec_id") % 2 == 0)
                    .localCheckpoint())
            from pudl_spark.sources.files import write_bucketed_table

            spark.sql("DROP TABLE IF EXISTS t_ivf_cr")
            spark.sql("DROP TABLE IF EXISTS t_ivf_cr_seeds")
            write_bucketed_table(half, "t_ivf_cr", ["cell"], 4,
                                 sort_cols=["cell", "vec_id"],
                                 path=os.path.join(td, "half"))
            # Bare re-entry: params from the snapshot (31/3.0/4),
            # corpus from the snapshot — full convergence with no
            # sidecar in sight.
            rebuild_ivf_store(spark, "t_ivf_cr", p)
            got = sorted(map(tuple, spark.table("t_ivf_cr")
                             .select("cell", "vec_id").collect()))
            assert got == want and got
            assert not os.path.exists(p + "__reseed_src")
            assert not os.path.exists(p + "__reseed_pending")
            from pudl_spark.sources.files import (
                get_table_build_params,
            )

            params = get_table_build_params(spark, "t_ivf_cr_seeds")
            assert params["seed_modulus"] == "31"
            assert float(params["centroid_factor"]) == 3.0
        finally:
            for t in ("t_ivf_cr", "t_ivf_cr_seeds"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_rebuild_discards_stale_committed_snapshot(spark):
    """r11 advice #1: a COMMITTED snapshot with NO pending marker is
    a leftover from a run that crashed between marker-delete and
    snapshot-delete — the store is valid and may have grown since.
    The next rebuild must discard the snapshot and reseed from the
    CURRENT store, preserving rows appended after the stale
    snapshot was taken (the old _SUCCESS-only rule silently dropped
    them)."""
    from pudl_spark.functions.similarity import (
        append_to_ivf_store, rebuild_ivf_store,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding")
    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "s")
        try:
            build_ivf_store(spark, emb.filter(F.col("vec_id") % 3
                                              == 0),
                            "t_ivf_st", p)
            # Stale committed snapshot of the PRE-append store, no
            # marker (the build that took it committed fully).
            (spark.table("t_ivf_st").select("vec_id", "embedding")
             .write.mode("overwrite").parquet(p + "__reseed_src"))
            assert os.path.exists(
                os.path.join(p + "__reseed_src", "_SUCCESS"))
            # Rows appended SINCE live only in the store.
            append_to_ivf_store(spark, "t_ivf_st",
                                emb.filter(F.col("vec_id") % 3
                                           != 0))
            n_full = spark.table("t_ivf_st").count()
            rebuild_ivf_store(spark, "t_ivf_st", p)
            ids = [r[0] for r in spark.table("t_ivf_st")
                   .select("vec_id").collect()]
            assert len(ids) == n_full          # nothing discarded
            assert sorted(ids) == sorted(
                r[0] for r in emb.select("vec_id").collect())
            assert not os.path.exists(p + "__reseed_src")
            assert not os.path.exists(p + "__reseed_pending")
        finally:
            for t in ("t_ivf_st", "t_ivf_st_seeds"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_rebuild_recovers_pending_compaction_before_snapshot(spark):
    """Pins the rebuild docstring's claim that a half-published
    compaction swap completes BEFORE the corpus snapshot is taken —
    reading past the pending swap would bake its transient row loss
    into the rebuilt store permanently. Fabricates the mid-swap
    crash state (marker + staged copies, one original already
    deleted — a bare read loses rows), then reseeds: the rebuilt
    store must hold the FULL corpus assignment, not the
    half-swapped subset."""
    import glob
    import shutil

    from pudl_spark.functions.similarity import rebuild_ivf_store
    from pudl_spark.operators.layout import _write_compact_marker

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding")
    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "s")
        try:
            build_ivf_store(spark, emb, "t_ivf_pc", p)
            want = sorted(map(tuple, spark.table("t_ivf_pc")
                              .select("cell", "vec_id").collect()))
            parts = sorted(glob.glob(os.path.join(p, "part-*")))
            assert len(parts) >= 2
            staging = p + "__compact_pctok"
            os.makedirs(staging)
            staged = []
            for f in parts:
                sname = os.path.basename(f).replace("part-",
                                                    "part-9", 1)
                staged.append(sname)
                shutil.copy(f, os.path.join(staging, sname))
            _write_compact_marker(
                spark, "file:" + p, "file:" + staging, staged,
                [os.path.basename(f) for f in parts])
            os.remove(parts[0])  # mid-delete crash
            spark.catalog.refreshTable("t_ivf_pc")
            assert (spark.table("t_ivf_pc").count()
                    < len(want))  # half-swapped: rows missing
            rebuild_ivf_store(spark, "t_ivf_pc", p)
            got = sorted(map(tuple, spark.table("t_ivf_pc")
                             .select("cell", "vec_id").collect()))
            assert got == want and got  # full corpus, reseeded
            assert not os.path.exists(p + "__reseed_src")
            assert not os.path.exists(p + "__reseed_pending")
        finally:
            for t in ("t_ivf_pc", "t_ivf_pc_seeds"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")
