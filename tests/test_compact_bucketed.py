"""VERDICT r9 #2 / r10 #3: bucket-aware compaction for the
append-growing LSH/IVF stores. N appends leave up to N x num_buckets
files; `compact_bucketed_table` must collapse them to <= num_buckets
(x files_per_bucket) while preserving the bucket spec, the sort
order, the table location, the build-parameter properties, and —
the actual read contracts the probes pin — Exchange-free bucketed
joins and In()-pruned scans with identical results."""

from __future__ import annotations

import glob
import os
import tempfile

from pyspark.sql import functions as F

from pudl_spark.functions.dedup import (
    append_to_lsh_store, build_lsh_store, lsh_store_probe,
)
from pudl_spark.operators.layout import compact_bucketed_table

SF = "/root/testdata/sf0.001"


def _docs(spark):
    from pudl_spark.catalog import read_parquet_table

    return read_parquet_table(spark, f"{SF}/documents.parquet")


def _n_files(table_dir: str) -> int:
    return len(glob.glob(os.path.join(table_dir, "part-*")))


def test_compaction_restores_file_bound_and_probe_contracts(spark):
    d = _docs(spark)
    corpus = d.filter(F.col("doc_id") % 7 > 2)
    app1 = d.filter(F.col("doc_id") % 7 == 1)
    app2 = d.filter(F.col("doc_id") % 7 == 2)
    batch = d.filter(F.col("doc_id") % 7 == 0)
    with tempfile.TemporaryDirectory() as td:
        store = os.path.join(td, "store")
        build_lsh_store(spark, corpus, "doc_id", "text", "t_cmp",
                        store, num_buckets=4)
        try:
            append_to_lsh_store(spark, "t_cmp", app1, "doc_id",
                                "text", num_buckets=4)
            append_to_lsh_store(spark, "t_cmp", app2, "doc_id",
                                "text", num_buckets=4)
            bands_dir = os.path.join(store, "bands")
            sets_dir = os.path.join(store, "sets")
            assert _n_files(bands_dir) > 4  # append-grown
            before = sorted(map(tuple, lsh_store_probe(
                spark, "t_cmp", batch, "doc_id", "text",
                jaccard_threshold=0.5).collect()))
            assert before
            removed_b = compact_bucketed_table(spark, "t_cmp_bands")
            removed_s = compact_bucketed_table(spark, "t_cmp_sets")
            assert removed_b > 4 and removed_s > 4
            # (c) file count drops to <= num_buckets...
            assert _n_files(bands_dir) <= 4
            assert _n_files(sets_dir) <= 4
            # ...and a second pass is a no-op.
            assert compact_bucketed_table(spark, "t_cmp_bands") == 0
            # Build-parameter properties survive the swap
            # (VERDICT r10 #4 composes with #3).
            from pudl_spark.sources.files import get_table_build_params

            assert get_table_build_params(
                spark, "t_cmp_bands")["num_buckets"] == "4"
            # (b) pruned == unpruned == pre-compaction results.
            pruned = lsh_store_probe(spark, "t_cmp", batch, "doc_id",
                                     "text", jaccard_threshold=0.5,
                                     min_store_bytes=0)
            # (a) the In() predicates still reach both compacted
            # store scans (row-group pruning intact).
            plan = (pruned._jdf.queryExecution().executedPlan()
                    .toString())
            bands_scans = [ln for ln in plan.splitlines()
                           if "FileScan" in ln and "t_cmp_bands" in ln]
            sets_scans = [ln for ln in plan.splitlines()
                          if "FileScan" in ln and "t_cmp_sets" in ln]
            # r16: the pruned probe's served plan reads the collected
            # candidate pairs as a LocalRelation — no bands scan at
            # all (the In(bucket)-pruned bands scan runs inside the
            # bounded pair collect's own action); the sets scan keeps
            # its In(id) predicate against the compacted files.
            assert not bands_scans, plan
            assert sets_scans, plan
            assert all("In(id" in ln for ln in sets_scans), plan
            got_p = sorted(map(tuple, pruned.collect()))
            got_f = sorted(map(tuple, lsh_store_probe(
                spark, "t_cmp", batch, "doc_id", "text",
                jaccard_threshold=0.5, max_prune_values=0).collect()))
            assert got_p == got_f == before
            # (a) the bucketed-join contract survives: store-vs-store
            # band join plans with NO Exchange after the rewrite.
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                           "-1")
            try:
                bands = spark.table("t_cmp_bands")
                b2 = bands.select("band", "bucket",
                                  F.col("id").alias("id2"))
                jp = (bands.join(b2, ["band", "bucket"])
                      ._jdf.queryExecution().executedPlan().toString())
                assert "Exchange" not in jp, jp
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                               "64m")
        finally:
            for t in ("t_cmp_bands", "t_cmp_sets"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compaction_files_per_bucket_bound(spark):
    """files_per_bucket > 1 keeps task memory bounded for fat
    buckets: the salted rewrite still routes every row to its
    correct bucket id and the file bound scales accordingly."""
    d = _docs(spark)
    with tempfile.TemporaryDirectory() as td:
        build_lsh_store(spark, d.filter(F.col("doc_id") % 3 != 0),
                        "doc_id", "text", "t_cmp2",
                        os.path.join(td, "s"), num_buckets=2)
        try:
            # two appends: each write now emits exactly num_buckets
            # files (hash-distributed writer), so fragmentation comes
            # from append count, not upstream partitioning
            append_to_lsh_store(spark, "t_cmp2",
                                d.filter(F.col("doc_id") % 6 == 0),
                                "doc_id", "text", num_buckets=2)
            append_to_lsh_store(spark, "t_cmp2",
                                d.filter(F.col("doc_id") % 6 == 3),
                                "doc_id", "text", num_buckets=2)
            sets_dir = os.path.join(td, "s", "sets")
            before = sorted(map(tuple, spark.table("t_cmp2_sets")
                                .collect()))
            assert _n_files(sets_dir) > 4
            compact_bucketed_table(spark, "t_cmp2_sets",
                                   files_per_bucket=2)
            assert _n_files(sets_dir) <= 4
            # The knob must actually SPLIT the rewrite across tasks
            # (r11 self-review: a hash-keyed salt collapsed both
            # slices into one partition, leaving the memory-bounding
            # mechanism inert while the file bound still passed):
            # bucketed file names lead with the writer task id.
            tasks = {os.path.basename(p).split("-")[1]
                     for p in glob.glob(os.path.join(sets_dir,
                                                     "part-*"))}
            assert len(tasks) == 2, tasks
            after = sorted(map(tuple, spark.table("t_cmp2_sets")
                               .collect()))
            assert after == before
        finally:
            for t in ("t_cmp2_bands", "t_cmp2_sets"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_rejects_unbucketed_table(spark):
    import pytest

    spark.range(3).write.mode("overwrite").saveAsTable("t_plain")
    try:
        with pytest.raises(ValueError, match="not bucketed"):
            compact_bucketed_table(spark, "t_plain")
    finally:
        spark.sql("DROP TABLE IF EXISTS t_plain")


def test_compaction_composes_with_ivf_store(spark):
    """Cross-family: compacting an append-grown IVF store (+ its
    seeds sidecar) preserves the ANN serving contract — identical
    top-k, build-param properties intact, file bound restored."""
    from pudl_spark.functions.similarity import (
        append_to_ivf_store, build_ivf_store, ivf_store_topk,
    )

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    corpus = e.filter(F.col("vec_id") % 5 > 1)
    with tempfile.TemporaryDirectory() as td:
        build_ivf_store(spark, corpus, "t_cmp_ivf",
                        os.path.join(td, "s"), num_buckets=4)
        try:
            for i in (0, 1):
                append_to_ivf_store(spark, "t_cmp_ivf",
                                    e.filter(F.col("vec_id") % 5 == i),
                                    num_buckets=4)
            q = e.filter(F.col("vec_id") < 4).select(
                F.col("vec_id").alias("query_id"), "embedding")
            before = sorted(map(tuple, ivf_store_topk(
                spark, "t_cmp_ivf", q, k=5).collect()))
            assert _n_files(os.path.join(td, "s")) > 4
            removed = compact_bucketed_table(spark, "t_cmp_ivf")
            assert removed > 4
            assert _n_files(os.path.join(td, "s")) <= 4
            from pudl_spark.sources.files import get_table_build_params

            assert get_table_build_params(
                spark, "t_cmp_ivf_seeds")["num_buckets"] == "4"
            after = sorted(map(tuple, ivf_store_topk(
                spark, "t_cmp_ivf", q, k=5).collect()))
            assert after == before and after
        finally:
            spark.sql("DROP TABLE IF EXISTS t_cmp_ivf")
            spark.sql("DROP TABLE IF EXISTS t_cmp_ivf_seeds")


def test_idempotent_guard_scans_are_pruned(spark):
    """The redelivery guards must READ O(batch), not O(corpus): the
    LSH guard's In(id) and the IVF guard's In(cell) predicates reach
    the store file scans (both tables are sorted by exactly those
    columns, so row-group min/max stats skip the untouched index)."""
    from pudl_spark.functions.similarity import (
        _assign_to_store_cells, build_ivf_store,
    )

    d = _docs(spark)
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    with tempfile.TemporaryDirectory() as td:
        build_lsh_store(spark, d.filter(F.col("doc_id") % 5 != 0),
                        "doc_id", "text", "t_grd",
                        os.path.join(td, "l"))
        build_ivf_store(spark, e.filter(F.col("vec_id") % 5 != 0),
                        "t_grd_ivf", os.path.join(td, "v"))
        try:
            # LSH guard read side: store ids pruned by the batch ids.
            ids = [r[0] for r in d.filter(F.col("doc_id") % 5 == 0)
                   .select("doc_id").distinct().collect()]
            guarded = (spark.table("t_grd_sets").select("id")
                       .filter(F.col("id").isin(sorted(ids))))
            plan = (guarded._jdf.queryExecution().executedPlan()
                    .toString())
            assert "In(id" in plan, plan
            # IVF guard read side: store rows pruned by the batch's
            # assigned cells.
            batch = e.filter(F.col("vec_id") % 5 == 0)
            rows = _assign_to_store_cells(spark, "t_grd_ivf", batch,
                                          2, 2.0)
            cells = [r["cell"] for r in
                     rows.select("cell").distinct().collect()]
            guarded = (spark.table("t_grd_ivf")
                       .filter(F.col("cell").isin(sorted(cells)))
                       .select("vec_id"))
            plan = (guarded._jdf.queryExecution().executedPlan()
                    .toString())
            assert "In(cell" in plan, plan
        finally:
            for t in ("t_grd_bands", "t_grd_sets", "t_grd_ivf",
                      "t_grd_ivf_seeds"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_recover_pending_compaction_mid_swap_crash(spark):
    """A crash inside the compaction publish step must be fully
    recoverable (r11 self-review: the streaming loops run this
    before every store read): the write-ahead marker + staged copy
    let recover_pending_compaction restore the exact table content
    from ANY interruption point, idempotently."""
    import shutil

    from pudl_spark.operators.layout import (
        _write_compact_marker, recover_pending_compaction,
    )

    d = _docs(spark)
    with tempfile.TemporaryDirectory() as td:
        build_lsh_store(spark, d, "doc_id", "text", "t_rec",
                        os.path.join(td, "s"), num_buckets=2)
        try:
            sets_dir = os.path.join(td, "s", "sets")
            want = sorted(map(tuple, spark.table("t_rec_sets")
                              .collect()))
            parts = sorted(glob.glob(os.path.join(sets_dir,
                                                  "part-*")))
            assert len(parts) >= 2
            # Simulate: staged copy complete (same logical content
            # under DISTINCT file names, as real staged write jobs
            # produce), marker published, then a crash midway
            # through deleting the originals. An extra file
            # "appended after the crash" must SURVIVE recovery (the
            # manifest's originals list, not everything-not-staged,
            # drives the deletes).
            staging = sets_dir + "__compact_testtok"
            os.makedirs(staging)
            staged_names = []
            for p in parts:
                sname = os.path.basename(p).replace("part-", "part-9",
                                                    1)
                staged_names.append(sname)
                shutil.copy(p, os.path.join(staging, sname))
            _write_compact_marker(
                spark, "file:" + sets_dir, "file:" + staging,
                staged_names, [os.path.basename(p) for p in parts])
            os.remove(parts[0])  # the mid-delete crash
            # Half-swapped: a bare read now loses rows...
            spark.catalog.refreshTable("t_rec_sets")
            assert len(spark.table("t_rec_sets").collect()) < len(want)
            survivor = os.path.join(
                sets_dir, "part-survivor_00000.c000.zstd.parquet")
            shutil.copy(parts[1], survivor)  # post-crash append
            # ...recovery completes the swap deterministically, and
            # the post-crash append SURVIVES it.
            assert recover_pending_compaction(spark, "t_rec_sets")
            assert os.path.exists(survivor)
            os.remove(survivor)  # drop the duplicate rows it holds
            spark.catalog.refreshTable("t_rec_sets")
            got = sorted(map(tuple, spark.table("t_rec_sets")
                             .collect()))
            assert got == want
            assert not os.path.exists(staging)
            assert not os.path.exists(
                os.path.join(sets_dir, "_COMPACT_PENDING"))
            # Clean table: recovery is a cheap no-op.
            assert recover_pending_compaction(spark,
                                              "t_rec_sets") is False
        finally:
            for t in ("t_rec_bands", "t_rec_sets"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_recovery_crash_inside_recovery_converges(spark):
    """Behavioral twin of the structural ordering pin below (r11
    advice #3): fabricate the state a crash INSIDE recovery leaves
    behind — originals-delete phase complete, staged-move phase
    interrupted after one file (marker + staging still present) —
    and assert (a) a non-touch-point reader sees a strict SUBSET of
    the table's rows with no duplicates (the never-duplicates
    invariant the delete-before-move order buys), then (b) a second
    recovery call converges to the exact full content. No rename
    hooks needed: recovery is driven entirely by the on-disk
    (marker, staging, data-files) state, so constructing that state
    directly exercises the same resume path."""
    import shutil

    from pudl_spark.functions.dedup import build_lsh_store
    from pudl_spark.operators.layout import (
        _write_compact_marker, recover_pending_compaction,
    )

    d = _docs(spark)
    with tempfile.TemporaryDirectory() as td:
        build_lsh_store(spark, d, "doc_id", "text", "t_recx",
                        os.path.join(td, "s"), num_buckets=2)
        try:
            sets_dir = os.path.join(td, "s", "sets")
            want = sorted(map(tuple, spark.table("t_recx_sets")
                              .collect()))
            parts = sorted(glob.glob(os.path.join(sets_dir,
                                                  "part-*")))
            assert len(parts) >= 2
            staging = sets_dir + "__compact_crashtok"
            os.makedirs(staging)
            staged_names = []
            for p in parts:
                sname = os.path.basename(p).replace("part-",
                                                    "part-9", 1)
                staged_names.append(sname)
                shutil.copy(p, os.path.join(staging, sname))
            _write_compact_marker(
                spark, "file:" + sets_dir, "file:" + staging,
                staged_names, [os.path.basename(p) for p in parts])
            # Recovery's delete phase ran to completion...
            for p in parts:
                os.remove(p)
            # ...and its move phase crashed after ONE file.
            shutil.move(os.path.join(staging, staged_names[0]),
                        os.path.join(sets_dir, staged_names[0]))
            spark.catalog.refreshTable("t_recx_sets")
            mid = sorted(map(tuple, spark.table("t_recx_sets")
                             .collect()))
            # (a) Subset, never duplicates: every mid-crash row is a
            # want row, each at most its want multiplicity.
            assert 0 < len(mid) < len(want)
            wleft = list(want)
            for r in mid:
                assert r in wleft
                wleft.remove(r)
            # (b) Re-entering recovery converges exactly.
            assert recover_pending_compaction(spark, "t_recx_sets")
            spark.catalog.refreshTable("t_recx_sets")
            got = sorted(map(tuple, spark.table("t_recx_sets")
                             .collect()))
            assert got == want
            assert not os.path.exists(staging)
            assert not os.path.exists(
                os.path.join(sets_dir, "_COMPACT_PENDING"))
        finally:
            for t in ("t_recx_bands", "t_recx_sets"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_recovery_deletes_originals_before_moving_staged():
    """Never-duplicates must hold through a crash inside recovery
    ITSELF: the originals-delete phase precedes the staged-move
    phase (same order as the swap's own publish), so an
    interruption at any point leaves a non-touch-point reader a
    subset of rows, never originals + staged doubled (r11 review:
    move-first recovery had exactly that duplicate window). Pinned
    structurally on the function source (the behavioral twin above
    covers the resume path); a full in-flight fault injection would
    need JVM-level rename hooks, and running as root defeats
    permission-based ones."""
    import inspect

    from pudl_spark.operators.layout import recover_pending_compaction

    src = inspect.getsource(recover_pending_compaction)
    delete_phase = src.index('manifest["originals"]')
    move_phase = src.index("compaction recovery rename failed")
    assert delete_phase < move_phase


def test_append_hook_recovers_half_swapped_table(spark):
    """The write_bucketed_table append-mode hook must complete a
    pending swap BEFORE appending — an append onto a half-swapped
    table would guard/write against missing rows. Also covers the
    vanished-staging recovery branch (crash after the staging dir
    was consumed but before the marker delete): recovery just
    finishes the bookkeeping."""
    import shutil

    from pudl_spark.functions.dedup import append_to_lsh_store
    from pudl_spark.operators.layout import (
        _write_compact_marker, recover_pending_compaction,
    )

    d = _docs(spark)
    with tempfile.TemporaryDirectory() as td:
        build_lsh_store(spark, d.filter(F.col("doc_id") % 5 != 0),
                        "doc_id", "text", "t_hook",
                        os.path.join(td, "s"), num_buckets=2)
        try:
            sets_dir = os.path.join(td, "s", "sets")
            before = sorted(map(tuple, spark.table("t_hook_sets")
                                .collect()))
            parts = sorted(glob.glob(os.path.join(sets_dir,
                                                  "part-*")))
            staging = sets_dir + "__compact_hooktok"
            os.makedirs(staging)
            staged_names = []
            for p in parts:
                sname = os.path.basename(p).replace("part-",
                                                    "part-9", 1)
                staged_names.append(sname)
                shutil.copy(p, os.path.join(staging, sname))
            _write_compact_marker(
                spark, "file:" + sets_dir, "file:" + staging,
                staged_names, [os.path.basename(p) for p in parts])
            os.remove(parts[0])  # crash mid-delete
            # An APPEND now runs the recovery hook first, then
            # appends — nothing lost, nothing duplicated.
            batch = d.filter(F.col("doc_id") % 5 == 0)
            append_to_lsh_store(spark, "t_hook", batch, "doc_id",
                                "text", num_buckets=2)
            got = sorted(map(tuple, spark.table("t_hook_sets")
                             .collect()))
            from pudl_spark.functions.dedup import shingle_hash_sets

            want = sorted(map(tuple, shingle_hash_sets(
                d.filter(F.col("doc_id") % 5 != 0), "doc_id", "text")
                .unionByName(shingle_hash_sets(batch, "doc_id",
                                               "text")).collect()))
            assert got == want
            # Vanished-staging branch: marker present, staging gone.
            parts2 = sorted(glob.glob(os.path.join(sets_dir,
                                                   "part-*")))
            _write_compact_marker(
                spark, "file:" + sets_dir,
                "file:" + sets_dir + "__compact_gone",
                [os.path.basename(p) for p in parts2], [])
            assert recover_pending_compaction(spark, "t_hook_sets")
            assert sorted(map(tuple, spark.table("t_hook_sets")
                              .collect())) == want
        finally:
            for t in ("t_hook_bands", "t_hook_sets"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")
