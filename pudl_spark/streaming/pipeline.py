"""Streaming pipeline over the events table.

readStream -> watermarked transformations -> writeStream, per the
Structured Streaming incremental model. Every function here also
accepts a *batch* DataFrame — the logical plan is identical, which is
what makes the implementations testable against the DuckDB oracles of
their batch twins (hourly_event_windows, event_sessions_cc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from pudl_spark.sql import in_list

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def read_events_stream(spark: SparkSession, path: str,
                       max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream over an events parquet directory. The
    declared schema (required for streaming reads) doubles as the
    contract check; maxFilesPerTrigger bounds micro-batch size so one
    trigger never has to fit the backlog in memory.
    """
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours",
                          slide: str | None = None) -> DataFrame:
    """Tumbling (or, with ``slide``, hopping) window counts + value
    sums per event_type.

    With a streaming input the watermark bounds state: windows older
    than (max event time - watermark) are finalized and evicted, so
    state size is O(active windows x types), independent of stream
    length — for hopping windows multiplied by the width/slide
    overlap factor, still stream-length-independent. On a batch input
    the same plan is a plain groupBy.
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    return (
        src.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "sum_value")
    )


def sessionize_stream(events: DataFrame, gap: str = "2 hours",
                      watermark: str = "4 hours") -> DataFrame:
    """Session-window aggregation keyed by user: session = events
    separated by < gap, exactly the event_sessions_cc batch semantics.
    Uses the built-in session_window (state-store backed, watermark-
    evicted) rather than a custom applyInPandasWithState operator —
    built-ins keep state management in the JVM.
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("event_id").alias("session_id"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "session_id",
                "n_events")
    )


def run_stream_to_memory(stream_df: DataFrame, query_name: str,
                         spark: SparkSession,
                         output_mode: str | None = None) -> DataFrame:
    """Drain a stream with availableNow into an in-memory sink and
    return the result as a batch DataFrame (test/debug utility —
    production sinks are writeStream.format('parquet') with
    checkpointing). Aggregating streams default to complete mode;
    row-level streams (dedup, filters) must pass append.
    """
    if output_mode is None:
        output_mode = "complete" if stream_df.isStreaming else "append"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)


def interval_join_stream(left: DataFrame, right: DataFrame,
                         key: str = "user_id",
                         left_ts: str = "l_ts", right_ts: str = "r_ts",
                         max_span: str = "1 hour",
                         watermark: str = "2 hours") -> DataFrame:
    """Stream-stream event-time INTERVAL join: each right-side row
    matches left-side rows with the same key whose timestamp is in
    [right_ts - max_span, right_ts] — the streaming twin of the batch
    point-in-interval join (J10 family).

    Both inputs carry watermarks and the join condition bounds the
    two event times against each other, which is exactly what
    Structured Streaming needs to EVICT join state: a buffered left
    row can be dropped once the right watermark passes
    left_ts + max_span (and vice versa), so state is
    O(rate x (watermark + span)) — stream-length-independent, the
    property a 100 TB/day ingest requires. On batch inputs the same
    condition plans as a regular range join; the batch-parity test
    pins the equivalence.

    Column names must be pre-disambiguated by the caller (e.g.
    ``.select(F.col("ts").alias("l_ts"), ...)``) — self-joins of one
    source otherwise collide.
    """
    lsrc, rsrc = left, right
    if left.isStreaming:
        lsrc = left.withWatermark(left_ts, watermark)
    if right.isStreaming:
        rsrc = right.withWatermark(right_ts, watermark)
    lkey = f"l_{key}" if f"l_{key}" in left.columns else key
    rkey = f"r_{key}" if f"r_{key}" in right.columns else key
    cond = (
        (lsrc[lkey] == rsrc[rkey])
        & (lsrc[left_ts] <= rsrc[right_ts])
        & (lsrc[left_ts] >= rsrc[right_ts]
           - F.expr(f"INTERVAL {max_span}"))
    )
    return lsrc.join(rsrc, cond, "inner")


def dedup_stream(events: DataFrame, keys: list[str] | None = None,
                 watermark_col: str = "ts",
                 watermark: str = "2 hours") -> DataFrame:
    """Streaming exact deduplication: drop repeats of the same key
    within the watermark horizon (`dropDuplicatesWithinWatermark`),
    bounding dedup state the way a 100 TB ingest requires — the
    unbounded-state `dropDuplicates` would OOM on an endless stream.

    The training-data twin of the batch `exact_dedup_docs` hash-
    groupBy: at ingest time the same document/event arriving twice
    within the horizon is emitted once. On a *batch* DataFrame Spark
    rejects the watermark variant, so this falls back to plain
    dropDuplicates — the logical result on a finite input is the same
    whenever repeats land inside the horizon, which is what the
    batch-parity test pins.
    """
    keys = keys or ["event_id"]
    if events.isStreaming:
        return events.withWatermark(
            watermark_col, watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


RUNNING_STATS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("seq_no", T.LongType()),
    T.StructField("session_no", T.LongType()),
])

_RUNNING_STATE_SCHEMA = T.StructType([
    T.StructField("n_events", T.LongType()),
    T.StructField("n_sessions", T.LongType()),
    T.StructField("last_us", T.LongType()),
])


def user_running_stats_stream(events: DataFrame,
                              gap_seconds: int = 7200) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running event counters that survive across micro-batches
    — each event is emitted with its lifetime sequence number and the
    index of the session it opened or continued (session = gap
    under ``gap_seconds``, the event_sessions semantics).

    This is the operator shape the built-in aggregations can't
    express: row-level output (append mode) driven by keyed state
    (count, session count, last timestamp) that lives in the state
    store between triggers. Semantics are EXACT integers, so the
    batch twin (one window pass; see queries.user_running_stats) is a
    bit-for-bit oracle whenever per-user event-time order is
    respected across batches — the caveat of any order-sensitive
    streaming state machine; a production deployment feeds it from a
    per-user-ordered source or accepts resequencing at the boundary.

    On a batch frame this routes to the same applyInPandas kernel
    without state (one group = whole history) for differential
    testing.
    """
    import pandas as pd

    def _advance(pdf, n_events, n_sessions, last_us):
        pdf = pdf.sort_values(["ts", "event_id"])
        us = (pdf["ts"].astype("int64") // 1000).to_numpy()
        seq, ses = [], []
        gap_us = gap_seconds * 1_000_000
        for t in us:
            n_events += 1
            if last_us is None or t - last_us > gap_us:
                n_sessions += 1
            last_us = int(t)
            seq.append(n_events)
            ses.append(n_sessions)
        out = pd.DataFrame({
            "event_id": pdf["event_id"].to_numpy(),
            "user_id": pdf["user_id"].to_numpy(),
            "seq_no": seq,
            "session_no": ses,
        })
        return out, n_events, n_sessions, last_us

    if events.isStreaming:
        from pyspark.sql.streaming.state import (
            GroupState, GroupStateTimeout)

        def with_state(key, pdf_iter, state: GroupState):
            if state.exists:
                n_events, n_sessions, last_us = state.get
            else:
                n_events, n_sessions, last_us = 0, 0, None
            for pdf in pdf_iter:
                out, n_events, n_sessions, last_us = _advance(
                    pdf, n_events, n_sessions, last_us)
                yield out
            state.update((n_events, n_sessions,
                          -1 if last_us is None else last_us))

        return (
            events.groupBy("user_id").applyInPandasWithState(
                with_state, RUNNING_STATS_SCHEMA, _RUNNING_STATE_SCHEMA,
                "append", GroupStateTimeout.NoTimeout)
        )

    def batch_kernel(pdf):
        out, *_ = _advance(pdf, 0, 0, None)
        return out

    return events.groupBy("user_id").applyInPandas(
        batch_kernel, RUNNING_STATS_SCHEMA)


def upsert_stream_to_parquet(stream_df: DataFrame, path: str,
                             keys: list[str], order_col: str,
                             checkpoint_dir: str):
    """Streaming CDC upsert sink (the lakehouse MERGE pattern via
    foreachBatch): each micro-batch keeps its freshest record per key
    (max order_col), then merges into the parquet snapshot at `path` —
    existing keys are replaced, new keys appended, untouched keys
    carried over. The merge writes to a temp directory and swaps, so
    a crashed batch never leaves a half-written snapshot, and the
    stream checkpoint makes redelivery idempotent (the merge is a
    deterministic function of (snapshot, batch)).

    On a real cluster the swap step is what a table format (Delta/
    Iceberg/Hudi) replaces with a metadata commit — the merge PLAN
    (anti-join + union on the key) is identical; only the atomic-
    publish mechanism differs. Returns the started StreamingQuery
    (availableNow trigger — drains what exists, then stops).
    """
    import os
    import shutil

    from pyspark.sql import Window

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.columns:
            return
        spark = batch_df.sparkSession
        tmp = path + ".__tmp__"
        old = path + ".__old__"
        # Crash recovery (ADVICE r3): the swap below is two renames,
        # so a crash between them leaves no snapshot at `path` while
        # the previous one sits at `old`. Restore it BEFORE merging —
        # otherwise checkpoint redelivery would rebuild from the batch
        # alone and silently drop every previously merged key. Stale
        # tmp/old from any other crash point are dead and removed.
        if not os.path.exists(path) and os.path.exists(old):
            os.rename(old, path)
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
        # Per-key latest: order_col desc, ties broken by a content
        # hash of the full row — keys are constant within the window
        # partition, so without the hash equal-order_col ties would
        # resolve nondeterministically across redeliveries, breaking
        # the claimed deterministic merge (ADVICE r3).
        w = Window.partitionBy(*keys).orderBy(
            F.col(order_col).desc(),
            F.xxhash64(*[F.col(c) for c in batch_df.columns]).asc())
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn")
        )
        if os.path.exists(path):
            cur = spark.read.parquet(path)
            merged = cur.join(latest.select(*keys), on=keys,
                              how="left_anti").unionByName(latest)
        else:
            merged = latest
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)

    return (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def lsh_ingest_stream(stream_docs: DataFrame, table_prefix: str,
                      store_path: str, pairs_path: str,
                      checkpoint_dir: str,
                      id_col: str = "doc_id", text_col: str = "text",
                      jaccard_threshold: float = 0.8,
                      num_hashes: int = 64, bands: int = 16,
                      shingle_k: int = 3, num_buckets: int = 8,
                      compact_every: int | None = None,
                      max_prune_values: int = 2048):
    """Streaming twin of the LSH probe-then-ingest loop (r11,
    VERDICT r10 stretch #10): each micro-batch of documents is
    probed against the PERSISTED index for near-dups vs everything
    ingested before it, the pairs land in a parquet sink partitioned
    by batch, and the batch then appends into the index — the
    continuous-curation loop a 100 TB training pipeline runs on
    arriving data, with the same O(batch) per-step cost as the batch
    API (`dedup.lsh_store_probe` + append).

    Crash recovery follows the CDC-sink pattern
    (`upsert_stream_to_parquet`), adapted to an APPEND-mode store:

      * the pairs sink writes per-batch PARTITIONS under dynamic
        partition overwrite, so a redelivered batch overwrites its
        own partition instead of duplicating rows;
      * the store append is `append_to_lsh_store_idempotent` — each
        index table anti-joins the batch ids it already holds, so
        redelivery (or a crash between the two table appends)
        converges to the same final store;
      * pairs materialize BEFORE the append (the probe must see the
        pre-batch corpus); a crash between them redelivers into an
        identical pairs overwrite plus the pending append. After a
        COMPLETED append, a redelivered batch is detected (no fresh
        ids) and skipped entirely, leaving the already-written pairs
        partition intact. A partially-appended batch (bands yes,
        sets no) re-probes correctly too: batch-vs-itself candidates
        from the half-ingested bands rows die in the exact verify
        join, whose inner join on the sets table cannot see them.

    The FIRST batch bootstraps the store (`build_lsh_store` at
    ``store_path``) — there is no earlier corpus, so it emits no
    pairs; within-batch duplicates are never mined by this loop (the
    one-shot miner's job — run `minhash_candidate_pairs` on a batch
    first if intra-batch dups matter). Until some batch emits its
    first pair the sink directory holds no parquet footers, so read
    it with an explicit schema —
    ``spark.read.schema("new_id long, corpus_id long, jaccard "
    "double, batch_id long").parquet(pairs_path)`` — or gate on
    existence; a bare ``spark.read.parquet`` cannot infer a schema
    from an all-empty sink. ``compact_every=N`` runs the
    bucket-aware compaction after every N-th batch, so a long-lived
    loop keeps its per-bucket file count bounded (the SCALE.md
    cadence) instead of accruing one file set per append. Parity
    with the batch API —
    stream-ingested store == batch-built store, pairs == the batch
    replay's — is pinned in tests/test_lsh_ingest_stream.py.

    Returns the started StreamingQuery (availableNow trigger).
    """
    from pudl_spark.functions.dedup import (
        append_to_lsh_store_idempotent, build_lsh_store,
        lsh_store_probe,
    )

    sig = {"num_hashes": num_hashes, "bands": bands,
           "shingle_k": shingle_k}

    def _probe_then_ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Reuse pin (not A/B'd): the count, the bootstrap build, the
        # id collect and fresh all read the micro-batch.
        batch = batch_df.localCheckpoint()
        if batch.count() == 0:
            return
        # Bootstrap gate on BOTH tables (r16; the build's two writes
        # run concurrently since r16 — and the r15 single-pass swap
        # had already flipped the write order under this gate's old
        # "sets is written last" assumption, leaving a crash between
        # the bootstrap's writes able to strand sets-without-bands
        # and route every redelivery into a probe that throws on the
        # missing bands table forever). Requiring both tables, a
        # partial bootstrap — EITHER table missing — re-enters the
        # build, which drops the leftovers and rebuilds cleanly.
        if not (spark.catalog.tableExists(f"{table_prefix}_sets")
                and spark.catalog.tableExists(f"{table_prefix}_bands")):
            build_lsh_store(spark, batch, id_col, text_col,
                            table_prefix, store_path,
                            num_buckets=num_buckets, **sig)
            return
        # A previous run may have died INSIDE a compaction publish
        # step; complete the swap before any store read, or the
        # guard/probe would see a half-swapped table. UNCONDITIONAL
        # (r11 self-review #3): the crash may have happened under a
        # previous run's compact_every even if this run disables it.
        # No-op cost when clean: one catalog lookup + fs.exists per
        # table — and this is the ONE recovery check of the batch:
        # the probe and append below pass recover=False (r11 review:
        # they were re-running it, 6 catalog round-trips per batch).
        from pudl_spark.operators.layout import (
            recover_pending_compaction,
        )

        for t in (f"{table_prefix}_bands", f"{table_prefix}_sets"):
            recover_pending_compaction(spark, t)
        # Fully-redelivered batch (crash after append, before the
        # checkpoint commit): every id is already in the sets table
        # -> skip, keeping the first delivery's pairs partition.
        # Small batches push their ids into the id-sorted sets scan
        # as an In() predicate (bounded collect, same regime gate as
        # the guards), so this per-batch check reads O(batch) index
        # bytes, not the corpus.
        ids = [r[0] for r in batch.select(id_col).distinct()
               .limit(max_prune_values + 1).collect()]
        store_sets = spark.table(f"{table_prefix}_sets").select("id")
        if len(ids) <= max_prune_values:
            store_sets = store_sets.filter(in_list("id", sorted(ids)))
        # Reuse pin (not A/B'd): the count, the probe and the append
        # read fresh; the append's sets rows materialize before it
        # writes _sets, so fresh is never re-read after a write.
        fresh = batch.join(
            store_sets.select(F.col("id").alias(id_col)).distinct(),
            id_col, "left_anti").localCheckpoint()
        nf = fresh.count()
        if nf == 0:
            return
        pairs = lsh_store_probe(spark, table_prefix, fresh, id_col,
                                text_col,
                                jaccard_threshold=jaccard_threshold,
                                batch_rows=nf,
                                max_prune_values=max_prune_values,
                                recover=False, **sig)
        # Per-WRITE dynamic overwrite (not spark.conf.set, which
        # would leak dynamic semantics into every later partitioned
        # overwrite in the session): only this batch's partition is
        # replaced on redelivery.
        (pairs.withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id")
         .parquet(pairs_path))
        # fresh is already checkpointed and already sets-guarded —
        # only the bands guard remains (covers the crash window
        # between the two table appends), so the hot path pays one
        # guard scan per table total, not two.
        # `ids` (the whole batch's ids) is a valid SUPERSET prune
        # list for fresh's bands guard — a superset In() filter
        # cannot change an anti-join result — so the append never
        # re-collects (r11 self-review #3).
        append_to_lsh_store_idempotent(spark, table_prefix, fresh,
                                       id_col, text_col,
                                       num_buckets=num_buckets,
                                       max_prune_values=max_prune_values,
                                       guard_tables=("_bands",),
                                       prune_ids=ids, recover=False,
                                       **sig)
        # Periodic bucket-aware compaction (``compact_every``): each
        # append leaves up to num_buckets new files, so a long-lived
        # ingest loop self-heals its file counts on the SCALE.md
        # cadence instead of degrading until an operator notices.
        # Single-writer by construction (this foreachBatch IS the
        # only store writer); a production deployment swaps the
        # file-swap publish for a table-format commit.
        if compact_every and (batch_id + 1) % compact_every == 0:
            from pudl_spark.operators.layout import (
                compact_bucketed_table,
            )

            for t in (f"{table_prefix}_bands", f"{table_prefix}_sets"):
                compact_bucketed_table(spark, t)

    return (stream_docs.writeStream.foreachBatch(_probe_then_ingest)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def ivf_ingest_stream(stream_vecs: DataFrame, table_name: str,
                      store_path: str, matches_path: str,
                      checkpoint_dir: str,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      k: int = 3, min_score: float | None = None,
                      num_buckets: int = 8, nprobe: int = 2,
                      centroid_factor: float = 2.0,
                      compact_every: int | None = None,
                      max_prune_values: int = 2048):
    """IVF twin of `lsh_ingest_stream` (r11): the embedding-side
    probe-then-ingest loop. Each micro-batch of vectors ANN-probes
    the persisted cell-bucketed store for its nearest previously-
    ingested neighbors (`similarity.ivf_store_topk`; optionally
    thresholded at ``min_score`` for SemDeDup-style near-duplicate
    flagging), the matches land in a parquet sink partitioned by
    batch, and the batch then appends into the store — per-batch
    work O(batch) on both halves (sidecar-derived centroids, In()-
    pruned candidate fetch, cell-pruned idempotent append guard).

    Crash recovery mirrors the LSH loop: per-batch partitions under
    per-write dynamic overwrite; the batch appends only the rows that
    `antijoin_store_ids` (the guard `append_to_ivf_store_idempotent`
    runs) finds new, so redelivered appends converge (the guard reads
    only the batch's own assigned cells — deterministic across
    redeliveries — never the corpus); fully-redelivered batches are
    detected by the same lookup and skipped, leaving their matches
    partition intact. The FIRST batch bootstraps via
    `build_ivf_store` (gated on BOTH store tables existing — the
    build's writes are concurrent — so a bootstrap crash that left
    either table alone re-enters the build).
    Note the IVF caveat the batch API documents: the seed set
    freezes at bootstrap, so stream-built == batch-replay exactly
    (pinned in tests/test_ivf_ingest_stream.py), while equivalence
    to a one-shot build over ALL the data additionally needs the
    later batches to contribute no seed-eligible rows. Like the LSH
    pairs sink, read an all-empty matches sink with an explicit
    schema; like the LSH loop, ``compact_every=N`` runs the
    bucket-aware compaction every N batches to bound the store's
    file count. Returns the started StreamingQuery (availableNow).
    """
    from pudl_spark.functions.similarity import (
        _append_store_rows, _assign_to_store_cells, antijoin_store_ids,
        build_ivf_store, ivf_store_topk,
    )

    def _probe_then_ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Reuse pin (not A/B'd): the count, the bootstrap build and the
        # cell assignment read the micro-batch.
        batch = (batch_df.select(F.col(id_col).alias("vec_id"),
                                 F.col(vec_col).alias("embedding"))
                 .localCheckpoint())
        n = batch.count()
        if n == 0:
            return
        # Bootstrap gate on BOTH tables (r16: the build's store and
        # sidecar writes run concurrently, so neither is "written
        # last" — a partial bootstrap re-enters the build, which
        # drops the leftovers and rebuilds cleanly).
        if not (spark.catalog.tableExists(f"{table_name}_seeds")
                and spark.catalog.tableExists(table_name)):
            build_ivf_store(spark, batch, table_name, store_path,
                            num_buckets=num_buckets, nprobe=nprobe,
                            centroid_factor=centroid_factor)
            return
        # A stream can attach to a PRE-EXISTING store: assert its
        # build parameters ONCE per batch, before assigning/probing/
        # appending under ours (VERDICT r10 #4; the probe and append
        # below skip their own asserts via assert_params=False).
        from pudl_spark.sources.files import assert_build_params_match

        assert_build_params_match(
            spark, f"{table_name}_seeds",
            {"nprobe": nprobe, "centroid_factor": centroid_factor,
             "num_buckets": num_buckets}, "ivf_ingest_stream")
        # Complete any half-published compaction swap before reading
        # the store (same rationale as the LSH loop; unconditional —
        # a previous run may have compacted even if this one does
        # not). The ONE recovery check of the batch: the probe and
        # append below pass recover=False.
        from pudl_spark.operators.layout import (
            recover_pending_compaction,
        )

        recover_pending_compaction(spark, table_name)
        # Fully-redelivered batch: every vec_id already in the store
        # (checked cell-pruned, O(batch cells' members)) -> skip.
        # `antijoin_store_ids` is the SAME guard block the idempotent
        # append uses. Reuse pin on rows: the guard's cell collect and
        # the anti-join read them (ivf_stream_matches 9.87 s unpinned
        # vs 8.06 s at sf0.1). Reuse pin on fresh (not A/B'd): the
        # count, the probe and the append read it.
        rows = _assign_to_store_cells(spark, table_name, batch,
                                      nprobe, centroid_factor
                                      ).localCheckpoint()
        fresh = antijoin_store_ids(spark, table_name, rows,
                                   max_prune_values).localCheckpoint()
        nf = fresh.count()
        if nf == 0:
            return
        q = fresh.select(F.col("vec_id").alias("query_id"),
                         "embedding")
        matches = ivf_store_topk(spark, table_name, q, k=k,
                                 nprobe=nprobe,
                                 centroid_factor=centroid_factor,
                                 batch_rows=nf,
                                 max_prune_values=max_prune_values,
                                 assert_params=False, recover=False)
        if min_score is not None:
            matches = matches.filter(F.col("score") >= min_score)
        (matches.withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id")
         .parquet(matches_path))
        # fresh is assigned and id-guarded, and recovery ran above:
        # the append is the bare bucketed write.
        _append_store_rows(fresh, table_name, num_buckets,
                           recover=False)
        # Periodic bucket-aware compaction, same contract as the LSH
        # loop (the seeds sidecar never grows on append — only the
        # store table needs it).
        if compact_every and (batch_id + 1) % compact_every == 0:
            from pudl_spark.operators.layout import (
                compact_bucketed_table,
            )

            compact_bucketed_table(spark, table_name)

    return (stream_vecs.writeStream.foreachBatch(_probe_then_ingest)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
