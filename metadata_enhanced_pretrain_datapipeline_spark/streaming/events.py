"""Streaming window aggregations over an events stream.

The reference has no streaming (SURVEY.md §2.11 — its incremental model is
batch re-run with completed-task skipping, slurm_nodes.py:105,257-263).
This module is the clearly-labeled extension: the SAME window expressions
as the batch operator (operators/aggregates.tumbling_window_agg) run under
readStream with a watermark, so batch and stream results agree on closed
windows — the property the batch/stream parity test asserts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_events_from_parquet(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """File-source stream over a parquet directory (one file = one
    micro-batch increment; at scale this is the landing-zone pattern)."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def windowed_counts(events: DataFrame, ts_col: str = "ts",
                    key: str = "event_type", duration: str = "1 hour",
                    watermark: str = "2 hours",
                    aggs: list | None = None) -> DataFrame:
    """Tumbling-window aggregation with late-data handling.

    ``aggs``: aliased aggregate Columns, like the batch operator's
    (tumbling_window_agg) — defaulting to the count + value-sum pair the
    events table uses, so streams without a ``value`` column can pass
    their own instead of hitting an UNRESOLVED_COLUMN surprise.

    The watermark bounds state: closed windows are emitted and dropped, so
    state size is O(open windows × keys), independent of stream length —
    the property that makes this run forever at 100 TB/day.
    """
    if aggs is None:
        aggs = [F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")]
    agged = (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), duration).alias("w"), key)
        .agg(*aggs)
    )
    rest = [c for c in agged.columns if c not in ("w", key)]
    return agged.select(F.col("w.start").alias("window_start"), key, *rest)


def run_available_now(stream_df: DataFrame, out_path: str, checkpoint: str) -> None:
    """Drain everything currently available and stop (availableNow trigger).
    Append mode: only watermark-closed windows are emitted — trailing open
    windows stay in state, as they must on an unbounded stream."""
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def drain_complete_to_memory(stream_df: DataFrame, table: str) -> None:
    """Batch-parity harness: complete-mode drain into an in-memory table —
    emits EVERY window including ones the watermark hasn't closed, so a
    finite input can be compared 1:1 against the batch operator."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_sessionize(events: DataFrame, ts_col: str = "ts",
                         key_col: str = "user_id", gap_seconds: int = 1800,
                         watermark: str = "2 hours") -> DataFrame:
    """Custom stateful streaming operator: per-key session aggregation via
    applyInPandasWithState — the engine's answer to operators Spark's
    built-ins can't express (arbitrary per-key state machines).

    State = the open session (start, last_ts, n). A micro-batch folds its
    rows into the state; sessions whose gap closed are emitted; state is
    dropped when the watermark passes (bounded memory on unbounded input).
    Emits (user_id, session_start, n_events) for CLOSED sessions.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key_type = dict(events.dtypes)[key_col]  # don't hardcode long: string/int keys work too
    out_schema = f"{key_col} {key_type}, session_start timestamp, n_events long"
    state_schema = "start long, last long, n long"
    gap_us = gap_seconds * 1_000_000

    def fold(key, pdfs, state: GroupState):
        closed = []
        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                closed.append((key[0], pd.Timestamp(start, unit="us"), n))
                state.remove()
        else:
            rows = pd.concat(list(pdfs))
            rows = rows.sort_values(ts_col)
            if state.exists:
                start, last, n = state.get
            else:
                start = last = None
                n = 0
            for t in rows[ts_col]:
                us = int(t.value // 1000)  # pandas ns -> µs
                if start is None:
                    start, last, n = us, us, 1
                elif us - last > gap_us:
                    closed.append((key[0], pd.Timestamp(start, unit="us"), n))
                    start, last, n = us, us, 1
                elif us < start - gap_us:
                    # late row earlier than the open session can merge with
                    # (still >= watermark or Spark would have dropped it):
                    # it is its own already-closed session — emit directly
                    closed.append((key[0], pd.Timestamp(us, unit="us"), 1))
                else:
                    # in-gap row, possibly LATE: extend the open session in
                    # both directions — moving `last` backward (or leaving
                    # `start` fixed) would corrupt the gap arithmetic for
                    # subsequent rows
                    start = min(start, us)
                    last = max(last, us)
                    n += 1
            if start is not None:
                state.update((start, last, n))
                state.setTimeoutTimestamp(last // 1000 + gap_seconds * 1000)
        yield pd.DataFrame(closed, columns=[key_col, "session_start", "n_events"])

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fold, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def streaming_dedup(events: DataFrame, key_cols: list[str],
                    ts_col: str = "ts", watermark: str = "2 hours") -> DataFrame:
    """Streaming exact deduplication: first arrival per (key, event-time)
    wins, with watermark-bounded seen-key state (dropDuplicates on an
    unwatermarked stream would grow state forever — the same reason batch
    seen-sets don't scale; the watermark makes this the streaming twin of
    dedup.dedup_exact).

    NOTE the exact semantics: because the event-time column participates
    in the dedup subset (required for state expiry, below), only exact
    (key, ts) redeliveries are suppressed — rows with the same key but
    DIFFERENT event times (e.g. retries that stamp a fresh timestamp) are
    all kept. Callers needing true per-key suppression within the horizon
    want :func:`streaming_dedup_within_watermark` instead.

    The event-time column is APPENDED to the key set if the caller left
    it out — Spark only expires dropDuplicates state when the watermark
    column is part of the dedup subset, so omitting it would grow the
    seen-key state forever (the exact failure this operator exists to
    prevent). With it, keys older than the watermark are dropped,
    bounding memory to the horizon regardless of stream length;
    re-delivered rows inside the horizon (the at-least-once source case)
    are suppressed.
    """
    keys = list(key_cols) if ts_col in key_cols else [*key_cols, ts_col]
    return events.withWatermark(ts_col, watermark).dropDuplicates(keys)


def streaming_dedup_within_watermark(events: DataFrame, key_cols: list[str],
                                     ts_col: str = "ts",
                                     watermark: str = "10 minutes") -> DataFrame:
    """dropDuplicatesWithinWatermark variant: deduplicates keys whose
    arrivals fall within the watermark delay of the FIRST arrival even
    when their event times differ (the at-least-once-with-jitter case
    where retries carry fresh timestamps — plain dropDuplicates would
    treat each retry as new)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def stream_static_enrich(stream_df: DataFrame, dim: DataFrame,
                         on, how: str = "inner") -> DataFrame:
    """Stream-static join: enrich a stream with a batch dimension.

    Stateless on the stream side — Spark re-resolves the static relation
    per micro-batch and broadcasts it when it fits, so no state store,
    no watermark, and (for a broadcastable dim) no shuffle of the
    stream. This is the streaming twin of the batch broadcast-lookup
    join and the shape for 'attach account/domain/source metadata to an
    event firehose' at any scale. The dim is deliberately NOT hinted
    with F.broadcast: a too-big dimension must be able to fall back to a
    per-batch shuffled join instead of dying in a driver-side broadcast
    build (the same mis-broadcast class range_join/salted_join pin
    against).
    """
    return stream_df.join(dim, on, how)


def stream_stream_interval_join(left: DataFrame, right: DataFrame,
                                left_key: str, right_key: str,
                                left_ts: str, right_ts: str,
                                max_delay: str = "1 hour",
                                watermark: str = "2 hours") -> DataFrame:
    """Stream-stream INNER interval join: pair each left event with the
    right events of the same key arriving in ``(left_ts, left_ts +
    max_delay]`` — the attribution shape (click -> purchase within an
    hour) that a self-join over a firehose needs.

    Both sides carry watermarks and the join condition bounds right_ts
    relative to left_ts, which is what lets Spark EXPIRE buffered state:
    a left row older than watermark+max_delay can never match again and
    is evicted; without the time bound the state store grows with the
    stream (the scale failure this wrapper's signature makes
    unrepresentable). Inner-join emissions are exact, so the batch twin
    (plain BETWEEN join) is a value-level oracle.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[left_key] == rw[right_key])
        & (rw[right_ts] > lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {max_delay}"))
    )
    return lw.join(rw, cond, "inner")


def versioned_upsert(base: DataFrame, updates: DataFrame,
                     key_cols: list[str], version_col: str,
                     tiebreak_cols: list[str] | None = None) -> DataFrame:
    """Max-version-wins merge: for every key keep the row with the
    highest version across base ∪ updates.

    Order-independence is scoped: when versions are UNIQUE per key (the
    normal CDC contract), merging batches in any order converges to the
    same table — that is what makes the sink below retry/reorder-safe.
    A version TIE prefers the update side, which IS order-dependent
    across batches; same-(key, version) rows within one side need
    ``tiebreak_cols`` for a deterministic winner (without them
    row_number picks arbitrarily). Enforce unique versions upstream or
    pass a total tiebreak."""
    tagged = base.withColumn("__upd", F.lit(0)).unionByName(
        updates.withColumn("__upd", F.lit(1)))
    from pyspark.sql import Window

    order = [F.desc(version_col), F.desc("__upd")]
    if tiebreak_cols:
        order += [F.desc(c) for c in tiebreak_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__upd")
    )


def foreach_batch_versioned_upsert(stream_df: DataFrame, out_path: str,
                                   checkpoint: str, key_cols: list[str],
                                   version_col: str,
                                   checkpoint_dir: str | None = None) -> None:
    """CDC-style streaming sink: each micro-batch merges into the parquet
    table at ``out_path`` by max-version upsert, drained availableNow.

    The merged frame localCheckpoints, writes to a STAGING dir, then the
    staging dir replaces the table (delete + rename — atomic on a POSIX
    FS; an object store or a crash inside the replace window still needs
    a real table format for full crash atomicity, and at 100 TB the
    overwrite should be partition-aligned dynamic-partition overwrite so
    only touched partitions rewrite — this local sink rewrites the whole
    table and says so). The first batch (and every batch) goes THROUGH
    versioned_upsert against a possibly-empty base, so a batch carrying
    several versions of one key still reduces to one row; only a
    genuinely-missing table path selects the empty base — any other read
    failure propagates instead of silently restarting the table from the
    current batch.
    """
    import os
    import shutil

    from metadata_enhanced_pretrain_datapipeline_spark.checkpointing import materialize

    spark = stream_df.sparkSession

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(out_path):
            base = spark.read.parquet(out_path)
        else:
            base = spark.createDataFrame([], batch_df.schema)
        merged = versioned_upsert(base, batch_df, key_cols, version_col)
        staging = f"{out_path}__staging"
        # the merge reads the CURRENT table and the staging write replaces
        # it — the materialization pins the merged rows BEFORE the table
        # they came from is deleted (reliable mode via checkpoint_dir /
        # MEP_SPARK_CHECKPOINT_DIR survives an executor loss inside that
        # window; see checkpointing.py)
        materialize(merged, checkpoint_dir).write.mode("overwrite").parquet(staging)
        if os.path.exists(out_path):
            shutil.rmtree(out_path)
        os.rename(staging, out_path)

    q = (
        stream_df.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def widen_micro_batch(batch_df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Widen a foreachBatch frame before per-row CPU (r13).

    A micro-batch's scan width is the TRIGGER's file budget, not the
    corpus width — under ``maxFilesPerTrigger=1`` the whole batch is ONE
    task, and ``ensure_min_partitions`` cannot see it (a foreachBatch
    frame reports no ``inputFiles()``, so the helper assumes the
    session's shuffle width; measured: the batch actually runs with 1
    partition). The store-append sinks' projections are exactly the
    per-row CPU the batch operators widen for (winnow gram/window
    chains, image decode, interpreted quantize+assign), so a serial
    micro-batch pays the whole decode on one core.

    One round-robin exchange of the batch payload is the price; a
    micro-batch is trigger-budget-bounded by construction, so the
    shuffle is small next to the CPU it parallelizes (guide §8: move
    the bytes once, then burn CPU wide). Every batch is widened: its
    scan partition count measures bytes, not rows (a one-row-group file
    split into byte ranges reports several partitions, one holding all
    the rows), so it cannot tell a wide batch from a serial one.

    Scope (r13, measured): widen JVM-CODEGEN chains only (winnowing,
    shingle+minhash — ~25-40% off the drain at sf0.1). Python-stage
    sinks (image decode) got ~0.7s SLOWER widened: 32 Arrow-worker
    round-trips cost more than the milliseconds of decode each saves
    on a small batch; and widening before a ``partitionBy`` append
    multiplies the file count by task width. Those sinks stay unwidened
    with the reasoning inline.
    """
    return batch_df.repartition(
        min_parts or batch_df.sparkSession.sparkContext.defaultParallelism)


def stream_append_ivf_quantized_store(stream_df: DataFrame, path: str,
                                      centroids: list[list[float]],
                                      checkpoint: str,
                                      id_col: str = "vec_id",
                                      vec_col: str = "embedding") -> None:
    """Continuous ANN-store ingestion: embeddings arrive as a stream and
    every micro-batch is quantized, list-assigned and APPENDED into the
    same IVF-partitioned int8 layout the batch writer builds
    (:func:`~metadata_enhanced_pretrain_datapipeline_spark.operators.similarity.write_ivf_quantized_store`
    — both run the shared ``ivf_quantized_codes`` projection, so
    stream-appended and batch-built rows are byte-compatible: same
    codes, same directories, same codebook stamp, and the standard
    ``ivf_quantized_topk`` probe prunes the combined store exactly the
    same way). Drained availableNow here; a production run uses a
    processing-time trigger.

    The transformation is a stateless codegen projection (no watermark,
    no state store — nothing grows with the corpus), so the sink is a
    plain per-batch partitioned append: each batch adds files under the
    ``list_id=`` directories it touches. Compaction of the accumulating
    small files is the existing lifecycle operator
    (``compact_ivf_quantized_store`` — latest-wins also heals a vector
    re-embedded across batches).

    DELIVERY: the append sink is AT-LEAST-ONCE, not exactly-once — a
    micro-batch retried after a partial write appends its rows again,
    and a duplicated ``vec_id`` can then occupy multiple top-k slots in
    probes. This is deliberate: an idempotent per-batch subdirectory
    (the ``foreach_batch_versioned_upsert`` trick) would put a second
    partition level in the layout and break parquet partition discovery
    against a batch-built store at the same root, which is the whole
    byte-compatibility contract. The healer is the existing lifecycle
    op: ``compact_ivf_quantized_store`` keeps exactly one (latest) row
    per ``vec_id``, so running compaction — already required for
    small-file hygiene — also collapses any retry duplicates. Probes
    between a retried batch and the next compaction may transiently
    over-represent the retried ids.
    """
    from metadata_enhanced_pretrain_datapipeline_spark.operators.similarity import (
        ivf_quantized_codes,
    )

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        (
            # NOT widened (r13, measured): the post-r12 quantize+assign
            # over a trigger-bounded batch is sub-100ms even single-task,
            # while a 32-wide repartition multiplies the dynamic-
            # partition append's file count by task width (32×lists tiny
            # files per batch) and cost the query ~0.5s in ABBA
            ivf_quantized_codes(batch_df, centroids, id_col, vec_col)
            .write.mode("append").partitionBy("list_id").parquet(path)
        )

    q = (
        stream_df.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_append_image_hash_store(stream_media: DataFrame, path: str,
                                   checkpoint: str, hash_w: int = 8,
                                   hash_h: int = 8, stub: bool = True,
                                   codec_factory=None) -> None:
    """Continuous VISUAL-store ingestion — the image twin of
    :func:`stream_append_ivf_quantized_store`: media blobs arrive as a
    stream, every micro-batch decodes ONCE through
    :func:`~metadata_enhanced_pretrain_datapipeline_spark.operators.multimodal.image_dhash`
    (the shared projection, so stream-appended and batch-built rows are
    byte-compatible) and appends 8-byte ``(media_id, dhash)`` rows to
    the hash store that
    :func:`~metadata_enhanced_pretrain_datapipeline_spark.operators.multimodal.image_dedup_against`
    probes. The monthly-crawl story becomes continuous: blobs are
    hashed as they land and never decoded again; undersized media
    (NULL dhash) are filtered here, matching the batch store builders.

    Stateless per batch (no watermark, no state store). DELIVERY: the
    append sink is at-least-once, and for THIS store that is already
    exact — the probe is membership (NOT EXISTS within a Hamming ball)
    over hashes, so a retry-duplicated (media_id, dhash) row cannot
    change any dedup decision; compaction is small-file hygiene only
    (a plain distinct rewrite), unlike the IVF store where duplicates
    transiently occupy top-k slots."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators.multimodal import image_dhash

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        (
            # NOT widened (r13, measured): image_dhash is a PYTHON stage,
            # and fanning a small batch to 32 tasks pays 32 Arrow-worker
            # round-trips for milliseconds of decode each — ABBA showed
            # the widened drain ~0.7s SLOWER at sf0.1. A deployment whose
            # per-batch decode genuinely dominates (many MB of blobs per
            # trigger) should widen upstream of the sink where the
            # trigger budget is chosen.
            image_dhash(batch_df, hash_w, hash_h, stub, codec_factory)
            .filter(F.col("dhash").isNotNull())
            .select("media_id", "dhash")
            .write.mode("append").parquet(path)
        )

    q = (
        stream_media.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stream_append_winnow_fingerprint_store(stream_docs: DataFrame,
                                           path: str, checkpoint: str,
                                           k: int = 5, window: int = 4,
                                           portable: bool = False) -> None:
    """Continuous TEXT-fingerprint ingestion — the winnowing member of
    the store-ingestion family (bands = stream_store_dedup's band
    store, vectors = :func:`stream_append_ivf_quantized_store`, image
    hashes = :func:`stream_append_image_hash_store`): documents arrive
    as a stream, every micro-batch winnows ONCE through
    :func:`~metadata_enhanced_pretrain_datapipeline_spark.operators.dedup.winnow_fingerprints`
    (the shared projection, so stream-appended and batch-built stores
    are byte-compatible) and appends (doc_id, fp) rows to the
    fingerprint store that
    :func:`~metadata_enhanced_pretrain_datapipeline_spark.operators.dedup.winnow_dedup_against`
    probes. The monthly splice-dedup story becomes continuous: pages
    fingerprint as they land and their text never re-tokenizes.

    Stateless per batch (no watermark, no state store). DELIVERY: the
    append sink is at-least-once, and for THIS store that is already
    exact — the probe DISTINCTs the store's fp values before the
    count-gate join, so a retry-duplicated (doc_id, fp) row cannot
    change any count or decision; compaction is small-file hygiene
    only (the image-hash-store argument, text edition)."""
    from metadata_enhanced_pretrain_datapipeline_spark.operators.dedup import winnow_fingerprints

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        (
            # widen first (r13): the gram/window chain is per-row codegen
            # CPU and an unwidened micro-batch runs it in ONE task
            winnow_fingerprints(widen_micro_batch(batch_df), "doc_id",
                                "text", k, window, portable)
            .select("doc_id", "fp")
            .write.mode("append").parquet(path)
        )

    q = (
        stream_docs.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
