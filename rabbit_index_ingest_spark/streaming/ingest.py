"""Streaming ingest (reference A1/A15/A16/A17/A18, SURVEY.md §2.1).

The reference runs a blocking RabbitMQ consume loop with prefetch_count=1,
manual acks, a reconnect-forever loop and a late-data sleep
(queue_handler.py:112-241, index_updaters/base.py:83-100). The Spark-native
equivalents, implemented here over Structured Streaming:

* consume loop          → ``readStream`` micro-batches (file source here;
                          on a cluster the same code binds to Kafka —
                          the source is a parameter, the plan is identical)
* prefetch backpressure → ``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``
* manual ack / at-least-once → ``checkpointLocation`` + idempotent
                          MERGE-style sink (content-derived keys) ⇒
                          effectively exactly-once
* late-data wait (60 s sleep)  → ``withWatermark`` (bounded wait, then
                          proceed — same contract, no sleeping executor)
* periodic dimension refresh → dimension re-resolved inside each
                          ``foreachBatch`` (broadcast joins re-plan per
                          micro-batch)
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import TRANSCRIPT_SCHEMA


def read_transcript_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream of transcript turns (one parquet drop = one
    micro-batch; the backpressure knob mirrors prefetch_count)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def windowed_turn_counts(stream: DataFrame, watermark: str = "5 minutes") -> DataFrame:
    """Watermarked per-conversation windowed aggregation — the late-data
    contract (A17): arrivals later than the watermark are dropped, not
    waited on with sleeps."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute"), F.col("conv_id"))
        .agg(F.count("*").alias("n_turns"))
    )


def dedup_stream(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup — the Structured-Streaming twin of
    ``operators.dedup.exact_dedup`` (same content key: ``md5(lower(text))``),
    built on ``dropDuplicatesWithinWatermark``: the FIRST arrival of each
    distinct content passes, later copies are dropped as long as they
    arrive within the event-time watermark of the original.

    State bound (why this survives 10^12 turns where a plain
    ``dropDuplicates`` would not): the state store keeps one row per
    distinct content hash seen within the watermark HORIZON only — expired
    keys are evicted each trigger, so state is O(dedup-window throughput),
    not O(corpus). The trade, documented against the batch twin: a
    duplicate arriving LATER than the watermark re-passes (its state row
    is gone); the batch operator is the exact ground truth, and the two
    agree whenever duplicates arrive within the watermark (test-asserted).
    Compose ahead of ``start_incremental_index`` so re-published messages
    never become index segments — and note the index's doc_as_upsert
    already makes any survivor idempotent by key, so a watermark-escapee
    degrades to a harmless re-upsert, not a duplicate doc."""
    h = F.md5(F.lower(F.col(text_col)))
    return (
        stream.withColumn("_content_hash", h)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_content_hash"])
        .drop("_content_hash")
    )


def start_incremental_index(
    stream: DataFrame,
    store_root: str,
    checkpoint_dir: str,
    upsert_fn: Callable[[SparkSession, str, DataFrame], None] | None = None,
):
    """foreachBatch incremental indexing: each micro-batch is upserted as a
    new index segment (IndexStore.upsert — doc_as_upsert semantics).
    checkpointLocation gives the at-least-once replay cursor; deterministic
    doc keys make replays idempotent (the A15 ack analogue). An empty
    micro-batch adds no segment: ``upsert`` returns -1 for it, and the
    first batch's build is saved only when it holds a doc — so no batch
    pays a separate emptiness job (a custom ``upsert_fn`` still gets
    non-empty batches only)."""
    from ..index.store import IndexStore, _job_description

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if upsert_fn is not None:
            if not batch_df.isEmpty():
                upsert_fn(spark, store_root, batch_df)
            return
        store = IndexStore(spark, store_root)
        turns = batch_df.select("conv_id", "turn_idx", "text")
        if store.segments():
            store.upsert(turns)
            return
        from ..index.build import build_index

        with _job_description(spark, "build seg=0"):
            built = build_index(spark, turns)
        if built.n_docs == 0:
            built.release()
            return
        store.save(built, segment=0)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_enriched_ingest(
    stream: DataFrame,
    dim_loader: Callable[[SparkSession], DataFrame],
    out_dir: str,
    checkpoint_dir: str,
    join_key: str = "conv_id",
):
    """Periodic dimension refresh (reference A18: if the catalogue mapping
    is older than refresh_interval, re-download it —
    index_updaters/base.py:64-81, path_tools.py:237-247).

    Structured Streaming analogue: ``dim_loader`` runs INSIDE foreachBatch,
    so the dimension is re-resolved on every micro-batch — a changed
    dimension file/table is picked up at the next trigger and the
    broadcast hash left-join re-plans with fresh data. The refresh
    interval is the trigger interval; no timer state to manage and no
    stale broadcast can outlive one batch.

    Sink idempotence (the module-header exactly-once contract): the
    output is partitioned by ``batch_id`` and each micro-batch
    dynamically OVERWRITES its own partition — if a failure lands
    between the write and the checkpoint commit, the replayed batch
    rewrites the same partition instead of appending duplicate rows
    (a bare ``mode("append")`` would double every row on replay)."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        dim = dim_loader(spark)
        out = batch_df.join(F.broadcast(dim), join_key, "left").withColumn(
            "batch_id", F.lit(batch_id)
        )
        # a per-write option, not a session conf flip: concurrent queries
        # on the session never see the mode change
        out.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("batch_id").parquet(out_dir)

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long"
)


def streaming_sessionize(
    stream: DataFrame,
    gap_s: int = 1800,
    watermark: str = "10 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Stateful streaming sessionization — the Structured-Streaming twin
    of ``operators.analytics.sessionize`` via ``applyInPandasWithState``
    (the custom-stateful-operator escape hatch; Arrow-batched, one state
    row per user).

    Contract: a finalized session row ``(user, start, end, n_events)``
    is emitted when (a) a same-user event arrives more than ``gap_s``
    seconds after the open session's end — the old session closes and a
    new one opens — or (b) the event-time WATERMARK passes
    ``session_end + gap_s`` (EventTimeTimeout), which finalizes an open
    session no new event can legally extend. State per user is three
    int64s (start/end micros + count), so 10^9 users is ~24 GB of state
    across the cluster — state-store-friendly.

    Exactness caveat (the standard streaming-sessionization trade,
    documented against the batch twin): an event that is late WITHIN the
    watermark but belongs to a session already closed by rule (a) starts
    a NEW session rather than reopening the closed one; the batch
    operator is the exact-ground-truth path and the two agree whenever
    per-user event time is monotone across micro-batches (test-asserted).
    Gap arithmetic is integer microseconds — identical to the batch twin.
    """
    import pandas as pd

    gap_us = int(gap_s) * 1_000_000

    def fn(key, pdfs, state):
        user = int(key[0])

        def finalize(start_us: int, end_us: int, n: int) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [user],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(end_us, unit="us")],
                    "n_events": [n],
                }
            )

        if state.hasTimedOut:
            start, end, n = state.get
            state.remove()
            yield finalize(start, end, n)
            return
        ts_parts = [
            pdf[ts_col].dropna().astype("datetime64[us]").astype("int64")
            for pdf in pdfs
        ]
        ts = pd.concat(ts_parts).sort_values().to_numpy()
        if not len(ts):
            return
        if state.exists:
            start, end, n = state.get
        else:
            start, end, n = 0, 0, 0
        for t in ts:  # per-user per-batch event counts are small
            t = int(t)
            if n and t - end > gap_us:
                yield finalize(start, end, n)
                n = 0
            if n == 0:
                start = end = t
            else:
                # a late-within-watermark event may precede the open
                # session's start; it still belongs (gap <= budget)
                start = min(start, t)
                end = max(end, t)
            n += 1
        state.update((start, end, n))
        # finalize via event-time timeout once no event can extend us
        state.setTimeoutTimestamp((end + gap_us) // 1000 + 1)

    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(user_col))
        .applyInPandasWithState(
            fn,
            SESSION_OUT_SCHEMA,
            "start long, end long, n long",
            "update",
            "EventTimeTimeout",
        )
    )
