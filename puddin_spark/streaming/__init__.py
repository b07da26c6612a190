"""Structured Streaming ingestion for the quality-filter pipeline.

The reference is pure batch (SURVEY.md section 2.10) — this module is the
graft's continuous-ingestion surface: a file-stream of page parquet drops
(the shape a crawl delivers) processed with the SAME batch pipeline body via
foreachBatch, committing each micro-batch to the SnapshotStore. Resume
semantics compose: the store's url/text-digest anti-joins make reprocessing
idempotent even if a micro-batch is replayed after a crash, and Spark's
checkpointLocation tracks stream progress.

Watermarking note: verdicts are per-document (no event-time aggregation), so
no watermark is required for correctness; `windowed_page_counts` shows the
watermarked-window form for monitoring-style aggregations over warc_ts.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from puddin_spark.snapshots import SnapshotStore, run_resumable_pipeline
from puddin_spark.synth import SPARK_SCHEMA_DDL


def stream_pages(spark: SparkSession, input_dir: str, max_files: int = 8) -> DataFrame:
    """File-stream source of page parquet drops (explicit schema — no
    sampling pass; maxFilesPerTrigger bounds micro-batch size)."""
    return (
        spark.readStream.schema(SPARK_SCHEMA_DDL)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def run_streaming_pipeline(
    spark: SparkSession,
    input_dir: str,
    store: SnapshotStore,
    checkpoint_dir: str,
    *,
    available_now: bool = True,
    **kwargs,
):
    """Continuous ingestion: each micro-batch runs the batch pipeline body
    and commits atomically. Returns the StreamingQuery (caller awaits).
    Every keyword but available_now is forwarded to run_resumable_pipeline
    unchanged, so a stream takes exactly the batch options: near_dedup
    extends the replay-idempotence contract to fuzzy twins (every
    micro-batch dedups against the index of all prior batches), and the
    gates run on every micro-batch. A gate that reads its inputs when
    applied (the CLI's ppl gate reads the LM parquet) sees them fresh per
    micro-batch, so retraining the LM mid-stream takes effect next batch."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        run_resumable_pipeline(spark, batch_df, store, **kwargs)

    writer = (
        stream_pages(spark, input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


SESSION_OUT_DDL = (
    "user_id string, session_start timestamp, session_end timestamp,"
    " n_events bigint"
)
SESSION_STATE_DDL = (
    "starts_us array<bigint>, ends_us array<bigint>, ns array<bigint>"
)


def sessionize_stream(
    events: DataFrame,
    *,
    gap_minutes: int = 30,
    late: str = "10 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming gap-based sessionization — the custom-stateful-operator
    form (applyInPandasWithState) of the batch `events_sessionize` gate.

    State per user = every session not yet FINAL. A session is final — and
    is only then emitted — once the event-time watermark passes its
    last_event + gap: no event the watermark can still admit could extend
    or merge it (a gap observed inside one micro-batch is NOT enough — a
    late event inside the allowed lateness may bridge it). This makes the
    emitted sessions identical to the batch lag->boundary->running-sum
    result for every event the watermark admitted, under ANY micro-batch
    slicing. Merging is interval union (late events that precede the newest
    session merge correctly); events older than the watermark are dropped
    by Spark before the operator sees them.

    Scale shape: state is 24 bytes per not-yet-final session, bounded per
    user by lateness/gap (at most the sessions inside one watermark window
    — typically one); partitioned by user hash, the same shuffle key the
    batch window uses; no per-event state growth.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def _emit(user: str, sessions: list) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [user] * len(sessions),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _ in sessions],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _ in sessions],
                "n_events": [n for _, _, n in sessions],
            }
        )

    def fn(key, pdfs, state: GroupState):
        user = key[0]
        wm_us = state.getCurrentWatermarkMs() * 1000
        intervals = []
        if not state.hasTimedOut:
            for pdf in pdfs:
                ts = pd.to_datetime(pdf[ts_col])
                intervals.extend(
                    [int(t.value) // 1000, int(t.value) // 1000, 1] for t in ts
                )
        if state.exists:
            starts, ends, ns = state.get
            intervals.extend([s, e, n] for s, e, n in zip(starts, ends, ns))
        if not intervals:
            if state.exists:
                state.remove()
            return
        intervals.sort()
        merged = [intervals[0]]
        for iv in intervals[1:]:
            if iv[0] - merged[-1][1] <= gap_us:
                merged[-1][1] = max(merged[-1][1], iv[1])
                merged[-1][2] += iv[2]
            else:
                merged.append(iv)
        final = [s for s in merged if s[1] + gap_us <= wm_us]
        pending = [s for s in merged if s[1] + gap_us > wm_us]
        if pending:
            state.update(
                (
                    [s[0] for s in pending],
                    [s[1] for s in pending],
                    [s[2] for s in pending],
                )
            )
            # wake when the watermark passes the earliest pending close time
            state.setTimeoutTimestamp(min(s[1] for s in pending) // 1000 + gap_us // 1000)
        elif state.exists:
            state.remove()
        if final:
            yield _emit(user, [tuple(s) for s in final])

    return (
        events.withWatermark(ts_col, late)
        .groupBy(F.col(user_col))
        .applyInPandasWithState(
            fn,
            SESSION_OUT_DDL,
            SESSION_STATE_DDL,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def windowed_page_counts(
    pages_stream: DataFrame, window: str = "1 hour", late: str = "2 hours"
) -> DataFrame:
    """Watermarked event-time aggregation over warc_ts (rows later than the
    watermark delay are dropped) — the monitoring-side streaming pattern."""
    return (
        pages_stream.withWatermark("warc_ts", late)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(F.count("*").alias("n_pages"))
        .select("w.start", "w.end", "lang", "n_pages")
    )
