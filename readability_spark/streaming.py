"""Structured Streaming ingestion: extract turns as they land.

The reference is strictly batch (SURVEY.md §2.13: no streaming operators),
and the north rule's 10^12-turn table is static — but a production
transcript pipeline also has an ingest tail, so the engine exposes the
same extraction as a streaming stage:

- ``stream_extract``: file-source readStream → salted extraction (the same
  extract_udf — stateless per turn, so it is trivially streamable) →
  append-mode writeStream with checkpointing.  Exactly-once via the file
  sink's commit log; the batch pipeline's lineage/metrics table remains
  the source of truth for resume.
- ``stream_conversation_stats``: watermarked sliding-window aggregation of
  extraction yields per conversation — the late-data-tolerant rollup a
  monitoring surface wants.
- ``stream_sessionize``: custom stateful operator (applyInPandasWithState,
  per-user GroupState + event-time timeout) — the streaming twin of the
  batch ``ops.relational.sessionize``.
- ``stream_dedup``: watermark-bounded exact dedup
  (dropDuplicatesWithinWatermark on the batch md5 identity) — the ingest
  twin of ``ops.dedup.exact_dedup``; state bounded by distinct payloads
  per horizon, cross-horizon identity stays a batch concern.

Both are thin: the engine's operators are stateless column transforms, so
batch and streaming share all of the actual logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .ops.relational import SESSION_GAP_MIN
from .pipeline import record_cols, salt_col
from .schema import TRANSCRIPT_SCHEMA
from .udfs import extract_udf

MAX_FILES_PER_TRIGGER = 4
STATS_WINDOW = "10 minutes"
STATS_SLIDE = "5 minutes"
STATS_WATERMARK = "15 minutes"
SESSION_WATERMARK = "30 minutes"


def stream_source(spark: SparkSession, path: str) -> DataFrame:
    """File-source readStream over a transcript directory."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(path)
    )


def stream_extract(transcripts: DataFrame, num_buckets: int) -> DataFrame:
    """Streaming extraction: same salt + UDF as the batch path.

    No shuffle is injected here — a streaming repartition would force a
    stateful exchange per microbatch; instead the salt travels as a column
    and the downstream sink partitions on it.  Invalid UTF-8 is repaired
    and marked as in run_extraction (record_cols).
    """
    salted = transcripts.withColumn("bucket_id", salt_col(num_buckets))
    return salted.withColumn(
        "x", extract_udf(F.make_valid_utf8("text"))).select(
        "conv_id", "turn_idx", "bucket_id", "ts",
        *record_cols("x", F.is_valid_utf8("text")))


def stream_conversation_stats(extracted: DataFrame) -> DataFrame:
    """Watermarked windowed rollup: per-window article counts and yields."""
    return (
        extracted.withWatermark("ts", STATS_WATERMARK)
        .groupBy(F.window("ts", STATS_WINDOW, STATS_SLIDE), F.col("conv_id"))
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.when(F.col("page_type") == "article", 1).otherwise(0))
            .alias("n_articles"),
            F.sum("char_yield").alias("sum_char_yield"),
        )
    )


SESSION_OUT_SCHEMA = ("user_id long, session_start timestamp, "
                      "session_end timestamp, n_events long, "
                      "session_value_cents long")
SESSION_STATE_SCHEMA = ("start long, last long, n long, cents long, "
                        "buf_ts array<long>, buf_id array<long>, "
                        "buf_cents array<long>")


def stream_sessionize(events: DataFrame) -> DataFrame:
    """Custom stateful operator: gap-based sessionization over the event
    stream via ``applyInPandasWithState`` — the streaming twin of the batch
    ``ops.relational.sessionize`` (its SESSION_GAP_MIN gap, same per-row
    integer cents), with per-user GroupState.

    Late/disordered data: events may arrive disordered both WITHIN a
    microbatch and ACROSS microbatches, up to the watermark — exactly the
    disorder budget the watermark declares.  Arriving events are buffered
    in state and only folded into sessions once the watermark passes
    STRICTLY beyond their event time — Spark drops only rows strictly
    older than the watermark, so an event AT the watermark can still
    arrive and must keep its buffered same-timestamp peers company one
    more batch (hence the strict-< finalize predicate below).  The
    buffered window is bounded by the watermark delay: per user, state
    holds the open session (four longs) plus at most SESSION_WATERMARK-worth
    of not-yet-finalized events — the standard cost of out-of-order
    correctness, sharded across executors by user.

    Emission (append mode): a session closes when a finalized later event
    falls more than SESSION_GAP_MIN after the previous one, or by
    event-time timeout once the watermark passes last + gap with nothing
    buffered that could extend it.
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_s = SESSION_GAP_MIN * 60
    gap_ms = gap_s * 1000

    def _emit(user_id, start, last, n, cents):
        return pd.DataFrame({
            "user_id": pd.Series([user_id], dtype="int64"),
            "session_start": [pd.Timestamp(start * 1000)],
            "session_end": [pd.Timestamp(last * 1000)],
            "n_events": pd.Series([n], dtype="int64"),
            "session_value_cents": pd.Series([cents], dtype="int64"),
        })

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.exists:
            start, last, n, cents, buf_ts, buf_id, buf_cents = state.get
            buf = list(zip(buf_ts or (), buf_id or (), buf_cents or ()))
        else:
            start = last = None
            n = cents = 0
            buf = []
        if not state.hasTimedOut:
            for pdf in pdfs:
                for ts, eid, val in zip(pdf["ts"], pdf["event_id"],
                                        pdf["value"]):
                    buf.append((int(ts.value // 1000),        # ns → µs
                                int(eid),
                                int(math.floor(float(val) * 100))))
        wm_ms = state.getCurrentWatermarkMs()
        # finalize exactly the prefix the watermark guarantees is complete:
        # STRICTLY before the watermark — Spark only drops rows strictly
        # older than the watermark, so an event AT wm (or in the same
        # truncated millisecond) can still arrive and must sort among
        # same-ms peers; those stay buffered one more batch
        buf.sort()
        ready = [e for e in buf if e[0] // 1000 < wm_ms]
        buf = [e for e in buf if e[0] // 1000 >= wm_ms]
        closed = []
        for t, _eid, c in ready:
            # gap compares SECOND-truncated stamps — the batch twin uses
            # unix_timestamp() diffs, which drop sub-second components; a
            # µs-precision compare would split (1800s, 1801s) gaps that
            # batch sessionize keeps together
            if (last is not None
                    and t // 1_000_000 - last // 1_000_000 > gap_s):
                closed.append((start, last, n, cents))
                start, n, cents = None, 0, 0
            if start is None:
                start = t
            last = t
            n += 1
            cents += c
        # flush the open session once nothing can extend it: the watermark
        # passed last + gap, so every still-buffered or future event starts
        # a new session anyway
        if (start is not None
                and wm_ms // 1000 - last // 1_000_000 > gap_s):
            closed.append((start, last, n, cents))
            start = last = None
            n = cents = 0
        if start is None and not buf:
            state.remove()
        else:
            state.update((start, last, n, cents,
                          [e[0] for e in buf], [e[1] for e in buf],
                          [e[2] for e in buf]))
            # wake when the next finalization becomes possible: earliest
            # buffered event, or the open session's last + gap (timeout
            # must sit strictly past the current watermark)
            cand = []
            if buf:
                cand.append(buf[0][0] // 1000)
            if start is not None:
                cand.append(last // 1000 + gap_ms)
            state.setTimeoutTimestamp(max(min(cand), wm_ms + 1))
        for s in closed:
            yield _emit(user_id, *s)

    # watermarks require TIMESTAMP (ltz); parquet event tables often carry
    # TIMESTAMP_NTZ — the cast is gap-neutral (sessions compare differences)
    return (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", SESSION_WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, SESSION_OUT_SCHEMA, SESSION_STATE_SCHEMA, "append",
            GroupStateTimeout.EventTimeTimeout)
    )


def run_stream(spark: SparkSession, input_path: str, output_path: str,
               checkpoint_path: str, num_buckets: int):
    """Wire source → extraction → parquet sink; returns the query handle."""
    extracted = stream_extract(stream_source(spark, input_path), num_buckets)
    return (
        extracted.writeStream
        .format("parquet")
        # the salt column IS the sink partitioning (stream_extract injects
        # no shuffle); consumers get pruning on bucket_id
        .partitionBy("bucket_id")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup(transcripts: DataFrame,
                 watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup — the ingest twin of ``ops.dedup.exact_dedup``:
    the FIRST arrival of each distinct payload passes, later copies inside
    the watermark horizon are dropped, and the engine keeps exactly one
    (md5, event-time) state entry per distinct payload, EVICTED once the
    watermark passes its horizon.

    Contract (and why it scales): state is bounded by the number of
    distinct payloads per horizon window, not by the stream — at
    10^12-turn ingest the horizon cap is what keeps the state store
    finite.  The flip side is that a duplicate arriving AFTER its
    original's state was evicted is re-admitted; cross-horizon dedup is
    the batch pass's job (run exact_dedup over the landed table).  Both
    edges are pinned in tests/test_streaming.py.

    Key = md5(coalesce(text, '')) — the batch operator's md5(text)
    identity with NULL normalized like the multimodal path (the shipped
    corpus has no NULL text, so batch and stream agree on it).
    """
    keyed = transcripts.withColumn(
        "payload_md5", F.md5(F.coalesce(F.col("text"), F.lit(""))))
    return (
        keyed.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["payload_md5"])
    )
