"""Structured Streaming over the events source.

The reference has NO streaming analytics (SURVEY.md §2.11): its ingest is
event-driven (HTTP → Cloud Function → blob, process.py) but every report
is a batch re-scan. This module is the §7 stretch goal: the same events
schema consumed incrementally with watermarked event-time windows — the
shape a real 100 TB/day pipeline uses so each report touches only new
data. The batch queries in queries/stripe.py stay the semantic source of
truth; these aggregations mirror them.

Local testing: parquet-directory source + memory sink driven to
completion (synchronous, deterministic); ``drain`` is the one
foreachBatch drain every sink here and every streaming gate
(queries/streaming_gate.py) runs through.
In production the source line changes to kafka/kinesis; nothing else does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def drain(stream: DataFrame, sink, checkpoint: str, *,
          output_mode: str = "append") -> None:
    """Run ``stream`` through the ``foreachBatch`` function ``sink``
    until everything available at the call has been processed, then
    stop it — also when a batch raises, whose error then propagates.
    The trigger is a 50 ms processing-time one, which every source
    serves: a rate-limited source walks its admission cursor once per
    trigger, and the ``snapshot_table`` source cannot serve
    ``availableNow`` (Spark would fall back to one Trigger.Once batch,
    which need not serve data committed after an uncommitted batch)."""
    q = (stream.writeStream.outputMode(output_mode)
         .foreachBatch(sink)
         .option("checkpointLocation", checkpoint)
         .trigger(processingTime="50 milliseconds")
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def read_event_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int = 1) -> DataFrame:
    """Incremental parquet-directory source with an explicit schema.

    The ``ts`` physical type has varied across fixture vintages
    (TIMESTAMP(NANOS) → epoch-nanos long under ``nanosAsLong``; current
    files are timestamp[us] → TIMESTAMP_NTZ), so the stream schema is
    probed from the existing files with a batch read — a streaming source
    needs an explicit schema anyway — and ``normalize_event_ts`` maps
    either layout to session-zoned TimestampType, same as the batch path.
    """
    from ..sources.readers import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    return normalize_event_ts(stream)


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time window counts per event_type with a watermark
    bounding state for late data — the streaming twin of
    top10_event_types_daily's per-day counts."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type", "n_events", "total_value",
        )
    )


def sessionized_event_counts(events: DataFrame, gap: str = "30 minutes",
                             watermark: str = "2 hours") -> DataFrame:
    """Native session windows (gap-based) per user — the streaming twin of
    the batch lag()-based sessionize_events query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id", "n_events",
        )
    )


def stateful_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per
    event_type, running (n_events, total_value) carried in explicit
    GroupState across micro-batches — the escape hatch for operators the
    built-in windowed aggregations can't express (custom eviction,
    session models, CDC reconciliation). Emits the updated totals for
    every key touched in a batch."""
    import pandas as pd

    out_schema = T.StructType([
        T.StructField("event_type", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("n", T.LongType()),
        T.StructField("v", T.DoubleType()),
    ])

    def update(key, pdfs, state):
        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        yield pd.DataFrame({
            "event_type": [key[0]], "n_events": [n], "total_value": [round(v, 2)]
        })

    return (
        events.groupBy("event_type")
        .applyInPandasWithState(update, out_schema, state_schema,
                                outputMode="update",
                                timeoutConf="NoTimeout")
    )


def sessionize_with_timeout(events: DataFrame, gap_minutes: int = 30,
                            watermark: str = "2 hours") -> DataFrame:
    """Gap-based sessionization with EVENT-TIME TIMEOUT state eviction —
    the custom-stateful-operator pattern built-in session_window cannot
    generalize (per-session custom payloads, conditional closes). Per
    user: events extend the open session while gaps stay ≤ gap_minutes;
    a larger in-batch gap closes and emits the session immediately; the
    OPEN session is parked in GroupState with
    setTimeoutTimestamp(last_ts + gap), so when the WATERMARK passes
    that instant Spark calls back with hasTimedOut and the session
    closes with no further data — bounded state, deterministic closes,
    no key ever lingers past watermark + gap. Emits closed sessions
    only (append semantics).

    Out-of-order policy: a late event (still above the watermark) that
    precedes the open session WIDENS it (start_ms = min, last_ms = max
    — bounds never regress, the timeout stays monotone). Events late
    enough to belong to an earlier, separate session therefore merge
    into the open one; exact out-of-order sessionization would have to
    buffer every event until the watermark passes it, which is the
    built-in session_window's job (session_window_batch) — this
    operator trades that buffering for O(1) state per key."""
    import pandas as pd

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("start_ms", T.LongType()),
        T.StructField("last_ms", T.LongType()),
        T.StructField("n", T.LongType()),
    ])
    gap_ms = gap_minutes * 60 * 1000

    def to_ms(ts) -> int:
        return int(pd.Timestamp(ts).value // 1_000_000)

    def row(uid, start_ms, last_ms, n) -> "pd.DataFrame":
        return pd.DataFrame({
            "user_id": [uid],
            "session_start": [pd.Timestamp(start_ms, unit="ms")],
            "session_end": [pd.Timestamp(last_ms, unit="ms")],
            "n_events": [n],
        })

    def update(key, pdfs, state):
        uid = key[0]
        if state.hasTimedOut:
            start_ms, last_ms, n = state.get
            state.remove()
            yield row(uid, start_ms, last_ms, n)
            return
        start_ms, last_ms, n = state.get if state.exists else (None, None, 0)
        ts_ms = sorted(
            to_ms(t) for pdf in pdfs for t in pdf["ts"] if t is not None
        )
        for t in ts_ms:
            if start_ms is None:
                start_ms, last_ms, n = t, t, 1
            elif t - last_ms <= gap_ms:
                # within gap — includes OUT-OF-ORDER events still above
                # the watermark (t may precede the open session): widen
                # the session bounds instead of rewinding them, so
                # session_end never regresses and the timeout stays
                # monotone
                start_ms = min(start_ms, t)
                last_ms = max(last_ms, t)
                n += 1
            else:
                yield row(uid, start_ms, last_ms, n)
                start_ms, last_ms, n = t, t, 1
        if start_ms is None:
            # a batch of only null-ts rows with no prior state: nothing
            # to park, and None arithmetic below would kill the query
            return
        state.update((start_ms, last_ms, n))
        # close via watermark: fire when event time last_ms + gap passes.
        # A timeout must sit ABOVE the current watermark (late stragglers
        # could otherwise set one in the past) — clamp up by 1 ms.
        state.setTimeoutTimestamp(
            max(last_ms + gap_ms, state.getCurrentWatermarkMs() + 1))

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(update, out_schema, state_schema,
                                outputMode="append",
                                timeoutConf="EventTimeTimeout")
    )


def enrich_with_dim(events: DataFrame, dim: DataFrame,
                    on: str = "event_type") -> DataFrame:
    """Stream-static join: each micro-batch of the stream is enriched
    against a STATIC dimension (broadcast — the dim is read once per
    batch, never stateful, no watermark required). Spark re-executes the
    static subtree per micro-batch, BUT a path-based DataFrame snapshots
    its file listing at creation — an overwritten directory kills the
    query with FAILED_READ_FILE. For a slowly-UPDATING dimension, pass
    ``spark.table(...)`` over a catalog table and run REFRESH TABLE
    after each rewrite; the next batch then re-lists and joins the new
    rows (pinned by the dim-update streaming test). Left join keeps
    events whose key has no dim row (same missing-dim semantics as
    left_join_missing_dim)."""
    from pyspark.sql import functions as F

    return events.join(F.broadcast(dim), on, "left")


def dedup_event_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id: dropDuplicatesWithinWatermark
    keeps state only for the watermark horizon, so at-least-once sources
    (replayed blobs, Kafka redeliveries) collapse to exactly-once rows
    with BOUNDED state — the streaming twin of llm.dedup exact dedup.
    (Plain dropDuplicates on a stream accumulates ids forever.)"""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def purchase_click_attribution(purchases: DataFrame, clicks: DataFrame,
                               attribution_window: str = "30 minutes",
                               watermark: str = "1 hour",
                               how: str = "inner") -> DataFrame:
    """Stream-stream join: each purchase joins the same user's clicks in
    the preceding attribution window. Watermarks on BOTH sides + the
    event-time range condition let Spark bound the join state (a
    stream-stream join without them accumulates forever).
    Works identically on batch DataFrames (the test pins that parity).

    ``how='left_outer'`` keeps unattributed purchases: streaming outer
    joins emit the null-extended row only once the WATERMARK proves no
    future click can match (the purchase's window has fully expired) —
    so organic-purchase reporting is correct but watermark-delayed,
    exactly the semantics a 100 TB attribution pipeline must plan
    around (the eviction test pins the delay)."""
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    if purchases.isStreaming:
        p = p.withWatermark("p_ts", watermark)
        c = c.withWatermark("c_ts", watermark)
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {attribution_window}"))
    )
    return p.join(c, cond, how).select(
        "purchase_id", "click_id", F.col("p_user").alias("user_id"), "p_ts", "c_ts"
    )


def write_partitioned_exactly_once(agg: DataFrame, out_dir: str,
                                   partition_col: str) -> None:
    """Exactly-once file sink via foreachBatch: each micro-batch
    dynamically overwrites ONLY the partitions it touches, so replaying a
    batch after a failure rewrites the same partitions to the same
    content instead of appending duplicates. This is the idempotent-sink
    pattern for aggregation outputs (complete/update modes) that plain
    file sinks (append-only) can't express. Drives the stream to
    completion (``drain``)."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.sparkSession.conf
            .set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        )
        (
            batch_df.write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(out_dir)
        )

    drain(agg, write_batch, f"{out_dir}/_checkpoint",
          output_mode="complete")


def run_to_memory(agg: DataFrame, query_name: str,
                  output_mode: str = "append") -> None:
    """Drive a streaming aggregation to completion into an in-memory table
    (local test harness). Results land in ``SELECT * FROM {query_name}``."""
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory").queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def merge_stream_into_table(changes: DataFrame, table_dir: str, key: str,
                            seq: str = "seq", op: str = "op") -> None:
    """Continuous MERGE: apply a CDC change STREAM to a parquet table via
    foreachBatch — the streaming half of operators/merge.py:apply_cdc,
    i.e. the upsert/delete ingest loop a lakehouse sink runs per
    micro-batch. Each batch reads the current table state, folds the
    batch's changes (latest-wins within the batch; across batches the
    arrival order IS the seq order the source must guarantee), and
    rewrites the table. The merged frame is eagerly localCheckpoint-ed
    BEFORE the overwrite so the write never scans the files it is
    replacing. On a real cluster the rewrite step becomes the table
    format's transactional commit (Delta/Iceberg MERGE) or dynamic
    partition overwrite of only the dirty partitions
    (operators/merge.py + pipelines' partitioned sinks) — the batch
    loop here is identical. Drives the stream to completion
    (``drain``)."""

    def merge_batch(batch_df: DataFrame, epoch_id: int) -> None:
        from ..operators.merge import apply_cdc

        spark = batch_df.sparkSession
        base = spark.read.parquet(table_dir)
        merged = (
            apply_cdc(base, batch_df, key, seq=seq, op=op)
            .drop("cdc_action")
            .localCheckpoint(eager=True)
        )
        merged.write.mode("overwrite").parquet(table_dir)

    drain(changes, merge_batch, f"{table_dir}_checkpoint")
