"""Gated streaming queries: §2.11 parity visible to the DRIVER's hash
gate, not only to pytest.

The streaming operators (streaming/events.py) are pytest-pinned for
multi-micro-batch state carry, watermark eviction, and checkpoint
restart; this module additionally runs one genuinely stateful streaming
computation to completion INSIDE a gated query and hash-compares the
drained result against the plain batch oracle — so the driver ledger
has a row proving custom GroupState survives micro-batch boundaries.

Scaffolding note: the local stream source is the events fixture split
into 4 time-ordered parquet files with ascending mtimes (the file
source's oldest-first order), consumed one per trigger — 4 real
micro-batches. In production that line is a kafka/kinesis source; the
stateful operator and the sink are what is under test and are
production-shaped (foreachBatch parquet sink, drained until caught up).

Every gate runs its streams through one drain (streaming/events.py:
``drain`` — foreachBatch, a 50 ms processing-time trigger, run until
caught up, then stop), and the ``snapshot_table`` source gates
check each sink against the batch read over the same range with
``check_stream`` (operators/snapshot_check.py).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..operators.snapshot_check import (check_refuses, check_replay,
                                        check_stream, feed_changes,
                                        frames_differ, no_entry_reads)
from ..sources import load_table
from ..sources.readers import empty_frame, inline_dim
from ..streaming.events import drain
from .io_roundtrip import _orders_kpc, _scratch
from .registry import query


def _four_batch_events_dir(sf_dir: str, scratch: str,
                           replay: bool = False,
                           sentinel_ts: str | None = None) -> str:
    """Split the events fixture into 4 ts-ordered parquet files with
    strictly ascending mtimes under ``scratch``/in, so the file stream
    (maxFilesPerTrigger=1, oldest-first) replays them as 4 micro-batches
    whose event time moves forward. Driver-side pyarrow is test
    scaffolding standing in for the broker a production stream reads —
    the fixture is small by construction; nothing downstream is.

    With ``replay=True`` the source becomes at-least-once: the first
    K = n/50 rows of every quarter are appended again to the SAME file
    (an in-batch redelivery) and the last K rows of quarter i are
    appended to file i+1 (a cross-batch redelivery, arriving one
    trigger late but well inside the watermark horizon) — ~12% extra
    deliveries overall. Every duplicate is an exact full-row copy, so
    whichever physical copy survives dedup the row set is identical —
    the determinism the dedup gate's hash needs.

    With ``sentinel_ts`` a FIFTH file carries one synthetic far-future
    event (user_id −1) — the watermark-advancing tick append-mode
    session aggregation needs: event-time watermarks only move when
    events arrive, so without it every session still open at
    end-of-stream stays in state forever and never emits. The
    sentinel's own session is the one session the watermark never
    passes, so it never pollutes the drained output."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    in_dir = os.path.join(scratch, "in")
    os.makedirs(in_dir)
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet")).sort_by("ts")
    n = tbl.num_rows
    cuts = [0, n // 4, n // 2, 3 * n // 4, n]
    k = max(1, n // 50)
    now = time.time()
    for i in range(4):
        base = tbl.slice(cuts[i], cuts[i + 1] - cuts[i])
        parts = [base]
        if replay:
            parts.append(base.slice(0, min(k, base.num_rows)))
            if i > 0:
                prev = tbl.slice(cuts[i - 1], cuts[i] - cuts[i - 1])
                parts.append(prev.slice(max(0, prev.num_rows - k), k))
        path = os.path.join(in_dir, f"part-{i:04d}.parquet")
        pq.write_table(pa.concat_tables(parts), path)
        os.utime(path, (now + i, now + i))
    if sentinel_ts is not None:
        from datetime import datetime

        dt = datetime.fromisoformat(sentinel_ts)
        cols = {}
        for field in tbl.schema:
            if field.name == "ts":
                cols[field.name] = pa.array([dt], type=field.type)
            elif field.name in ("event_id", "user_id"):
                cols[field.name] = pa.array([-1], type=field.type)
            elif pa.types.is_floating(field.type):
                cols[field.name] = pa.array([0.0], type=field.type)
            elif pa.types.is_integer(field.type):
                cols[field.name] = pa.array([-1], type=field.type)
            elif pa.types.is_boolean(field.type):
                cols[field.name] = pa.array([False], type=field.type)
            elif pa.types.is_date(field.type) or pa.types.is_timestamp(field.type):
                cols[field.name] = pa.array([dt], type=field.type)
            elif pa.types.is_string(field.type) or pa.types.is_large_string(field.type):
                cols[field.name] = pa.array(["sentinel"], type=field.type)
            else:
                raise ValueError(
                    f"_four_batch_events_dir: no sentinel default for "
                    f"column {field.name!r} of arrow type {field.type} — "
                    f"add a typed default before extending the events "
                    f"fixture")
        path = os.path.join(in_dir, "part-0004-sentinel.parquet")
        pq.write_table(pa.table(cols, schema=tbl.schema), path)
        os.utime(path, (now + 4, now + 4))
    return in_dir


def _append_to(out_dir: str):
    """A ``foreachBatch`` sink appending each micro-batch to the parquet
    directory ``out_dir``."""
    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    return sink


@query(
    "stream_dedup_parity",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_value_cents
    FROM events GROUP BY 1
    """,
)
def stream_dedup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 exactly-once ingest in the hash gate: the events fixture is
    replayed with ~12% duplicate deliveries (in-batch and cross-batch
    exact redeliveries, scaffolded by
    :func:`_four_batch_events_dir` with ``replay=True``)
    and streamed through ``dedup_event_stream``
    (streaming/events.py: withWatermark + dropDuplicatesWithinWatermark)
    as four micro-batches into an append parquet sink. The per-type
    count/min/max/cent-sum of the drained output hash-matches the
    UN-duplicated fixture only if every redelivery was dropped — an
    undropped duplicate shifts n_events and total_value_cents; an
    over-aggressive dedup (dropping a genuine row) shifts them the
    other way.

    Watermark horizon 10 days: longer than a quarter's ~7.5-day span
    (so cross-batch duplicates of a quarter's tail rows still find
    their state one trigger later) but far shorter than the fixture's
    30-day range (so batch-1 keys genuinely age out of state by batch
    4 — bounded state, not an ever-growing id set). Duplicates are
    exact copies, so the surviving-copy choice cannot affect the hash;
    the cent-sum is an integer sum, associative under any drain order."""
    from ..streaming.events import dedup_event_stream, read_event_stream

    scratch = _scratch(sf_dir, "stream_dedup_parity")
    in_dir = _four_batch_events_dir(sf_dir, scratch, replay=True)
    out_dir = os.path.join(scratch, "out")

    deduped = dedup_event_stream(
        read_event_stream(spark, in_dir, max_files_per_trigger=1),
        watermark="10 days",
    )

    drain(deduped, _append_to(out_dir), os.path.join(scratch, "_ckpt"))

    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .alias("total_value_cents"),
        )
    )


@query(
    "stateful_totals_stream_parity",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_value_cents
    FROM events GROUP BY 1
    """,
)
def stateful_totals_stream_parity(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """§2.11 in the hash gate: the applyInPandasWithState running-totals
    operator (streaming/events.py:stateful_running_totals) consumes the
    events fixture as FOUR time-ordered micro-batches (one file per
    trigger), emitting updated per-type totals each batch through a
    foreachBatch parquet sink; the query returns each key's LAST
    emission. The hash matches the batch groupBy oracle only if
    GroupState genuinely accumulated across all four batches — a state
    reset, a dropped batch, or a double-applied batch all change the
    final (n_events, total_value_cents).

    Determinism: values are quantized to integer cents BEFORE the
    stream (integer-valued doubles sum exactly in any order, so the
    per-batch pandas sums and the cross-batch state adds are
    associative); n_events strictly increases per key, so "last
    emission" is well-defined without relying on file ordering."""
    from ..streaming.events import read_event_stream, stateful_running_totals

    scratch = _scratch(sf_dir, "stateful_totals_stream")
    in_dir = _four_batch_events_dir(sf_dir, scratch)
    out_dir = os.path.join(scratch, "out")

    stream = read_event_stream(spark, in_dir, max_files_per_trigger=1)
    totals = stateful_running_totals(
        stream.withColumn(
            "value", F.round(F.col("value") * 100).cast("long").cast("double")
        )
    )

    drain(totals, _append_to(out_dir), os.path.join(scratch, "_ckpt"),
          output_mode="update")

    emitted = spark.read.parquet(out_dir)
    last = W.partitionBy("event_type").orderBy(F.col("n_events").desc())
    return (
        emitted.withColumn("_rn", F.row_number().over(last))
        .filter(F.col("_rn") == 1)
        .select(
            "event_type",
            "n_events",
            F.col("total_value").cast("long").alias("total_value_cents"),
        )
    )


@query(
    "stream_attribution_parity",
    oracle="""
    SELECT CAST(p.event_id AS BIGINT) AS purchase_id,
           CAST(c.event_id AS BIGINT) AS click_id,
           CAST(p.user_id AS BIGINT) AS user_id
    FROM events p JOIN events c
      ON p.user_id = c.user_id
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 2 DAY
    """,
)
def stream_attribution_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 stream-stream join in the hash gate: purchase→click
    attribution (streaming/events.py:purchase_click_attribution — both
    sides watermarked, event-time range condition bounding join state)
    over the SAME four time-ordered micro-batches the other two
    streaming gates replay, drained through a foreachBatch parquet sink
    and hash-compared pair-for-pair against the batch range join.

    The 2-day attribution window is chosen so pairs genuinely STRADDLE
    micro-batch cuts (a quarter spans ~7.5 days; a 30-minute window
    almost never crosses one): at every SF some purchases in batch i+1
    attribute to clicks from batch i, so the hash can only match if the
    click-side join state survived the trigger boundary — the pytest
    scaffold-sensitivity twin pins that cross-batch pairs exist. The
    1-hour watermark keeps state bounded: clicks older than
    (watermark − 2 days) evict, so batch-1 clicks are gone by batch 3
    rather than accumulating for the life of the stream."""
    from ..streaming.events import purchase_click_attribution, read_event_stream

    scratch = _scratch(sf_dir, "stream_attribution_parity")
    in_dir = _four_batch_events_dir(sf_dir, scratch)
    out_dir = os.path.join(scratch, "out")

    purchases = read_event_stream(spark, in_dir, max_files_per_trigger=1).filter(
        F.col("event_type") == "purchase"
    )
    clicks = read_event_stream(spark, in_dir, max_files_per_trigger=1).filter(
        F.col("event_type") == "click"
    )
    joined = purchase_click_attribution(
        purchases, clicks, attribution_window="2 days", watermark="1 hour"
    )

    drain(joined, _append_to(out_dir), os.path.join(scratch, "_ckpt"))

    return spark.read.parquet(out_dir).select(
        F.col("purchase_id").cast("long").alias("purchase_id"),
        F.col("click_id").cast("long").alias("click_id"),
        F.col("user_id").cast("long").alias("user_id"),
    )


def _session_window_oracle() -> str:
    from .relational2 import session_window_oracle

    # 1-day gap (vs the batch twin's 30 minutes): with quarter-of-the-
    # fixture micro-batches, 30-minute sessions essentially never cross
    # a cut (0 straddlers at sf0.001/sf0.01) and the gate would prove
    # nothing about cross-trigger state; 1-day sessions straddle at
    # every SF (25/270/2747) — the sensitivity test pins it.
    return session_window_oracle(86400000, "1 DAY")


@query("stream_session_window_parity", oracle=_session_window_oracle())
def stream_session_window_parity(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """§2.11 native session windows in the hash gate: the SAME
    4-micro-batch replay the other streaming gates use, aggregated by
    ``F.session_window`` (gap 1 day) in APPEND mode — sessions emit
    only once the watermark proves no more events can extend them.

    Two semantics under test, both hash-visible: (a) sessions that
    STRADDLE a batch cut must merge across triggers (their early events
    sit in state until the gap closes — a state reset splits them into
    two output rows, a row-count mismatch); (b) the end-of-stream
    problem: event-time watermarks only advance when events arrive, so
    every session still open after the last real file would stay in
    state forever and never emit. The scaffold's far-future sentinel
    event (user_id −1, 2024-03-01) is the watermark-advancing tick that
    flushes them — the production pattern for draining an idle topic.
    The sentinel's OWN session is the one session the watermark never
    passes; it stays in state and never reaches the sink (the re-read
    filter is belt-and-braces, asserted harmless by the oracle match).

    Oracle: the identical lag/cumsum construction session_window_batch
    is gated on — the drained stream must reproduce BATCH session
    semantics exactly."""
    from ..streaming.events import read_event_stream, sessionized_event_counts

    scratch = _scratch(sf_dir, "stream_session_window_parity")
    in_dir = _four_batch_events_dir(sf_dir, scratch,
                                    sentinel_ts="2024-03-01 00:00:00")
    out_dir = os.path.join(scratch, "out")

    sess = sessionized_event_counts(
        read_event_stream(spark, in_dir, max_files_per_trigger=1),
        gap="1 day", watermark="2 hours",
    )

    drain(sess, _append_to(out_dir), os.path.join(scratch, "_ckpt"))

    return (
        spark.read.parquet(out_dir)
        .filter(F.col("user_id") >= 0)
        .select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss")
            .alias("session_start_s"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss")
            .alias("session_end_s"),
            F.col("n_events").cast("long").alias("n_events"),
        )
    )


@query(
    "stream_restart_recovery_parity",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_value_cents
    FROM events GROUP BY 1
    """,
)
def stream_restart_recovery_parity(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """§2.11 checkpoint RESTART recovery in the hash gate: the other
    streaming gates prove state survives *trigger* boundaries inside one
    query run; this one proves it survives a *crash*. The same
    stateful_running_totals drain (GroupState per event_type, 4
    micro-batches) is killed MID-DRAIN by an injected sink failure —
    the foreachBatch sink raises before writing its third epoch, so the
    first query run dies with two epochs committed and one failed — and
    a SECOND query object restarts from the same checkpoint. The final
    sink hash-matches the batch oracle only if

    - GroupState was REBUILT from the state store on restart (a state
      reset undercounts every type's final n_events/cents),
    - the crashed epoch replayed EXACTLY once (the sink raised before
      writing, so a replay gap undercounts and a double-replay
      overcounts), and
    - the committed epochs did NOT replay (exactly-once offset
      tracking; a re-emission would duplicate earlier totals rows and
      break the strictly-increasing n_events the last-emission window
      keys on only at the final row — the count/cents hash catches it).

    The injected failure is crash-shaped on purpose: it fires once (a
    marker file in the run's scratch dir), at the START of the epoch,
    exactly where a real executor/driver loss interrupts a sink. The
    gate fails LOUDLY if the crash never fired — a green row must mean
    a recovery actually happened."""
    from ..streaming.events import read_event_stream, stateful_running_totals

    scratch = _scratch(sf_dir, "stream_restart_recovery")
    in_dir = _four_batch_events_dir(sf_dir, scratch)
    out_dir = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "_ckpt")
    marker = os.path.join(scratch, "crashed_once")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if epoch_id >= 2 and not os.path.exists(marker):
            with open(marker, "w") as fh:
                fh.write(str(epoch_id))
            raise RuntimeError(
                f"injected crash before epoch {epoch_id} wrote")
        batch_df.write.mode("append").parquet(out_dir)

    def run() -> None:
        totals = stateful_running_totals(
            read_event_stream(spark, in_dir, max_files_per_trigger=1)
            .withColumn(
                "value",
                F.round(F.col("value") * 100).cast("long").cast("double"),
            )
        )
        drain(totals, sink, ckpt, output_mode="update")

    first_err = None
    try:
        run()
    except Exception as exc:  # expected: the injected crash
        first_err = exc
    if not os.path.exists(marker):
        # the drain failed for a REAL reason (or never reached epoch 2)
        # — surface the root cause, don't blame the scaffold blindly
        raise RuntimeError(
            "stream_restart_recovery_parity: the injected crash never "
            "fired (fewer than 3 micro-batches?) — the gate would prove "
            "nothing; fix the scaffold") from first_err

    run()  # NEW query object, SAME checkpoint

    emitted = spark.read.parquet(out_dir)
    last = W.partitionBy("event_type").orderBy(F.col("n_events").desc())
    return (
        emitted.withColumn("_rn", F.row_number().over(last))
        .filter(F.col("_rn") == 1)
        .select(
            "event_type",
            "n_events",
            F.col("total_value").cast("long").alias("total_value_cents"),
        )
    )


@query(
    "stream_snapshot_sink_parity",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_value_cents
    FROM events GROUP BY 1
    """,
)
def stream_snapshot_sink_parity(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """§2.11 exactly-once SINK in the hash gate — the hardest replay
    window: ``foreachBatch`` commits each micro-batch as an epoch-keyed
    snapshot append (operators/snapshots.py), and the injected crash
    fires AFTER epoch 2's commit lands but BEFORE the function returns
    — so Spark never records epoch 2 as done and REPLAYS it on restart.
    Without the idempotent commit (the manifest's epoch ledger, the
    Delta txn appId/version pattern), the replay would append batch 2
    twice and the per-type counts/cent-sums would overshoot; with it,
    the replayed commit is a no-op and the drained table equals the
    fixture exactly. This is the complement of
    stream_restart_recovery_parity, whose crash fires BEFORE the write
    (testing replay-of-lost work); here the crash fires AFTER (testing
    dedup-of-repeated work). The gate raises loudly if the crash never
    fired."""
    from ..operators.snapshots import snapshot_commit, snapshot_read
    from ..streaming.events import read_event_stream

    scratch = _scratch(sf_dir, "stream_snapshot_sink")
    in_dir = _four_batch_events_dir(sf_dir, scratch)
    table_dir = os.path.join(scratch, "table")
    ckpt = os.path.join(scratch, "_ckpt")
    marker = os.path.join(scratch, "crashed_once")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        snapshot_commit(spark, table_dir,
                        batch_df.select("event_type", "value"),
                        mode="append", epoch_key=str(epoch_id))
        if epoch_id >= 2 and not os.path.exists(marker):
            with open(marker, "w") as fh:
                fh.write(str(epoch_id))
            raise RuntimeError(
                f"injected crash AFTER epoch {epoch_id} committed")

    def run() -> None:
        drain(read_event_stream(spark, in_dir, max_files_per_trigger=1),
              sink, ckpt)

    first_err = None
    try:
        run()
    except Exception as exc:  # expected: the injected crash
        first_err = exc
    if not os.path.exists(marker):
        # a genuine failure, not the injection — chain the root cause
        raise RuntimeError(
            "stream_snapshot_sink_parity: the injected crash never fired "
            "— the replay window was not exercised; fix the scaffold"
        ) from first_err

    run()  # replays epoch 2 → idempotent no-op, then 3

    return (
        snapshot_read(spark, table_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .alias("total_value_cents"),
        )
    )


@query(
    "stream_snapshot_source_parity",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_value_cents
    FROM events GROUP BY 1
    """,
)
def stream_snapshot_source_parity(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """The snapshot table as a streaming SOURCE
    (sources/snapshot_source.py — offsets ARE table versions; each
    micro-batch plans the version range's delta files as executor-side
    Arrow reads), closing the loop the sink gate opened: a first query
    drains a two-append table and STOPS; a third append lands while no
    stream is running; a SECOND query on the SAME checkpoint must then
    consume EXACTLY the new version's delta — the query raises if the
    first drain missed rows or if the restarted drain re-read the base
    (offset regression) instead of resuming at the checkpointed
    version. The final sink hash-matches the whole events fixture only
    if every version's rows arrived exactly once across the restart
    boundary."""
    from ..operators.snapshots import snapshot_commit
    from ..sources.snapshot_source import register_snapshot_source

    register_snapshot_source(spark)
    scratch = _scratch(sf_dir, "stream_snapshot_source")
    table_dir = os.path.join(scratch, "table")
    out_dir = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "_ckpt")

    ev = load_table(spark, sf_dir, "events", rebalance=False).select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    c1, c2 = "2024-01-11", "2024-01-21"
    snapshot_commit(spark, table_dir, ev.filter(F.col("day") < c1),
                    mode="append")
    snapshot_commit(
        spark, table_dir,
        ev.filter((F.col("day") >= c1) & (F.col("day") < c2)),
        mode="append")

    def run(label: str) -> DataFrame:
        drain(spark.readStream.format("snapshot_table").load(table_dir),
              _append_to(out_dir), ckpt)
        return check_stream(
            spark, table_dir, out_dir, -1,
            context=f"stream_snapshot_source_parity[{label}]")

    run("first")
    # a new version lands while NO stream is running; the restarted
    # query must consume exactly its delta from the checkpointed offset
    snapshot_commit(spark, table_dir, ev.filter(F.col("day") >= c2),
                    mode="append")
    return (
        run("restart")
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum("cents").alias("total_value_cents"))
    )


@query(
    "stream_snapshot_cdf_source_parity",
    oracle="""
    WITH ev AS (
        SELECT event_id AS k, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               event_id % 3 AS slot
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN slot < 2 AND k % 7 = 2
                         THEN cents * 2 + 1 ELSE cents END) AS BIGINT)
               AS total_cents
    FROM ev
    WHERE NOT (slot < 2 AND k % 7 = 3)
    GROUP BY 1
    """,
)
def stream_snapshot_cdf_source_parity(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """The snapshot table's CHANGE DATA FEED as a streaming source
    (sources/snapshot_source.py, option("cdf","true") — Delta's
    readChangeFeed): where the plain source STOPS at any non-append
    commit, the CDF stream rides row-level change logs through it. Two
    appends are drained as 'I' rows and the query stops; while NO
    stream runs, a CDC commit (updates cents to 2x+1 for k%7==2,
    DELETES k%7==3) and a third append land; the restarted query must
    consume EXACTLY that delta from the checkpoint — the query raises
    if the first drain missed rows, if the restart re-served consumed
    versions, or if the U/D change rows are missing or mislabeled.
    The drained feed must equal the batch feed from the stream's
    default start, and REPLAYED over an empty base (``check_replay``)
    it must reproduce the head; the hash gates the replayed state
    against the oracle's direct computation — a feed that drops a
    delete, double-serves an insert, or loses a pre-delete value
    cannot reproduce the head table."""
    from ..operators.snapshots import snapshot_apply_cdc, snapshot_commit
    from ..sources.snapshot_source import register_snapshot_source

    register_snapshot_source(spark)
    scratch = _scratch(sf_dir, "stream_snapshot_cdf_source")
    table_dir = os.path.join(scratch, "table")
    out_dir = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "_ckpt")

    ev = load_table(spark, sf_dir, "events", rebalance=False).select(
        F.col("event_id").alias("k"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.pmod(F.col("event_id"), F.lit(3)).alias("slot"),
    )
    snapshot_commit(spark, table_dir,
                    ev.filter(F.col("slot") == 0).drop("slot"),
                    mode="append")
    snapshot_commit(spark, table_dir,
                    ev.filter(F.col("slot") == 1).drop("slot"),
                    mode="append")

    def run() -> None:
        drain(spark.readStream.format("snapshot_table")
              .option("cdf", "true").load(table_dir),
              _append_to(out_dir), ckpt)

    run()
    check_stream(spark, table_dir, out_dir, -1, cdf=True,
                 context="stream_snapshot_cdf_source_parity[first]")

    # while NO stream runs: one CDC commit (row-level updates + DELETES
    # — a rewrite the plain source would refuse) and one append
    committed = ev.filter(F.col("slot") < 2).drop("slot")
    cdc = committed.filter(F.pmod(F.col("k"), F.lit(7)).isin(2, 3)) \
        .select(
            "k", "event_type",
            (F.col("cents") * 2 + 1).alias("cents"),
            F.lit(1).alias("seq"),
            F.when(F.pmod(F.col("k"), F.lit(7)) == 3, F.lit("D"))
            .otherwise(F.lit("U")).alias("op"),
        )
    snapshot_apply_cdc(spark, table_dir, cdc, "k")
    snapshot_commit(spark, table_dir,
                    ev.filter(F.col("slot") == 2).drop("slot"),
                    mode="append")
    run()

    feed = spark.read.parquet(out_dir)
    n_deleted = feed.filter(F.col("_change_type") == "D").count()
    expect_deleted = committed.filter(
        F.pmod(F.col("k"), F.lit(7)) == 3).count()
    if n_deleted != expect_deleted:
        raise RuntimeError(
            f"stream_snapshot_cdf_source_parity: the feed carries "
            f"{n_deleted} D rows, expected {expect_deleted} — deletes "
            "must ride the restarted CDF stream")

    # the drained feed equals the batch feed from the stream's default
    # start, and replayed over an empty base it reproduces the head
    replayed = check_replay(spark, table_dir, "k", -1, feed=feed,
                            context="stream_snapshot_cdf_source_parity")
    return (
        replayed.groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum("cents").alias("total_cents"))
    )


@query(
    "stream_cdf_equality_delete_parity",
    oracle="""
    WITH ev AS (
        SELECT event_id AS k, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               event_id % 3 AS slot
        FROM events
    ),
    final AS (
        -- slots 0/1 predate BOTH deletes
        SELECT k, event_type, cents FROM ev
        WHERE slot < 2 AND k % 7 <> 3 AND k % 5 <> 4
        UNION ALL
        -- slot 2 lands AFTER the first delete (seq-scoped: k%7=3
        -- survives it) but before the second
        SELECT k, event_type, cents FROM ev
        WHERE slot = 2 AND k % 5 <> 4
        UNION ALL
        -- re-inserts land after both deletes: survive unconditionally
        SELECT k, event_type, cents * 10 + 5 FROM ev
        WHERE slot = 0 AND k % 7 = 3
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM final GROUP BY 1
    """,
)
def stream_cdf_equality_delete_parity(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """The streaming CDF source RIDING THROUGH equality-delete commits
    (r13 second half; sources/snapshot_source.py kind='eqdead' slices
    — the r13 seal's one refused shape). snapshot_delete_keys commits
    O(keys) with NO change log; its D rows are computed lazily. The
    batch CDF pays that band scan driver-declared; this gate proves
    the STREAMING source now distributes it: each parent data file
    becomes an executor-side Arrow slice that drops rows a DV or an
    OLDER descriptor already deleted and keeps the new sidecar's
    matches as 'D' rows.

    Lifecycle: two appends drain as 'I' (checkpoint established);
    while NO stream runs, an equality delete (k%7==3), a third append
    (whose k%7==3 rows must SURVIVE that earlier delete —
    sequence-number scoping inside the stream), a second equality
    delete (k%5==4, applying to all three slots), and a re-insert of
    the first delete's slot-0 keys (cents*10+5 — newer than both
    deletes) land. The restarted stream must consume exactly that
    delta; per-version D counts are pinned in-gate; the drained feed
    must equal the batch feed over the same range and, replayed over
    an empty base (``check_replay``), reproduce the head table, which
    the oracle restates directly."""
    from ..operators.snapshots import snapshot_commit, snapshot_delete_keys
    from ..sources.snapshot_source import register_snapshot_source

    register_snapshot_source(spark)
    scratch = _scratch(sf_dir, "stream_cdf_eq_delete")
    table_dir = os.path.join(scratch, "table")
    out_dir = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "_ckpt")

    ev = load_table(spark, sf_dir, "events", rebalance=False).select(
        F.col("event_id").alias("k"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.pmod(F.col("event_id"), F.lit(3)).alias("slot"),
    )
    snapshot_commit(spark, table_dir,
                    ev.filter(F.col("slot") == 0).drop("slot"),
                    mode="append")                               # v0
    snapshot_commit(spark, table_dir,
                    ev.filter(F.col("slot") == 1).drop("slot"),
                    mode="append")                               # v1

    def run() -> None:
        drain(spark.readStream.format("snapshot_table")
              .option("cdf", "true").load(table_dir),
              _append_to(out_dir), ckpt)

    run()
    check_stream(spark, table_dir, out_dir, -1, cdf=True,
                 context="stream_cdf_equality_delete_parity[first]")

    # while NO stream runs: delete #1, append, delete #2, re-insert
    k7 = ev.filter(F.pmod(F.col("k"), F.lit(7)) == 3).select("k") \
        .dropDuplicates()
    snapshot_delete_keys(spark, table_dir, k7, "k")              # v2
    snapshot_commit(spark, table_dir,
                    ev.filter(F.col("slot") == 2).drop("slot"),
                    mode="append")                               # v3
    k5 = ev.filter(F.pmod(F.col("k"), F.lit(5)) == 4).select("k") \
        .dropDuplicates()
    snapshot_delete_keys(spark, table_dir, k5, "k")              # v4
    reins = ev.filter((F.col("slot") == 0)
                      & (F.pmod(F.col("k"), F.lit(7)) == 3)) \
        .select("k", "event_type",
                (F.col("cents") * 10 + 5).alias("cents"))
    snapshot_commit(spark, table_dir, reins, mode="append")      # v5
    run()

    feed = spark.read.parquet(out_dir)
    # per-version D pins: delete #1 touches slots 0/1 only; delete #2
    # touches the live remainder of all three slots
    d_by_v = {r["_commit_version"]: r["n"] for r in
              feed.filter(F.col("_change_type") == "D")
              .groupBy("_commit_version").agg(F.count("*").alias("n"))
              .collect()}
    exp_d2 = ev.filter((F.col("slot") < 2)
                       & (F.pmod(F.col("k"), F.lit(7)) == 3)).count()
    exp_d4 = ev.filter(
        (F.pmod(F.col("k"), F.lit(5)) == 4)
        & ((F.col("slot") == 2)
           | (F.pmod(F.col("k"), F.lit(7)) != 3))).count()
    if d_by_v.get(2) != exp_d2 or d_by_v.get(4) != exp_d4:
        raise RuntimeError(
            f"stream_cdf_equality_delete_parity: D rows per version "
            f"{d_by_v} != expected {{2: {exp_d2}, 4: {exp_d4}}} — the "
            "eqdead slices mis-scope the descriptors")
    # the drained feed equals the batch feed; replayed over an empty
    # base it reproduces the head
    replayed = check_replay(spark, table_dir, "k", -1, feed=feed,
                            context="stream_cdf_equality_delete_parity")
    return (
        replayed.groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum("cents").alias("total_cents"))
    )


@query(
    "stream_snapshot_replication_parity",
    oracle="""
    SELECT o_orderkey AS k, o_orderpriority AS pri,
           CAST(CASE WHEN o_orderkey > 300 AND o_orderkey <= 500
                          AND o_orderkey % 2 = 0
                     THEN ROUND(o_totalprice * 100) * 2
                     ELSE ROUND(o_totalprice * 100) END AS BIGINT) AS cents
    FROM orders
    WHERE NOT (o_orderkey > 300 AND o_orderkey <= 500
               AND o_orderkey % 2 = 1)
    UNION ALL
    SELECT 9000001, 'NEW', 123
    """,
)
def stream_snapshot_replication_parity(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """Table REPLICATION over the change data feed — the canonical
    lakehouse CDC loop (Delta readChangeFeed → MERGE into the replica),
    composed entirely from gated parts: a streaming CDF source on table
    A feeds foreachBatch, each micro-batch applied to replica table B
    with snapshot_apply_cdc (I/U upsert, D delete, seq = commit
    version). The first drain replicates two appends and stops; while
    NO stream runs, A takes a scoped MERGE with WHEN NOT MATCHED BY
    SOURCE DELETE (updates + row-level deletes) and a fresh append; the
    restarted drain must carry B to A's exact head state from the
    checkpoint — the query raises if B's rows differ from A's head
    after either drain. The hash gates B's final rows against the
    oracle's direct reconstruction, so a dropped delete, a
    double-applied update, or a lost insert flips it. Replication is naturally idempotent: re-
    applying a replayed batch upserts the same values and re-deletes
    absent keys."""
    from ..operators.snapshots import (snapshot_apply_cdc, snapshot_commit,
                                       snapshot_merge, snapshot_read)
    from ..sources.snapshot_source import register_snapshot_source

    register_snapshot_source(spark)
    scratch = _scratch(sf_dir, "stream_snapshot_replication")
    src_dir = os.path.join(scratch, "table_a")
    dst_dir = os.path.join(scratch, "table_b")
    ckpt = os.path.join(scratch, "_ckpt")

    orders = _orders_kpc(spark, sf_dir)
    snapshot_commit(spark, src_dir,
                    orders.filter(F.col("k") <= 600).coalesce(1),
                    mode="append")                                  # v0
    snapshot_commit(spark, src_dir,
                    orders.filter(F.col("k") > 600).coalesce(1),
                    mode="append")                                  # v1
    # bootstrap the replica: an empty version 0 with the right schema
    snapshot_commit(
        spark, dst_dir,
        empty_frame(spark, "k long, pri string, cents long"),
        mode="append")

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        snapshot_apply_cdc(spark, dst_dir, feed_changes(batch_df), "k",
                           seq="_commit_version", op="_change_type")

    def replicate(label: str) -> None:
        drain(spark.readStream.format("snapshot_table")
              .option("cdf", "true").load(src_dir), apply_batch, ckpt)
        if frames_differ(snapshot_read(spark, src_dir),
                         snapshot_read(spark, dst_dir)):
            raise RuntimeError(
                f"stream_snapshot_replication_parity[{label}]: the "
                "replica's rows differ from the source head")

    replicate("first")

    # while NO stream runs: a scoped merge-with-delete and an append
    src_upd = orders.filter(
        (F.col("k") > 300) & (F.col("k") <= 500)
        & (F.col("k") % 2 == 0)
    ).withColumn("cents", F.col("cents") * 2)
    snapshot_merge(spark, src_dir, src_upd, "k",
                   not_matched_by_source="delete",
                   source_scope=(301, 500))                         # v2
    snapshot_commit(
        spark, src_dir,
        inline_dim(spark, [(9000001, "NEW", 123)],
                   "k long, pri string, cents long"),
        mode="append")                                              # v3
    replicate("restart")
    return snapshot_read(spark, dst_dir)


@query(
    "stream_snapshot_replication_mor_parity",
    oracle="""
    SELECT k, pri, cents FROM (
        SELECT o_orderkey AS k, o_orderpriority AS pri,
               CAST(CASE WHEN o_orderkey > 550 AND o_orderkey <= 650
                         THEN ROUND(o_totalprice * 100) * 5 + 3
                         WHEN o_orderkey > 300 AND o_orderkey <= 500
                              AND o_orderkey % 2 = 0
                         THEN ROUND(o_totalprice * 100) * 2
                         ELSE ROUND(o_totalprice * 100)
                    END AS BIGINT) AS cents
        FROM orders
        WHERE NOT (o_orderkey > 300 AND o_orderkey <= 500
                   AND o_orderkey % 2 = 1)
          AND NOT (o_orderkey > 100 AND o_orderkey <= 200)
    )
    UNION ALL SELECT 9000001, 'NEW', 123
    UNION ALL SELECT 9000002, 'MOR', 1
    UNION ALL SELECT 9000003, 'MOR', 2
    UNION ALL SELECT 9000004, 'MOR', 3
    """,
)
def stream_snapshot_replication_mor_parity(spark: SparkSession,
                                           sf_dir: str) -> DataFrame:
    """MERGE-ON-READ replication (r13 second half — the production
    CDC sink at 100 TB): the same CDF→foreachBatch loop as
    ``stream_snapshot_replication_parity``, but the replica is
    maintained with ``snapshot_apply_cdc_mor`` — every applied batch
    is ONE O(batch) commit (upserts + covered descriptor, final-D
    keys in an uncovered descriptor) that opens ZERO replica data
    files (tripwired per batch), where the copy-on-write twin
    re-reads the replica's dirty band every epoch. The source takes
    EVERY commit shape this round's feed can carry: a recorded-log
    MERGE with row-level deletes, an equality delete (lazy 'eqdead'
    D rows), a merge-on-read upsert ('U' delta with inserts), and a
    plain append — the restarted drain must fold all four through
    one epoch-keyed mor-apply. After parity, OPTIMIZE materializes
    the replica's accumulated descriptors and the state must still
    hash-match (the read-time anti-joins and the compacted layout
    agree). The oracle reconstructs the final state directly."""
    from ..operators.snapshots import (snapshot_apply_cdc_mor,
                                       snapshot_commit, snapshot_compact,
                                       snapshot_delete_keys,
                                       snapshot_merge, snapshot_read,
                                       snapshot_upsert_keys)
    from ..operators import snapshots as S
    from ..sources.snapshot_source import register_snapshot_source

    register_snapshot_source(spark)
    scratch = _scratch(sf_dir, "stream_snapshot_replication_mor")
    src_dir = os.path.join(scratch, "table_a")
    dst_dir = os.path.join(scratch, "table_b")
    ckpt = os.path.join(scratch, "_ckpt")

    orders = _orders_kpc(spark, sf_dir)
    snapshot_commit(spark, src_dir,
                    orders.filter(F.col("k") <= 600).coalesce(1),
                    mode="append")                                  # v0
    snapshot_commit(spark, src_dir,
                    orders.filter(F.col("k") > 600).coalesce(1),
                    mode="append")                                  # v1
    snapshot_commit(
        spark, dst_dir,
        empty_frame(spark, "k long, pri string, cents long"),
        mode="append")

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # pin the batch before the tripwire (its lineage reads the
        # SOURCE table)
        changes = feed_changes(batch_df).localCheckpoint(eager=True)
        with no_entry_reads(
                "stream_snapshot_replication_mor_parity: the mor-apply"):
            snapshot_apply_cdc_mor(spark, dst_dir, changes, "k",
                                   seq="_commit_version",
                                   op="_change_type",
                                   epoch_key=str(epoch_id))

    def replicate(label: str) -> None:
        drain(spark.readStream.format("snapshot_table")
              .option("cdf", "true").load(src_dir), apply_batch, ckpt)
        if frames_differ(snapshot_read(spark, src_dir),
                         snapshot_read(spark, dst_dir)):
            raise RuntimeError(
                f"stream_snapshot_replication_mor_parity[{label}]: the "
                "replica's rows differ from the source head")

    replicate("first")

    # while NO stream runs, every commit shape the feed can carry:
    src_upd = orders.filter(
        (F.col("k") > 300) & (F.col("k") <= 500)
        & (F.col("k") % 2 == 0)
    ).withColumn("cents", F.col("cents") * 2)
    snapshot_merge(spark, src_dir, src_upd, "k",
                   not_matched_by_source="delete",
                   source_scope=(301, 500))                         # v2
    snapshot_delete_keys(
        spark, src_dir,
        orders.filter((F.col("k") > 100) & (F.col("k") <= 200))
        .select("k"), "k")                                          # v3
    up = orders.filter((F.col("k") > 550) & (F.col("k") <= 650)) \
        .withColumn("cents", F.col("cents") * 5 + 3) \
        .unionByName(inline_dim(
            spark, [(9000002, "MOR", 1), (9000003, "MOR", 2),
                    (9000004, "MOR", 3)], "k long, pri string, cents long"))
    snapshot_upsert_keys(spark, src_dir, up, "k")                   # v4
    snapshot_commit(
        spark, src_dir,
        inline_dim(spark, [(9000001, "NEW", 123)],
                   "k long, pri string, cents long"),
        mode="append")                                              # v5
    replicate("restart")
    # the replica really is merge-on-read: descriptors accumulated
    m = S._read_manifest_meta(
        dst_dir, S.snapshot_current_version(dst_dir))
    if not m.get("eq_deletes"):
        raise RuntimeError(
            "stream_snapshot_replication_mor_parity: the replica has "
            "no equality-delete descriptors — the mor path was not "
            "exercised")
    # OPTIMIZE materializes them; the state must be unchanged
    snapshot_compact(spark, dst_dir, target_files=2)
    m2 = S._read_manifest_meta(
        dst_dir, S.snapshot_current_version(dst_dir))
    if m2.get("eq_deletes"):
        raise RuntimeError(
            "stream_snapshot_replication_mor_parity: OPTIMIZE left "
            "descriptors behind")
    compacted = snapshot_read(spark, dst_dir)
    if frames_differ(compacted, snapshot_read(spark, src_dir)):
        raise RuntimeError(
            "stream_snapshot_replication_mor_parity: compaction "
            "changed the replica's state")
    return compacted


@query(
    "stream_snapshot_source_ratelimited_parity",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_value_cents
    FROM events GROUP BY 1
    """,
)
def stream_snapshot_source_ratelimited_parity(spark: SparkSession,
                                              sf_dir: str) -> DataFrame:
    """ADMISSION CONTROL on the snapshot streaming source (VERDICT r10
    item 1 — its top-ranked scale-killer: ``latestOffset`` used to jump
    straight to the table head, so initial load / catch-up of a large
    table arrived as ONE unbounded micro-batch): six appends land
    BEFORE any stream starts (each written as two files); a consumer
    with ``maxFilesPerTrigger=2`` must then catch up in SIX bounded
    micro-batches — one version per trigger, never more (the gate
    raises if any non-empty batch exceeds one version's rows, or if
    the catch-up collapsed below 3 batches). The stream then STOPS;
    two more appends land; the restarted query (same checkpoint +
    ``cursorLocation``, which persists the admission cursor so the
    bound survives the restart) must consume EXACTLY the remainder in
    exactly two more bounded batches — no re-serve, no loss. The final
    sink hash-matches the whole events fixture only if every version
    arrived exactly once across both drains."""
    from ..operators.snapshots import snapshot_commit
    from ..sources.snapshot_source import register_snapshot_source

    register_snapshot_source(spark)
    scratch = _scratch(sf_dir, "stream_snapshot_ratelimited")
    table_dir = os.path.join(scratch, "table")
    out_dir = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "_ckpt")
    cursor = os.path.join(scratch, "_cursor")

    ev = load_table(spark, sf_dir, "events", rebalance=False).select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.pmod(F.col("event_id"), F.lit(8)).alias("slot"),
    )
    slot_counts = {r["slot"]: r["n"]
                   for r in ev.groupBy("slot").agg(
                       F.count("*").alias("n")).collect()}

    def commit_slot(s: int) -> None:
        snapshot_commit(spark, table_dir,
                        ev.filter(F.col("slot") == s).drop("slot")
                        .repartition(2), mode="append")

    for s in range(6):
        commit_slot(s)

    def run(label: str) -> list[int]:
        """Run the rate-limited stream until it has caught up with the
        head, check the sink against the batch read of the head, and
        return the row counts of the non-empty batches of this run."""
        batch_rows: list[int] = []

        def sink(bdf: DataFrame, epoch_id: int) -> None:
            # single evaluation: count + write used to re-read the
            # Python-source batch twice (numInputRows doubled in the
            # stream progress — guide §1 measured the drain at 2× the
            # write-only floor); persist for the batch's lifetime only
            bdf.persist()
            try:
                n = bdf.count()
                bdf.write.mode("append").parquet(out_dir)
            finally:
                bdf.unpersist()
            if n:
                batch_rows.append(n)

        # a processing-time trigger, not availableNow (which would fix
        # the head once and skip the cursor walk): the admission bound
        # applies per trigger
        drain(spark.readStream.format("snapshot_table")
              .option("maxFilesPerTrigger", "2")
              .option("cursorLocation", cursor)
              .load(table_dir), sink, ckpt)
        check_stream(
            spark, table_dir, out_dir, -1,
            context=f"stream_snapshot_source_ratelimited_parity[{label}]")
        return batch_rows

    batches1 = run("catch-up")
    legal = set(slot_counts.values())
    if len(batches1) < 3:
        raise RuntimeError(
            f"stream_snapshot_source_ratelimited_parity: the 6-version "
            f"catch-up arrived in {len(batches1)} non-empty batches — "
            "admission control did not bound the initial load")
    if any(n not in legal for n in batches1):
        raise RuntimeError(
            f"stream_snapshot_source_ratelimited_parity: a batch served "
            f"{batches1} rows; every bounded batch must be exactly one "
            f"version's rows ({sorted(legal)}) under "
            "maxFilesPerTrigger=2 with 2-file versions")

    # two more versions land while NO stream runs; the restart must
    # consume exactly the remainder, still bounded
    commit_slot(6)
    commit_slot(7)
    batches2 = run("restart")
    if len(batches2) != 2 or any(n not in legal for n in batches2):
        raise RuntimeError(
            f"stream_snapshot_source_ratelimited_parity: the restarted "
            f"catch-up served {batches2} — expected exactly the two new "
            "versions as two bounded batches (cursorLocation keeps the "
            "bound exact across restarts)")

    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum("cents").alias("total_value_cents"))
    )


@query(
    "stream_snapshot_source_skip_changes_parity",
    oracle="""
    WITH ev AS (
        SELECT event_type, event_id % 7 AS k7,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM ev GROUP BY 1
    """,
)
def stream_snapshot_source_skip_changes_parity(spark: SparkSession,
                                               sf_dir: str) -> DataFrame:
    """``skipChangeCommits`` on the PLAIN snapshot stream source
    (Delta's escape hatch, r11): two appends drain and the query
    stops; a CDC rewrite (updates + deletes) and a third append land
    while no stream runs; the restarted query — which WITHOUT the
    option refuses the range (pinned: the refusal error fires first)
    — must skip the rewrite commit entirely and consume EXACTLY the
    new append. The sink therefore holds the ORIGINAL appended rows
    untouched (the documented semantics: updated/deleted rows are
    never re-served — the CDF source is the exact form), which is
    precisely what the whole-events oracle states; the query
    additionally raises unless the head state genuinely DIFFERS from
    the sink by the CDC's row count, so a silently-ignored CDC commit
    cannot fake the pass."""
    from ..operators.snapshots import (snapshot_apply_cdc,
                                       snapshot_commit, snapshot_read)
    from ..sources.snapshot_source import register_snapshot_source

    register_snapshot_source(spark)
    scratch = _scratch(sf_dir, "stream_snapshot_skipcc")
    table_dir = os.path.join(scratch, "table")
    out_dir = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "_ckpt")

    ev = load_table(spark, sf_dir, "events", rebalance=False).select(
        F.pmod(F.col("event_id"), F.lit(7)).alias("k7"),
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.pmod(F.col("event_id"), F.lit(3)).alias("slot"),
    )
    for s in (0, 1):
        snapshot_commit(spark, table_dir,
                        ev.filter(F.col("slot") == s).drop("slot"),
                        mode="append")

    def run(skip: bool) -> None:
        drain(spark.readStream.format("snapshot_table")
              .option("skipChangeCommits", str(skip).lower())
              .load(table_dir), _append_to(out_dir), ckpt)

    run(skip=True)
    check_stream(
        spark, table_dir, out_dir, -1,
        context="stream_snapshot_source_skip_changes_parity[first]")

    # a CDC rewrite + a third append land while NO stream runs
    changes = (ev.filter((F.col("slot") < 2) & (F.col("k7").isin(2, 3)))
               .drop("slot")
               .withColumn("cents",
                           F.when(F.col("k7") == 2,
                                  F.col("cents") * 2 + 1)
                           .otherwise(F.col("cents")))
               .withColumn("seq", F.lit(1))
               .withColumn("op", F.when(F.col("k7") == 3, F.lit("D"))
                           .otherwise(F.lit("U"))))
    n_deleted = changes.filter(F.col("op") == "D").count()
    snapshot_apply_cdc(spark, table_dir, changes, "event_id")
    snapshot_commit(spark, table_dir,
                    ev.filter(F.col("slot") == 2).drop("slot"),
                    mode="append")

    # pinned: WITHOUT the option the restarted stream refuses the range
    check_refuses(
        lambda: run(skip=False), Exception, "skipChangeCommits",
        context="stream_snapshot_source_skip_changes_parity",
        what="the plain source consumed a rewrite commit without "
        "skipChangeCommits — the append-only contract is broken")

    run(skip=True)
    sink_df = spark.read.parquet(out_dir)
    total = ev.count()
    if sink_df.count() != total:
        raise RuntimeError(
            f"stream_snapshot_source_skip_changes_parity: sink holds "
            f"{sink_df.count()} rows, expected {total} — the skipped "
            "drain re-served or lost rows")
    # the head state must genuinely differ (deletes applied there)
    head_n = snapshot_read(spark, table_dir).count()
    if head_n != total - n_deleted:
        raise RuntimeError(
            f"stream_snapshot_source_skip_changes_parity: head holds "
            f"{head_n} rows, expected {total - n_deleted} — the CDC "
            "commit did not actually change the table")
    return (sink_df.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum("cents").alias("total_cents")))


# ---------------------------------------------------------------------------
# r12 (VERDICT r11 item 5): streaming LSH index maintenance over the
# snapshot source — the training-corpus loop (new docs land -> the
# persisted index updates -> near-dups vs the whole corpus are flagged).
# ---------------------------------------------------------------------------
def _lsh_stream_oracle() -> str:
    from ..llm import dedup as _d
    from .llm_text import _EST_MATCHES, _SHINGLES_CTE, _SIG_AGGS

    from .llm_text import _BAND_SELECTS  # noqa: I001  (same module)

    return f"""
    WITH {_SHINGLES_CTE},
    sig AS (
        SELECT doc_id,
           {_SIG_AGGS}
        FROM sh GROUP BY doc_id
    ),
    bands0 AS (
{_BAND_SELECTS}
    ),
    bands AS (
        SELECT doc_id, band_id, band_key, doc_id % 4 AS batch
        FROM bands0
    ),
    bcum AS (
        SELECT band_id, band_key, batch,
               SUM(COUNT(*)) OVER (PARTITION BY band_id, band_key
                                   ORDER BY batch) AS cum
        FROM bands GROUP BY band_id, band_key, batch
    ),
    cand AS (
        SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                        greatest(a.doc_id, b.doc_id) AS doc_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id
                    AND a.band_key = b.band_key
                    AND a.doc_id != b.doc_id
        JOIN bcum c ON c.band_id = a.band_id
                   AND c.band_key = a.band_key
                   AND c.batch = greatest(a.batch, b.batch)
        WHERE c.cum <= {_d.MAX_BUCKET_SIZE}
    )
    SELECT doc_a, doc_b,
           ROUND(({_EST_MATCHES}) / {float(_d.N_HASHES)}, 4)
               AS est_jaccard
    FROM cand
    JOIN sig sa ON sa.doc_id = doc_a
    JOIN sig sb ON sb.doc_id = doc_b
    WHERE ROUND(({_EST_MATCHES}) / {float(_d.N_HASHES)}, 4) >= 0.5
    """


@query("stream_lsh_index_maintenance_parity", oracle=_lsh_stream_oracle())
def stream_lsh_index_maintenance_parity(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """STREAMING LSH INDEX MAINTENANCE (VERDICT r11 item 5 — both
    halves existed, nothing composed them): documents land in a source
    snapshot table as four batches; a rate-limited snapshot-source
    stream (maxFilesPerTrigger=1 + cursorLocation: one ingest batch
    per trigger) drives a ``foreachBatch`` consumer that (1) probes
    the new batch against the PERSISTED index tables
    (llm/dedup.py:probe_lsh_index — new-vs-corpus and new-vs-new,
    never old-vs-old), (2) appends the emitted pairs, the batch
    signatures, and the batch's band rows into three snapshot tables
    — every commit EPOCH-KEYED, so a replayed micro-batch applies
    exactly once (an applied epoch short-circuits before the probe:
    re-probing against an index that already holds the batch would be
    the classic replay corruption). The drain STOPS after two ingest
    batches, two more land, and the restarted stream (same checkpoint
    + cursor) finishes the corpus — cross-restart exactly-once.

    Pinned in-gate: the final index tables hash-match the ONE-SHOT
    batch build on the whole corpus (build_lsh_index — signatures and
    band rows, both directions of exceptAll empty), at least one pair
    CROSSES ingest batches, and at least one pair is discovered after
    the restart. The returned pair table hashes against the oracle's
    incremental restatement: a pair (a, b) exists iff some band
    bucket joins them while the bucket's CUMULATIVE size at
    ingest-time max(batch_a, batch_b) is within the hot-bucket cap —
    exactly probe_lsh_index's cap-at-probe-time semantics (cite:
    minhash_lsh_pairs caps on the FULL corpus instead, so a one-shot
    pair restatement would be wrong whenever a bucket crosses the cap
    mid-stream)."""
    from ..llm import dedup
    from ..operators.snapshots import (_epoch_applied, _resolve_version,
                                       snapshot_commit, snapshot_read)
    from ..sources.snapshot_source import register_snapshot_source

    register_snapshot_source(spark)
    scratch = _scratch(sf_dir, "stream_lsh_index")
    src = os.path.join(scratch, "src")
    sig_t = os.path.join(scratch, "index_sig")
    bands_t = os.path.join(scratch, "index_bands")
    pairs_t = os.path.join(scratch, "pairs")
    ckpt = os.path.join(scratch, "_ckpt")
    cursor = os.path.join(scratch, "_cursor")

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.pmod(F.col("doc_id"), F.lit(4)).alias("slot"))
    n_docs = docs.count()
    slot_counts = {r["slot"]: r["n"] for r in
                   docs.groupBy("slot").agg(F.count("*").alias("n"))
                   .collect()}

    # empty index tables up front: the first probe is against an empty
    # corpus (probe == in-batch pairs), so the sink has ONE shape
    empty_docs = docs.drop("slot").limit(0)
    sig0, bands0 = dedup.build_lsh_index(empty_docs)
    snapshot_commit(spark, sig_t, sig0, mode="append")
    snapshot_commit(spark, bands_t, bands0, mode="append")
    snapshot_commit(
        spark, pairs_t,
        empty_frame(spark, "doc_a long, doc_b long, est_jaccard double"),
        mode="append")

    def commit_slot(s: int) -> None:
        snapshot_commit(spark, src,
                        docs.filter(F.col("slot") == s).drop("slot")
                        .coalesce(1), mode="append")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # one materialization: the old isEmpty() probe was its own
        # Python-source scan before localCheckpoint re-read the batch
        # (guide §4.1: pay the JVM↔Python boundary once per batch)
        batch = batch_df.localCheckpoint(eager=True)
        if batch.isEmpty():
            return
        # exactly-once: an applied epoch must short-circuit BEFORE the
        # probe — the index already holds this batch's ids, and
        # probe_lsh_index (correctly) refuses overlapping ids
        if _epoch_applied(_resolve_version(sig_t, None), str(epoch_id)):
            return
        idx_sig = snapshot_read(spark, sig_t)
        idx_bands = snapshot_read(spark, bands_t)
        # one signature pass per batch: the commits below and the probe
        # share the materialized index frames (before, the probe
        # checkpointed its own copies and each index commit re-ran the
        # MinHash pipeline — four signature passes per micro-batch)
        new_sig, new_bands = dedup.build_lsh_index(batch,
                                                   checkpoint=True)
        pairs = dedup.probe_lsh_index(idx_sig, idx_bands, batch,
                                      new_index=(new_sig, new_bands))
        # pairs first: a crash after it leaves the index WITHOUT the
        # batch, so the replayed probe recomputes the identical pairs
        # (its commit then no-ops); index commits go bands-then-sig so
        # the sig table's epoch is the LAST thing to advance — the
        # short-circuit above can never skip a half-applied epoch
        snapshot_commit(spark, pairs_t, pairs, mode="append",
                        epoch_key=str(epoch_id))
        snapshot_commit(spark, bands_t, new_bands, mode="append",
                        epoch_key=str(epoch_id))
        snapshot_commit(spark, sig_t, new_sig, mode="append",
                        epoch_key=str(epoch_id))

    def run(expect_sigs: int, label: str) -> None:
        # one ingest batch per trigger: a processing-time trigger, so
        # the cursor walk admits one version at a time
        drain(spark.readStream.format("snapshot_table")
              .option("maxFilesPerTrigger", "1")
              .option("cursorLocation", cursor)
              .load(src), sink, ckpt)
        got = snapshot_read(spark, sig_t).count()
        if got != expect_sigs:
            raise RuntimeError(
                f"stream_lsh_index_maintenance_parity[{label}]: index "
                f"holds {got} signatures, expected {expect_sigs} — "
                + ("a replayed batch re-applied"
                   if got > expect_sigs else "the drain lost a batch"))

    commit_slot(0)
    commit_slot(1)
    run(slot_counts[0] + slot_counts[1], "first")
    pairs_mid = snapshot_read(spark, pairs_t).count()
    commit_slot(2)
    commit_slot(3)
    run(n_docs, "restart")

    # the one-shot batch build must equal the streamed index exactly
    # (materialized once: each side feeds two exceptAll directions)
    full_sig, full_bands = dedup.build_lsh_index(docs.drop("slot"),
                                                 checkpoint=True)
    got_sig = snapshot_read(spark, sig_t)
    got_bands = snapshot_read(spark, bands_t)
    if frames_differ(got_sig, full_sig):
        raise RuntimeError(
            "stream_lsh_index_maintenance_parity: the streamed "
            "signature index diverged from the one-shot batch build")
    if frames_differ(got_bands, full_bands):
        raise RuntimeError(
            "stream_lsh_index_maintenance_parity: the streamed band "
            "index diverged from the one-shot batch build")
    pairs = snapshot_read(spark, pairs_t)
    cross = pairs.filter(
        F.pmod(F.col("doc_a"), F.lit(4)) != F.pmod(F.col("doc_b"),
                                                   F.lit(4)))
    if cross.isEmpty():
        raise RuntimeError(
            "stream_lsh_index_maintenance_parity: no pair crosses "
            "ingest batches — the new-vs-corpus claim is vacuous")
    if pairs.count() <= pairs_mid:
        raise RuntimeError(
            "stream_lsh_index_maintenance_parity: the restarted drain "
            "discovered no pairs — the post-restart probe is vacuous")
    return pairs


def _ivf_stream_oracle() -> str:
    """Serial restatement of the streaming IVF maintenance lifecycle
    (r13): ingest transform (slots 0-1 all-positive |v|, slots 2-3
    all-negative -|v|), seed centroids (slot-0 ids < 32), the ONE
    drift retrain (a single Lloyd step over slots 0-2 seeded with the
    current centroids plus the triggering batch's first 8 ids), the
    final full reassignment against the retrained centroids, and the
    cluster-scoped top-3 probe. Everything rounds at 6 digits exactly
    where the Spark side does."""
    cos = ("ROUND(list_inner_product({a}, {b}) / "
           "sqrt(list_inner_product({a}, {a}) * "
           "list_inner_product({b}, {b})), 6)")
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ing AS (
        SELECT vec_id,
               CASE WHEN vec_id % 4 < 2
                    THEN list_transform(v, x -> abs(x))
                    ELSE list_transform(v, x -> -abs(x)) END AS v
        FROM e
    ),
    seeds AS (
        SELECT vec_id AS cid, v FROM ing
        WHERE vec_id < 32 AND vec_id % 4 IN (0, 2)
    ),
    corpus012 AS (SELECT * FROM ing WHERE vec_id % 4 IN (0, 1, 2)),
    scored0 AS (
        SELECT t.vec_id, s.cid,
               {cos.format(a='s.v', b='t.v')} AS sim
        FROM corpus012 t CROSS JOIN seeds s
    ),
    assign0 AS (
        SELECT vec_id, cid FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
            FROM scored0) WHERE rn = 1
    ),
    c1_rows AS (
        SELECT a.cid AS cluster_id,
               generate_subscripts(t.v, 1) AS pos, unnest(t.v) AS val
        FROM corpus012 t JOIN assign0 a ON t.vec_id = a.vec_id
    ),
    c1_flat AS (
        SELECT cluster_id, CAST(pos AS BIGINT) AS pos,
               ROUND(AVG(val), 6) AS c
        FROM c1_rows GROUP BY 1, 2
    ),
    c1 AS (
        SELECT cluster_id, list(c ORDER BY pos) AS v
        FROM c1_flat GROUP BY 1
    ),
    scored1 AS (
        SELECT t.vec_id, c.cluster_id,
               {cos.format(a='c.v', b='t.v')} AS sim
        FROM ing t CROSS JOIN c1 c
    ),
    final_assign AS (
        SELECT vec_id, cluster_id, sim FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cluster_id) AS rn
            FROM scored1) WHERE rn = 1
    ),
    queries AS (
        SELECT i.vec_id AS qid, i.v AS qv, fa.cluster_id
        FROM ing i JOIN final_assign fa ON i.vec_id = fa.vec_id
        WHERE i.vec_id < 4
    ),
    cand AS (
        SELECT q.qid, t.vec_id AS nid,
               {cos.format(a='q.qv', b='t.v')} AS sim
        FROM queries q
        JOIN final_assign fa ON fa.cluster_id = q.cluster_id
        JOIN ing t ON t.vec_id = fa.vec_id
        WHERE t.vec_id <> q.qid
    ),
    topk AS (
        SELECT qid, nid, sim FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY qid ORDER BY sim DESC, nid) AS rn
            FROM cand) WHERE rn <= 3
    )
    SELECT 'assign' AS section, vec_id AS id_a,
           cluster_id AS id_b, sim AS val FROM final_assign
    UNION ALL
    SELECT 'cent', cluster_id, pos, c FROM c1_flat
    UNION ALL
    SELECT 'topk', qid, nid, sim FROM topk
    """


@query("stream_ivf_index_maintenance_parity",
       oracle=_ivf_stream_oracle())
def stream_ivf_index_maintenance_parity(spark: SparkSession,
                                        sf_dir: str) -> DataFrame:
    """STREAMING IVF INDEX MAINTENANCE (r13, VERDICT r12 item 3 —
    compose the ANN half the way r12 composed LSH): embedding batches
    land in a source snapshot table; a rate-limited snapshot-source
    stream drives a ``foreachBatch`` maintainer that (1) assigns each
    new batch against the PERSISTED centroid table
    (llm/similarity.py:ivf_assign), (2) appends the assignments to the
    index — every commit EPOCH-KEYED for exactly-once — and (3)
    watches ASSIGNMENT ENERGY (the batch's mean max-cosine): a batch
    whose energy degrades below 0.5 triggers a RETRAIN — one Lloyd
    step (kmeans_step/centroids_from_rows) over the indexed corpus
    seeded with the current centroids plus the batch's first 8
    vectors (codebook growth on drift), then a FULL reassignment, as
    epoch-keyed overwrites ordered so a replay at any crash point
    converges (centroids commit before the reassignment; a replay
    that finds the centroid epoch already applied skips straight to
    the reassignment).

    Fixture: slots 0-1 are |v| (all-positive — energy ~0.72 against
    the slot-0 seed centroids), slots 2-3 are -|v| (all-negative —
    energy ~-0.57 against them, far below the 0.5 threshold, and
    ~+0.8 after the retrain, far above it) — the drift fires exactly
    once, at slot 2, at ANY scale factor. The drain stops after two
    slots, two more land, the restarted stream (same checkpoint +
    cursor) finishes — the retrain happens in the POST-RESTART half.

    Pinned in-gate: the maintained index equals the ONE-SHOT
    ivf_assign of the full ingested corpus against the final
    centroids (both exceptAll directions), exactly one retrain
    happened (centroid generation 1, centroid-table version 1), and
    the probe leg answers cluster-scoped top-3 from the MAINTAINED
    tables. Hash sections: ``assign`` (the index), ``cent`` (the
    retrained centroids as scalar rows), ``topk`` (the probe)."""
    from ..llm import similarity as sim
    from ..operators.snapshots import (_epoch_applied, _resolve_version,
                                       snapshot_commit,
                                       snapshot_current_version,
                                       snapshot_read)
    from ..sources.snapshot_source import register_snapshot_source

    register_snapshot_source(spark)
    scratch = _scratch(sf_dir, "stream_ivf_index")
    src = os.path.join(scratch, "src")
    vecs_t = os.path.join(scratch, "index_vecs")
    cent_t = os.path.join(scratch, "index_cent")
    assign_t = os.path.join(scratch, "index_assign")
    ckpt = os.path.join(scratch, "_ckpt")
    cursor = os.path.join(scratch, "_cursor")
    ENERGY_FLOOR = 0.5

    emb = load_table(spark, sf_dir, "embeddings")
    ing = emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 4 < 2,
               F.expr("transform(embedding, x -> abs(x))"))
        .otherwise(F.expr("transform(embedding, x -> -abs(x))"))
        .alias("embedding"))
    n_vecs = ing.count()
    slot_counts = {r["slot"]: r["n"] for r in
                   ing.groupBy(F.pmod(F.col("vec_id"), F.lit(4))
                               .alias("slot"))
                   .agg(F.count("*").alias("n")).collect()}

    c0 = ing.filter((F.col("vec_id") % 4 == 0) & (F.col("vec_id") < 32)) \
        .select(F.col("vec_id").alias("centroid_id"), "embedding",
                F.lit(0).cast("long").alias("generation"))
    snapshot_commit(spark, cent_t, c0.coalesce(1))
    snapshot_commit(spark, vecs_t, ing.limit(0), mode="append")
    snapshot_commit(
        spark, assign_t,
        empty_frame(spark, "vec_id long, cluster_id long, similarity double"),
        mode="append")

    def commit_slot(s: int) -> None:
        snapshot_commit(spark, src,
                        ing.filter(F.col("vec_id") % 4 == s)
                        .coalesce(1), mode="append")

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # one materialization (see the LSH sink's note)
        batch = batch_df.localCheckpoint(eager=True)
        if batch.isEmpty():
            return
        # exactly-once: the ASSIGN table's epoch is the last thing any
        # path advances, so an applied epoch short-circuits everything
        if _epoch_applied(_resolve_version(assign_t, None), str(epoch_id)):
            return
        cents = snapshot_read(spark, cent_t)
        if _epoch_applied(_resolve_version(cent_t, None), str(epoch_id)):
            # replay after a crash BETWEEN the centroid overwrite and
            # the reassignment: centroids are current for this epoch —
            # skip straight to the full reassignment
            snapshot_commit(spark, vecs_t, batch, mode="append",
                            epoch_key=str(epoch_id))
            corpus = snapshot_read(spark, vecs_t)
            full = sim.ivf_assign(
                corpus, cents.select("centroid_id", "embedding"))
            snapshot_commit(spark, assign_t, full, mode="overwrite",
                            epoch_key=str(epoch_id))
            return
        assign_b = sim.ivf_assign(
            batch, cents.select("centroid_id", "embedding")) \
            .localCheckpoint(eager=True)
        energy = assign_b.agg(F.avg("similarity")).first()[0]
        if energy is not None and energy >= ENERGY_FLOOR:
            snapshot_commit(spark, vecs_t, batch, mode="append",
                            epoch_key=str(epoch_id))
            snapshot_commit(spark, assign_t, assign_b, mode="append",
                            epoch_key=str(epoch_id))
            return
        # DRIFT: retrain. vecs first (the corpus the retrain sees),
        # then centroids, then the reassignment — every commit keyed,
        # so a replay at any crash point converges on this state.
        snapshot_commit(spark, vecs_t, batch, mode="append",
                        epoch_key=str(epoch_id))
        corpus = snapshot_read(spark, vecs_t)
        gen = cents.agg(F.max("generation")).first()[0]
        grow = batch.orderBy("vec_id").limit(8).select(
            F.col("vec_id").alias("centroid_id"), "embedding")
        seeds = cents.select("centroid_id", "embedding") \
            .unionByName(grow)
        # materialize once: the centroid commit AND the full
        # reassignment below both consume this frame — lazy, each
        # would re-run the Lloyd step's corpus join+aggregate
        new_cents = sim.centroids_from_rows(
            sim.kmeans_step(corpus, seeds)).withColumn(
            "generation", F.lit(gen + 1).cast("long")) \
            .localCheckpoint(eager=True)
        snapshot_commit(spark, cent_t, new_cents.coalesce(1),
                        mode="overwrite", epoch_key=str(epoch_id))
        full = sim.ivf_assign(
            corpus, new_cents.select("centroid_id", "embedding"))
        snapshot_commit(spark, assign_t, full, mode="overwrite",
                        epoch_key=str(epoch_id))

    def run(expect: int, label: str) -> None:
        # one ingest batch per trigger (see the LSH gate)
        drain(spark.readStream.format("snapshot_table")
              .option("maxFilesPerTrigger", "1")
              .option("cursorLocation", cursor)
              .load(src), sink, ckpt)
        got = snapshot_read(spark, assign_t).count()
        if got != expect:
            raise RuntimeError(
                f"stream_ivf_index_maintenance_parity[{label}]: index "
                f"holds {got} assignments, expected {expect}")

    commit_slot(0)
    commit_slot(1)
    run(slot_counts[0] + slot_counts[1], "first")
    if snapshot_current_version(cent_t) != 0:
        raise RuntimeError(
            "stream_ivf_index_maintenance_parity: the pre-drift half "
            "retrained — the energy floor fired early")
    commit_slot(2)
    commit_slot(3)
    run(n_vecs, "restart")

    cents = snapshot_read(spark, cent_t).localCheckpoint(eager=True)
    gen = cents.agg(F.max("generation")).first()[0]
    if gen != 1 or snapshot_current_version(cent_t) != 1:
        raise RuntimeError(
            f"stream_ivf_index_maintenance_parity: expected exactly "
            f"one drift retrain (generation 1, centroid version 1), "
            f"got generation {gen}, version "
            f"{snapshot_current_version(cent_t)}")
    # the maintained index == the one-shot assignment of the full
    # ingested corpus against the final centroids
    got = snapshot_read(spark, assign_t).localCheckpoint(eager=True)
    oneshot = sim.ivf_assign(
        ing, cents.select("centroid_id", "embedding")) \
        .localCheckpoint(eager=True)
    if frames_differ(got, oneshot):
        raise RuntimeError(
            "stream_ivf_index_maintenance_parity: the maintained "
            "index diverged from the one-shot build")

    # probe leg from the MAINTAINED tables: cluster-scoped top-3
    vecs = snapshot_read(spark, vecs_t)
    q = (vecs.filter(F.col("vec_id") < 4)
         .select(F.col("vec_id").alias("qid"),
                 F.col("embedding").alias("qv"))
         .join(got.select(F.col("vec_id").alias("qid"), "cluster_id"),
               "qid"))
    cand = (q.join(got.select(F.col("vec_id").alias("nid"),
                              "cluster_id"), "cluster_id")
            .filter(F.col("nid") != F.col("qid"))
            .join(vecs.select(F.col("vec_id").alias("nid"),
                              F.col("embedding").alias("nv")), "nid")
            .withColumn("val", F.round(
                sim.cosine(F.col("qv"), F.col("nv")), 6)))
    wq = W.partitionBy("qid").orderBy(F.col("val").desc(), F.col("nid"))
    topk = (cand.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= 3).select("qid", "nid", "val"))

    cent_rows = cents.select(
        F.col("centroid_id").alias("id_a"),
        F.posexplode("embedding").alias("pos0", "val")) \
        .select("id_a", (F.col("pos0") + 1).cast("long").alias("id_b"),
                F.round(F.col("val"), 6).alias("val"))
    return (got.select(F.lit("assign").alias("section"),
                       F.col("vec_id").alias("id_a"),
                       F.col("cluster_id").alias("id_b"),
                       F.col("similarity").alias("val"))
            .unionByName(cent_rows.select(
                F.lit("cent").alias("section"), "id_a", "id_b", "val"))
            .unionByName(topk.select(
                F.lit("topk").alias("section"),
                F.col("qid").alias("id_a"),
                F.col("nid").alias("id_b"), "val")))
