"""Structured Streaming: the events source consumed incrementally must
reproduce the batch aggregates once the stream drains."""

import shutil

import pytest
from pyspark.sql import functions as F

from data_pipeline_stripe_spark import streaming
from data_pipeline_stripe_spark.sources import load_table


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory, sf_dir):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    return str(d)


def test_windowed_counts_match_batch(spark, sf_dir, stream_dir):
    stream = streaming.read_event_stream(spark, stream_dir)
    assert stream.isStreaming
    agg = streaming.windowed_event_counts(stream, window="1 hour")
    # complete mode: append would hold back windows the watermark hasn't
    # passed yet (the tail of a finite stream never finalizes)
    streaming.run_to_memory(agg, "win_counts", output_mode="complete")
    out = spark.sql("SELECT * FROM win_counts")
    total_streamed = out.agg(F.sum("n_events")).collect()[0][0]
    total_batch = load_table(spark, sf_dir, "events").count()
    assert total_streamed == total_batch
    # batch twin: same windowed aggregation over the static table
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )
    b = {(r.window_start, r.event_type): r.n_events for r in batch.collect()}
    s = {(r.window_start, r.event_type): r.n_events for r in out.collect()}
    assert s == b


def test_stateful_running_totals(spark, sf_dir, stream_dir):
    """The applyInPandasWithState operator's final per-key state must
    equal the batch groupBy totals once the stream drains."""
    stream = streaming.read_event_stream(spark, stream_dir)
    out = streaming.stateful_running_totals(stream)
    streaming.run_to_memory(out, "running_totals", output_mode="update")
    # update mode emits one row per key per batch; the LAST emission per
    # key is the final state
    final = {
        r.event_type: (r.n_events, r.total_value)
        for r in spark.sql(
            "SELECT event_type, n_events, total_value FROM ("
            "  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type "
            "         ORDER BY n_events DESC) AS rn FROM running_totals"
            ") WHERE rn = 1").collect()
    }
    batch = {
        r.event_type: (r.n, round(r.v, 2))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert final == batch


def test_multimodal_payload_chunking(spark, sf_dir):
    from data_pipeline_stripe_spark.llm import multimodal
    from data_pipeline_stripe_spark.sources import load_table as lt

    docs = lt(spark, sf_dir, "documents").limit(20)
    media = multimodal.attach_binary_payload(docs)
    frames = multimodal.sample_payload_chunks(media, every_n=50)
    per_doc = {r.doc_id: r.cnt for r in
               frames.groupBy("doc_id").agg(F.count("*").alias("cnt")).collect()}
    sizes = {r.doc_id: r.n_bytes for r in media.collect()}
    for doc_id, cnt in per_doc.items():
        assert cnt == -(-sizes[doc_id] // 50)   # ceil(n_bytes / 50)
    # (the real BMP resize path is covered in test_multimodal_real.py;
    # the former fake-decoder resize_images was removed)


def test_stream_dedup_collapses_replayed_input(spark, sf_dir, tmp_path):
    """An at-least-once source (the same blob delivered twice) must
    collapse to exactly-once rows through the watermarked streaming
    dedup."""
    d = tmp_path / "dup_stream"
    d.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", d / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", d / "b.parquet")  # replay
    stream = streaming.read_event_stream(spark, str(d))
    deduped = streaming.dedup_event_stream(stream)
    streaming.run_to_memory(deduped, "dedup_out", output_mode="append")
    n_unique = spark.sql("SELECT COUNT(DISTINCT event_id) FROM dedup_out").collect()[0][0]
    n_rows = spark.sql("SELECT COUNT(*) FROM dedup_out").collect()[0][0]
    n_batch = load_table(spark, sf_dir, "events").count()
    assert n_rows == n_unique == n_batch


def test_stream_stream_join_matches_batch(spark, sf_dir, stream_dir):
    """The watermarked stream-stream attribution join must produce the
    same pair set as the identical join on static DataFrames."""
    s1 = streaming.read_event_stream(spark, stream_dir)
    s2 = streaming.read_event_stream(spark, stream_dir)
    joined = streaming.purchase_click_attribution(
        s1.filter(F.col("event_type") == "purchase"),
        s2.filter(F.col("event_type") == "click"),
    )
    streaming.run_to_memory(joined, "attribution", output_mode="append")
    got = {(r.purchase_id, r.click_id)
           for r in spark.sql("SELECT * FROM attribution").collect()}
    ev = load_table(spark, sf_dir, "events")
    batch = streaming.purchase_click_attribution(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    )
    expected = {(r.purchase_id, r.click_id) for r in batch.collect()}
    assert got == expected and len(expected) > 0


def test_foreachbatch_sink_is_idempotent(spark, stream_dir, tmp_path):
    """Running the same finite stream into the exactly-once sink twice
    yields identical on-disk content (replay rewrites, never appends)."""
    out = str(tmp_path / "agg_out")

    def run_once(name):
        stream = streaming.read_event_stream(spark, stream_dir)
        agg = (
            stream.groupBy("event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
        )
        streaming.write_partitioned_exactly_once(agg, out, "event_type")
        return sorted(
            (r.event_type, r.n, r.v)
            for r in spark.read.parquet(out).collect()
        )

    import shutil

    first = run_once("a")
    shutil.rmtree(f"{out}/_checkpoint")   # force full replay
    second = run_once("b")
    assert first == second and len(first) == 5


def test_drain_stops_the_query_when_the_sink_raises(spark, stream_dir,
                                                   tmp_path):
    """drain re-raises a foreachBatch error and leaves no query
    running; a drain whose sink succeeds runs each batch once."""
    def boom(batch_df, epoch_id):
        raise ValueError("sink failed on purpose")

    stream = streaming.read_event_stream(spark, stream_dir)
    with pytest.raises(Exception, match="sink failed on purpose"):
        streaming.drain(stream, boom, str(tmp_path / "ckpt_a"))
    assert spark.streams.active == []

    epochs = []
    streaming.drain(stream, lambda b, e: epochs.append(e),
                    str(tmp_path / "ckpt_b"))
    assert epochs == [0] and spark.streams.active == []


def test_snapshot_source_drain_serves_versions_after_a_sink_crash(
        spark, tmp_path):
    """A ``snapshot_table`` drain whose sink crashes inside a batch
    leaves that batch planned but uncommitted in its checkpoint.
    Restarted after two more versions were committed, the drain replays
    the crashed batch and serves those versions too. Under
    ``availableNow`` Spark falls back to one Trigger.Once batch for this
    source, and the restarted drain stopped after the replay."""
    from data_pipeline_stripe_spark.operators.snapshots import \
        snapshot_commit
    from data_pipeline_stripe_spark.sources.snapshot_source import \
        register_snapshot_source

    register_snapshot_source(spark)
    t, ckpt = str(tmp_path / "t"), str(tmp_path / "ckpt")

    def commit(lo):
        snapshot_commit(spark, t, spark.createDataFrame(
            [(k,) for k in range(lo, lo + 10)], "k long"))

    def crash(batch_df, epoch_id):
        raise ValueError("sink crashed inside the batch")

    commit(0)
    commit(10)
    with pytest.raises(Exception, match="sink crashed inside the batch"):
        streaming.drain(spark.readStream.format("snapshot_table").load(t),
                        crash, ckpt)
    commit(20)
    commit(30)
    seen = []
    streaming.drain(spark.readStream.format("snapshot_table").load(t),
                    lambda b, e: seen.extend(r.k for r in b.collect()),
                    ckpt)
    assert sorted(seen) == list(range(40))


def test_session_windows_smoke(spark, stream_dir):
    stream = streaming.read_event_stream(spark, stream_dir)
    agg = streaming.sessionized_event_counts(stream, gap="30 minutes")
    streaming.run_to_memory(agg, "sess_counts")
    rows = spark.sql("SELECT * FROM sess_counts").collect()
    assert len(rows) > 0
    assert all(r.session_end > r.session_start and r.n_events > 0 for r in rows)


def test_stream_static_enrichment_matches_batch(spark, sf_dir, stream_dir):
    """Stream-static broadcast-dim join: the drained stream's enriched
    rows must equal the same left join run in batch, including events
    whose key has no dim row (null category)."""
    dim = spark.createDataFrame(
        [("purchase", "commerce"), ("click", "engagement"),
         ("view", "engagement")],
        "event_type string, category string",
    )
    stream = streaming.read_event_stream(spark, stream_dir)
    enriched = streaming.enrich_with_dim(stream, dim).select(
        "event_id", "event_type", "category"
    )
    streaming.run_to_memory(enriched, "enriched_events",
                            output_mode="append")
    out = spark.sql("SELECT * FROM enriched_events")
    batch = (
        load_table(spark, sf_dir, "events")
        .join(F.broadcast(dim), "event_type", "left")
        .select("event_id", "event_type", "category")
    )
    b = {(r.event_id, r.event_type, r.category) for r in batch.collect()}
    s = {(r.event_id, r.event_type, r.category) for r in out.collect()}
    assert s == b and len(s) == batch.count()


@pytest.fixture(scope="module")
def multi_batch_dir(tmp_path_factory, sf_dir):
    """Events split into 4 time-ordered parquet files with ascending
    mtimes, so the file source (maxFilesPerTrigger=1, oldest-first)
    replays them as 4 separate micro-batches — state genuinely crosses
    batch boundaries, unlike the single-file stream_dir fixture."""
    import os
    import time

    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("events_multibatch")
    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    tbl = tbl.sort_by("ts")
    n = tbl.num_rows
    cuts = [0, n // 4, n // 2, 3 * n // 4, n]
    now = time.time()
    for i in range(4):
        path = str(d / f"part-{i:04d}.parquet")
        pq.write_table(tbl.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        os.utime(path, (now + i, now + i))  # force oldest-first order
    return str(d)


def test_stateful_totals_carry_state_across_micro_batches(
        spark, sf_dir, multi_batch_dir):
    """Batch parity for applyInPandasWithState where the state MUST
    survive micro-batch boundaries: the stream arrives as 4 time-ordered
    files consumed one per trigger, so a key's totals only match the
    batch groupBy if GroupState accumulated across all 4 batches."""
    stream = streaming.read_event_stream(spark, multi_batch_dir,
                                         max_files_per_trigger=1)
    out = streaming.stateful_running_totals(stream)
    streaming.run_to_memory(out, "running_totals_mb", output_mode="update")
    emissions = spark.sql("SELECT * FROM running_totals_mb")
    # every key appears in each of the 4 batches at this fixture size —
    # multiple emissions per key prove the operator really ran
    # incrementally, not in one collapsed batch
    per_key = {
        r.event_type: r.n
        for r in emissions.groupBy("event_type")
        .agg(F.count("*").alias("n")).collect()
    }
    assert per_key and all(n > 1 for n in per_key.values())
    final = {
        r.event_type: (r.n_events, r.total_value)
        for r in spark.sql(
            "SELECT event_type, n_events, total_value FROM ("
            "  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type "
            "         ORDER BY n_events DESC) AS rn FROM running_totals_mb"
            ") WHERE rn = 1").collect()
    }
    batch = {
        r.event_type: (r.n, round(r.v, 2))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert final == batch


def test_attribution_full_row_parity_across_micro_batches(
        spark, sf_dir, multi_batch_dir):
    """Stream-stream attribution over 4 micro-batches must reproduce the
    batch twin ROW FOR ROW (ids, user and both timestamps) — join state
    buffered from earlier batches has to pair with purchases arriving
    later, and the watermark must not evict anything still inside the
    30-minute attribution window."""
    s1 = streaming.read_event_stream(spark, multi_batch_dir,
                                     max_files_per_trigger=1)
    s2 = streaming.read_event_stream(spark, multi_batch_dir,
                                     max_files_per_trigger=1)
    joined = streaming.purchase_click_attribution(
        s1.filter(F.col("event_type") == "purchase"),
        s2.filter(F.col("event_type") == "click"),
    )
    streaming.run_to_memory(joined, "attribution_mb", output_mode="append")
    got = {
        (r.purchase_id, r.click_id, r.user_id, r.p_ts, r.c_ts)
        for r in spark.sql("SELECT * FROM attribution_mb").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = streaming.purchase_click_attribution(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    )
    expected = {
        (r.purchase_id, r.click_id, r.user_id, r.p_ts, r.c_ts)
        for r in batch.collect()
    }
    assert got == expected and len(expected) > 0


def test_streaming_cdc_merge_matches_one_shot_apply(spark, tmp_path):
    """Continuous MERGE parity: a CDC stream applied batch-by-batch
    (foreachBatch + apply_cdc + table rewrite) must land on exactly the
    state of applying ALL changes at once — upserts, latest-wins
    supersedes, and deletes included. Three time-ordered change files
    arrive as three micro-batches (ascending seq across batches, which
    is the ordering contract a CDC source provides)."""
    import os
    import time

    from data_pipeline_stripe_spark.operators.merge import apply_cdc
    from data_pipeline_stripe_spark.streaming.events import (
        merge_stream_into_table)

    table_dir = str(tmp_path / "state_table")
    base = spark.createDataFrame(
        [(i, f"v{i}", i * 10) for i in range(20)], "k long, v string, w long"
    )
    base.write.parquet(table_dir)

    batches = [
        # batch 0: upsert evens 0..8, delete k=1
        [(k, f"b0_{k}", k, 100 + k, "U") for k in range(0, 10, 2)]
        + [(1, "x", 0, 109, "D")],
        # batch 1: supersede k=0 twice within the batch (latest wins),
        # insert new keys 30/31, delete k=2 (upserted in batch 0)
        [(0, "b1_first", 0, 200, "U"), (0, "b1_last", 0, 201, "U"),
         (30, "new30", 0, 202, "U"), (31, "new31", 0, 203, "U"),
         (2, "x", 0, 204, "D")],
        # batch 2: delete a never-seen key (no-op) and re-insert k=1
        [(99, "x", 0, 300, "D"), (1, "back", 1, 301, "U")],
    ]
    stream_dir = tmp_path / "changes"
    stream_dir.mkdir()
    now = time.time()
    schema = "k long, v string, w long, seq long, op string"
    for i, rows in enumerate(batches):
        p = str(stream_dir / f"chg-{i:04d}.parquet")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite").parquet(p)
        os.utime(p, (now + i, now + i))

    changes = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "*"))
    )
    merge_stream_into_table(changes, table_dir, "k")

    got = {(r.k, r.v, r.w)
           for r in spark.read.parquet(table_dir).collect()}
    all_changes = spark.createDataFrame(
        [r for rows in batches for r in rows], schema)
    want = {(r.k, r.v, r.w)
            for r in apply_cdc(base, all_changes, "k").drop(
                "cdc_action").collect()}
    assert got == want
    # spot-check the interesting keys
    by_k = {k: (v, w) for k, v, w in got}
    assert by_k[0] == ("b1_last", 0)      # latest-wins across batches
    assert by_k[1] == ("back", 1)         # deleted then re-inserted
    assert 2 not in by_k and 99 not in by_k
    assert by_k[30] == ("new30", 0)


@pytest.fixture(scope="module")
def late_data_dir(tmp_path_factory):
    """Three hand-built micro-batch files for watermark EVICTION
    semantics: batch 0 has two 09:xx clicks plus a 12:00 row; batch 1's
    12:10 row runs under watermark 11:00 (watermark updates lag one
    batch), finalizing and EVICTING the 09:00 window; batch 2 replays a
    LATE 09:40 click — its window is behind the committed watermark, so
    it must be dropped, not re-opened. (A late row landing in the SAME
    batch the watermark first passes its window is still merged before
    eviction — that is why the late replay arrives two batches after the
    watermark-advancing row.)"""
    import os
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("events_late")

    def rows(specs, start_id):
        return pd.DataFrame({
            "event_id": range(start_id, start_id + len(specs)),
            "ts": pd.to_datetime([t for t, _ in specs]),
            "user_id": [1] * len(specs),
            "event_type": [ty for _, ty in specs],
            "value": [1.0] * len(specs),
            "props": ["{}"] * len(specs),
        })

    b0 = rows([("2024-01-05 09:10:00", "click"),
               ("2024-01-05 09:20:00", "click"),
               ("2024-01-05 12:00:00", "view")], 0)
    b1 = rows([("2024-01-05 12:10:00", "view")], 10)
    b2 = rows([("2024-01-05 09:40:00", "click"),     # LATE: behind watermark
               ("2024-01-05 12:30:00", "view")], 20)
    now = time.time()
    for i, df in enumerate([b0, b1, b2]):
        path = str(d / f"part-{i:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(df), path)
        os.utime(path, (now + i, now + i))
    return str(d)


def test_watermark_drops_late_rows_in_append_mode(spark, late_data_dir):
    """The semantics every parity test skips: a row BEHIND the watermark
    must be dropped, and an unfinalized window must be withheld. Append
    mode, 1-hour watermark: the 09:00 window finalizes with 2 clicks —
    the replayed 09:40 click arrives after the window was evicted and is
    counted in numRowsDroppedByWatermark, not the output; the 12:xx
    windows never finalize on a finite stream → absent from append
    output. A batch aggregate over the same rows would count 3 clicks —
    asserting the difference proves eviction rather than restating
    parity."""
    stream = streaming.read_event_stream(spark, late_data_dir,
                                         max_files_per_trigger=1)
    agg = streaming.windowed_event_counts(stream, window="1 hour",
                                          watermark="1 hour")
    q = (
        agg.writeStream.format("memory").queryName("late_win_counts")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for pr in q.recentProgress for so in pr["stateOperators"]
    )
    out = {
        (str(r.window_start), r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM late_win_counts").collect()
    }
    assert out == {("2024-01-05 09:00:00", "click"): 2}
    assert dropped == 1
    # the batch twin over ALL rows counts the late click — 3, not 2
    batch = (
        spark.read.parquet(late_data_dir)
        .filter(F.col("event_type") == "click")
        .count()
    )
    assert batch == 3


def test_timeout_sessionization_matches_batch_closed_sessions(
        spark, sf_dir, multi_batch_dir):
    """EventTimeTimeout sessionization: once the stream drains, the
    emitted (closed) sessions must be exactly the batch gap-sessions
    EXCEPT each user's final session when the watermark never reached
    its close instant. Non-final sessions close either on an in-batch
    gap or when the user's next event arrives in a later batch; final
    sessions close only via the state timeout — so this asserts both
    mechanisms, against an independently computed batch twin (all
    arithmetic in floored milliseconds, matching the operator)."""
    from pyspark.sql.window import Window as W

    gap_min, wm_delay_ms = 30, 60_000
    gap_ms = gap_min * 60 * 1000
    stream = streaming.read_event_stream(spark, multi_batch_dir,
                                         max_files_per_trigger=1)
    out = streaming.sessionize_with_timeout(stream, gap_minutes=gap_min,
                                            watermark="1 minute")
    q = (
        out.writeStream.format("memory").queryName("timeout_sessions")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, int(r.session_start.timestamp() * 1000),
         int(r.session_end.timestamp() * 1000), r.n_events)
        for r in spark.sql("SELECT * FROM timeout_sessions").collect()
    }

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_micros(ts) div 1000").alias("ts_ms"))
    w = W.partitionBy("user_id").orderBy("ts_ms")
    prev = F.lag("ts_ms").over(w)
    sid = F.sum(
        F.when(prev.isNull() | ((F.col("ts_ms") - prev) > gap_ms), 1)
        .otherwise(0)
    ).over(w)
    sessions = (
        ev.withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(F.min("ts_ms").alias("start_ms"), F.max("ts_ms").alias("end_ms"),
             F.count("*").alias("n"))
        .withColumn("last_sid",
                    F.max("sid").over(W.partitionBy("user_id")))
    )
    wm_final_ms = (
        ev.agg(F.max("ts_ms")).collect()[0][0] - wm_delay_ms
    )
    expected = {
        (r.user_id, r.start_ms, r.end_ms, r.n)
        for r in sessions.collect()
        if r.sid < r.last_sid or r.end_ms + gap_ms < wm_final_ms
    }
    assert got == expected
    assert got, "fixture produced no closed sessions"


def test_state_recovers_across_checkpoint_restart(spark, sf_dir, tmp_path):
    """Crash-recovery semantics the micro-batch tests can't show: drain
    half the input under one streaming QUERY PROCESS, stop it, add the
    rest, and start a NEW query from the same checkpoint — the
    aggregation must resume from the persisted state store AND the
    persisted source offsets (phase 2 reads only the new file, yet its
    complete-mode output covers both halves). Either losing state
    (undercount) or losing offsets (double count) breaks the equality
    with the batch aggregate. Memory sinks don't support checkpoint
    recovery, so this runs through the foreachBatch parquet sink."""
    import os
    import time

    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    tbl = pq.read_table(f"{sf_dir}/events.parquet").sort_by("ts")
    n = tbl.num_rows
    half = str(src / "part-0000.parquet")
    pq.write_table(tbl.slice(0, n // 2), half)
    os.utime(half, (time.time() - 10, time.time() - 10))

    def run():
        stream = streaming.read_event_stream(spark, str(src))
        agg = stream.groupBy("event_type").agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("v"))
        streaming.write_partitioned_exactly_once(agg, out, "event_type")
        return {r.event_type: (r.n, r.v)
                for r in spark.read.parquet(out).collect()}

    phase1 = run()
    assert sum(v[0] for v in phase1.values()) == n // 2  # half drained

    pq.write_table(tbl.slice(n // 2, n - n // 2), str(src / "part-0001.parquet"))
    phase2 = run()
    batch = {
        r.event_type: (r.n, round(r.v, 2))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert phase2 == batch


def test_timeout_sessionization_widens_on_out_of_order_event(
        spark, tmp_path):
    """Cross-batch out-of-order handling: a late-but-above-watermark
    event that PRECEDES the open session must widen its bounds
    (start=min, end=max), never rewind session_end below session_start
    or regress the timeout. Batch 1 opens (10:00); batch 2 delivers
    09:45 (widen) then 13:00 (gap → close). The closed session must be
    (09:45, 10:00, 2 events)."""
    import os
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "ooo"
    d.mkdir()

    def write(i, specs):
        df = pd.DataFrame({
            "event_id": range(i * 10, i * 10 + len(specs)),
            "ts": pd.to_datetime([t for t in specs]),
            "user_id": [1] * len(specs),
            "event_type": ["click"] * len(specs),
            "value": [1.0] * len(specs),
            "props": ["{}"] * len(specs),
        })
        p = str(d / f"part-{i:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(df), p)
        os.utime(p, (time.time() + i, time.time() + i))

    write(0, ["2024-01-05 10:00:00"])
    write(1, ["2024-01-05 09:45:00", "2024-01-05 13:00:00"])

    stream = streaming.read_event_stream(spark, str(d),
                                         max_files_per_trigger=1)
    out = streaming.sessionize_with_timeout(stream, gap_minutes=30,
                                            watermark="6 hours")
    q = (
        out.writeStream.format("memory").queryName("ooo_sessions")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = [(r.user_id, str(r.session_start), str(r.session_end),
             r.n_events)
            for r in spark.sql("SELECT * FROM ooo_sessions").collect()]
    assert rows == [(1, "2024-01-05 09:45:00", "2024-01-05 10:00:00", 2)]


def test_feed_source_to_cdc_merge_table_end_to_end(spark, tmp_path):
    """Full ingest pipeline across the session's components: the custom
    streaming Python DataSource feeds change rows into the continuous
    CDC merge sink across FOUR sequential ingest runs sharing one
    checkpoint (the feed's end grows between runs — the daily-ingest
    shape), so each run resumes at the committed offset and applies
    only its new slice. The final parquet table must equal a sequential
    Python application of every change: upserts latest-wins per key,
    deletes remove keys, untouched base keys survive. (availableNow
    snapshots latestOffset once per run — NOTES trap — so incremental
    ingest is expressed as runs, not paced batches.)"""
    from data_pipeline_stripe_spark.sources import pydatasource

    pydatasource.register(spark)
    table = str(tmp_path / "cdc_table")
    spark.createDataFrame(
        [(k, -1) for k in range(37)], "k long, value_micros long"
    ).coalesce(1).write.parquet(table)

    for feed_end in (120, 240, 360, 480):
        feed = (
            spark.readStream.format("event_feed")
            .option("max_rows", feed_end)
            .load()
            .select(
                (F.col("event_id") % 37).alias("k"),
                F.col("value_micros"),
                F.when(F.col("event_type") == "error", "D").otherwise("U")
                 .alias("op"),
                F.col("event_id").alias("seq"),
            )
        )
        streaming.merge_stream_into_table(feed, table, key="k")

    got = {r.k: r.value_micros
           for r in spark.read.parquet(table).collect()}
    expect = {k: -1 for k in range(37)}
    for i in range(480):
        k = i % 37
        op = "D" if ("signup", "click", "view", "purchase", "error")[i % 5] \
            == "error" else "U"
        if op == "D":
            expect.pop(k, None)
        else:
            expect[k] = (i * i) % 1_000_000
    assert got == expect


def test_custom_sessionization_agrees_with_native_session_window(
        spark, sf_dir, multi_batch_dir):
    """Three-way agreement: the custom EventTimeTimeout sessionization's
    closed sessions must be exactly the sessions Spark's NATIVE
    session_window computes over the static table (native end = last
    event + gap, so subtract the gap back), minus each user's final
    session when the watermark never reached its close instant. The
    earlier parity test checked against a hand-built lag() twin; this
    one checks against Spark's own session definition. (Comparison in
    floored milliseconds — the operator's clock; a gap within 1 ms of
    the threshold could legitimately differ, which the fixture's
    microsecond-random timestamps cannot produce.)"""
    gap_min, wm_delay_ms = 30, 60_000
    gap_ms = gap_min * 60 * 1000

    stream = streaming.read_event_stream(spark, multi_batch_dir,
                                         max_files_per_trigger=1)
    out = streaming.sessionize_with_timeout(stream, gap_minutes=gap_min,
                                            watermark="1 minute")
    q = (
        out.writeStream.format("memory").queryName("native_cmp_sessions")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, int(r.session_start.timestamp() * 1000),
         int(r.session_end.timestamp() * 1000), r.n_events)
        for r in spark.sql("SELECT * FROM native_cmp_sessions").collect()
    }

    ev = load_table(spark, sf_dir, "events")
    native = [
        (r.user_id,
         int(r.win.start.timestamp() * 1000),
         int(r.win.end.timestamp() * 1000) - gap_ms,
         r.n)
        for r in ev.groupBy(
            F.session_window("ts", f"{gap_min} minutes").alias("win"),
            "user_id",
        ).agg(F.count("*").alias("n")).collect()
    ]
    wm_final_ms = int(
        ev.agg(F.max("ts")).collect()[0][0].timestamp() * 1000
    ) - wm_delay_ms
    last_per_user = {}
    for u, s, e, n in native:
        if u not in last_per_user or e > last_per_user[u]:
            last_per_user[u] = e
    expected = {
        (u, s, e, n) for u, s, e, n in native
        if e != last_per_user[u] or e + gap_ms < wm_final_ms
    }
    assert got == expected and len(expected) > 0


def test_outer_attribution_emits_nulls_only_after_watermark(
        spark, tmp_path):
    """Stream-stream LEFT OUTER semantics: an unattributed purchase is
    emitted with a NULL click only once the watermark proves no future
    click can match; purchases whose window hasn't expired stay
    withheld. Fixture: u1's purchase matches a click; u2's purchase
    never matches (null-extended after its window expires); the 13:00
    tail rows advance the watermark but their own windows never expire
    on this finite stream — absent from the output."""
    import os
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "outer_attr"
    d.mkdir()

    def write(i, specs):
        df = pd.DataFrame({
            "event_id": [eid for eid, *_ in specs],
            "ts": pd.to_datetime([t for _, t, *_ in specs]),
            "user_id": [u for _, _, u, _ in specs],
            "event_type": [ty for *_, ty in specs],
            "value": [1.0] * len(specs),
            "props": ["{}"] * len(specs),
        })
        p = str(d / f"part-{i:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(df), p)
        os.utime(p, (time.time() + i, time.time() + i))

    write(0, [(1, "2024-01-05 10:00:00", 1, "click"),
              (2, "2024-01-05 10:10:00", 1, "purchase"),
              (3, "2024-01-05 10:20:00", 2, "purchase")])
    write(1, [(10, "2024-01-05 12:40:00", 3, "view")])
    write(2, [(20, "2024-01-05 13:00:00", 4, "purchase"),
              (21, "2024-01-05 13:00:00", 5, "click")])

    s1 = streaming.read_event_stream(spark, str(d),
                                     max_files_per_trigger=1)
    s2 = streaming.read_event_stream(spark, str(d),
                                     max_files_per_trigger=1)
    joined = streaming.purchase_click_attribution(
        s1.filter(F.col("event_type") == "purchase"),
        s2.filter(F.col("event_type") == "click"),
        attribution_window="30 minutes", watermark="1 hour",
        how="left_outer",
    )
    q = (
        joined.writeStream.format("memory").queryName("outer_attr")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r.purchase_id, r.click_id)
           for r in spark.sql("SELECT * FROM outer_attr").collect()}
    assert got == {(2, 1), (3, None)}


def test_stream_static_join_picks_up_dim_updates_between_batches(
        spark, tmp_path):
    """enrich_with_dim's docstring claims Spark re-plans the STATIC side
    per micro-batch, so a dimension updated between batches enriches
    later events with the NEW values. Pinned: two micro-batches with a
    dim rewrite in between (via foreachBatch hooks) — batch-0 events
    carry the old category, batch-1 events the new one. The sharp edge
    this test documents: a PATH-based static frame snapshots its file
    index at creation — overwriting the directory (which renames files)
    kills the query with FAILED_READ_FILE even after refreshByPath. The
    working slowly-updating-dim pattern is a CATALOG TABLE: reference
    the dim via spark.table(...) and REFRESH TABLE after each rewrite;
    the next micro-batch then re-lists and picks up the new rows."""
    import os
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "ev"
    src.mkdir()
    dim_dir = str(tmp_path / "dim")

    def write_events(i, ts):
        df = pd.DataFrame({
            "event_id": [i], "ts": pd.to_datetime([ts]),
            "user_id": [1], "event_type": ["click"],
            "value": [1.0], "props": ["{}"],
        })
        p = str(src / f"part-{i:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(df), p)
        os.utime(p, (time.time() + i, time.time() + i))

    def write_dim(category):
        spark.createDataFrame(
            [("click", category)], "event_type string, category string"
        ).coalesce(1).write.mode("overwrite").parquet(dim_dir)

    write_events(0, "2024-01-05 10:00:00")
    write_events(1, "2024-01-05 11:00:00")
    write_dim("v1")
    spark.sql("DROP TABLE IF EXISTS dim_live")
    spark.sql(f"CREATE TABLE dim_live (event_type STRING, category STRING) "
              f"USING parquet LOCATION '{dim_dir}'")

    stream = streaming.read_event_stream(spark, str(src),
                                         max_files_per_trigger=1)
    enriched = streaming.enrich_with_dim(
        stream, spark.table("dim_live")).select(
        "event_id", "category")

    seen = []

    def sink(batch_df, epoch_id):
        rows = [(r.event_id, r.category) for r in batch_df.collect()]
        seen.extend(rows)
        if epoch_id == 0:
            write_dim("v2")   # dimension update BETWEEN micro-batches
            # without this, the cached file index still points at the
            # overwritten (renamed) files → FAILED_READ_FILE
            spark.sql("REFRESH TABLE dim_live")

    q = (
        enriched.writeStream.foreachBatch(sink)
        .trigger(availableNow=True).start()
    )
    try:
        q.awaitTermination()
    finally:
        spark.sql("DROP TABLE IF EXISTS dim_live")
    assert sorted(seen) == [(0, "v1"), (1, "v2")]


def test_stream_dedup_gate_scaffold_injects_real_duplicates(sf_dir, tmp_path):
    """The gated stream_dedup_parity query is only a meaningful gate if
    its scaffold actually replays rows: without dedup, the replayed
    input must disagree with the fixture on both row count and the
    per-type cent sum (the columns the gate hashes)."""
    import duckdb

    from data_pipeline_stripe_spark.queries.streaming_gate import (
        _four_batch_events_dir,
    )

    in_dir = _four_batch_events_dir(sf_dir, str(tmp_path / "s"), replay=True)
    con = duckdb.connect()
    n_raw, n_ids, cents_raw = con.execute(
        f"SELECT COUNT(*), COUNT(DISTINCT event_id),"
        f" SUM(CAST(ROUND(value * 100) AS BIGINT))"
        f" FROM read_parquet('{in_dir}/*.parquet')"
    ).fetchone()
    n_fix, cents_fix = con.execute(
        f"SELECT COUNT(*), SUM(CAST(ROUND(value * 100) AS BIGINT))"
        f" FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()
    assert n_ids == n_fix          # every fixture row present
    assert n_raw > n_fix           # plus genuine replays
    assert cents_raw != cents_fix  # which poison the gated sum if kept


def test_stream_attribution_gate_has_cross_batch_pairs(sf_dir, tmp_path):
    """The gated stream_attribution_parity query only proves join state
    survives trigger boundaries if some attributed pairs genuinely
    straddle the 4-file cuts: with the 2-day window, purchases whose
    matched click lives in an EARLIER file must exist at every SF (a
    30-minute window almost never crosses a ~7.5-day quarter — that is
    why the gate widens it)."""
    import duckdb

    from data_pipeline_stripe_spark.queries.streaming_gate import (
        _four_batch_events_dir,
    )

    in_dir = _four_batch_events_dir(sf_dir, str(tmp_path / "s"))
    con = duckdb.connect()
    total, cross = con.execute(f"""
        WITH e AS (
            SELECT *, CAST(regexp_extract(filename, 'part-(\\d+)', 1) AS INT)
                      AS file_i
            FROM read_parquet('{in_dir}/*.parquet', filename=true)
        )
        SELECT COUNT(*), SUM(CASE WHEN c.file_i < p.file_i THEN 1 ELSE 0 END)
        FROM e p JOIN e c
          ON p.user_id = c.user_id
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
          AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 2 DAY
    """).fetchone()
    assert total > 0
    assert cross > 0, "no pair crosses a micro-batch cut — the gate is vacuous"


def test_session_gate_has_cross_batch_sessions_and_needs_sentinel(
        sf_dir, tmp_path):
    """stream_session_window_parity is only a meaningful gate if (a)
    some 1-day-gap sessions straddle the 4-file cuts (state must
    survive the trigger boundary to merge them) and (b) some sessions
    are still open after the last real file (the sentinel's watermark
    tick is what flushes them — without it the gate would undercount)."""
    import duckdb

    from data_pipeline_stripe_spark.queries.streaming_gate import (
        _four_batch_events_dir,
    )

    in_dir = _four_batch_events_dir(sf_dir, str(tmp_path / "s"),
                                    sentinel_ts="2024-03-01 00:00:00")
    con = duckdb.connect()
    straddle, last_batch_tail = con.execute(f"""
        WITH e AS (
            SELECT *, CAST(regexp_extract(filename, 'part-(\\d+)', 1) AS INT)
                      AS file_i
            FROM read_parquet('{in_dir}/*.parquet', filename=true)
            WHERE user_id >= 0
        ), flagged AS (
            SELECT user_id, ts, event_id, file_i,
                   CASE WHEN epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) > 86400000
                             OR LAG(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT user_id, ts, file_i,
                   SUM(new_session) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS sess_id
            FROM flagged
        ), sessions AS (
            SELECT user_id, sess_id,
                   MIN(file_i) AS f0, MAX(file_i) AS f1, MAX(ts) AS last_ts
            FROM numbered GROUP BY 1, 2
        )
        SELECT SUM(CASE WHEN f1 > f0 THEN 1 ELSE 0 END),
               SUM(CASE WHEN last_ts > (SELECT MAX(ts) FROM e)
                                        - INTERVAL 26 HOUR
                        THEN 1 ELSE 0 END)
        FROM sessions
    """).fetchone()
    assert straddle > 0, "no session straddles a batch cut — gate vacuous"
    # sessions whose end+gap the final REAL watermark (max ts - 2h) cannot
    # pass: they exist, so the sentinel tick is load-bearing
    assert last_batch_tail > 0


def test_restart_recovery_gate_crash_fires_and_recovers(spark, sf_dir):
    """The recovery gate is only meaningful if its injected crash
    actually interrupted the first drain: the marker file must exist
    after the run (the gate itself raises when the crash never fired),
    the checkpoint must show two query STARTS (the restart), and the
    recovered totals must match a plain batch aggregate."""
    import os

    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.queries import REGISTRY
    from data_pipeline_stripe_spark.sources import load_table

    out = REGISTRY["stream_restart_recovery_parity"].fn(spark, sf_dir)
    got = {r.event_type: (r.n_events, r.total_value_cents)
           for r in out.collect()}

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    scratch = os.path.join(repo_root, ".scratch", "stream_restart_recovery",
                           os.path.basename(os.path.normpath(sf_dir)))
    assert os.path.exists(os.path.join(scratch, "crashed_once"))

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    )
    want = {r.event_type: (r.n, r.c) for r in batch.collect()}
    assert got == want


def test_cdf_stream_source_slices_and_starting_version(spark, tmp_path):
    """The CDF streaming source (sources/snapshot_source.py, option
    cdf=true): _cdf_slices classifies appends as 'data' (I rows), CDC
    rewrites as 'log' slices and compactions as nothing, while the
    plain source's partitions() REFUSES the same rewrite range
    (Delta's rule); option("startingVersion", N) serves exactly the
    feed from version N's changes on."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.snapshots import (
        snapshot_apply_cdc, snapshot_commit, snapshot_compact,
        snapshot_read)
    from data_pipeline_stripe_spark.sources.snapshot_source import (
        SnapshotTableStreamReader, _cdf_slices, register_snapshot_source)

    t = str(tmp_path / "cdf_src")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 9)], "k int, cents int")
    snapshot_commit(spark, t, base.filter("k <= 4").coalesce(1),
                    mode="append")                          # v0
    snapshot_commit(spark, t, base.filter("k > 4").coalesce(1),
                    mode="append")                          # v1
    cdc = spark.createDataFrame(
        [(2, 999, 1, "U"), (5, 0, 1, "D")],
        "k int, cents int, seq int, op string")
    snapshot_apply_cdc(spark, t, cdc, "k")                  # v2 rewrite
    snapshot_compact(spark, t, target_files=1)              # v3 rewrite []
    snapshot_commit(spark, t,
                    spark.createDataFrame([(9, 90)], "k int, cents int"),
                    mode="append")                          # v4

    # the plain source refuses any range crossing the rewrite ...
    plain = SnapshotTableStreamReader({"path": t},
                                      snapshot_read(spark, t).schema)
    with pytest.raises(ValueError, match="no append-only delta"):
        plain.partitions({"version": 1}, {"version": 4})
    # ... the CDF source classifies it: v2 log slices, v3 nothing,
    # v4 data slices
    kinds = {v: {s.kind for s in _cdf_slices(t, 1, 4) if s.version == v}
             for v in (2, 3, 4)}
    assert kinds[2] == {"log"} and kinds[3] == set() \
        and kinds[4] == {"data"}

    # startingVersion=2 through a real drain: U(2), D(5), I(9) only
    register_snapshot_source(spark)
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("snapshot_table")
        .option("cdf", "true").option("startingVersion", 2).load(t)
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start(out, format="parquet")
    )
    q.processAllAvailable()
    q.stop()
    rows = {(r.k, r._change_type, r._commit_version)
            for r in spark.read.parquet(out).collect()}
    assert rows == {(2, "U", 2), (5, "D", 2), (9, "I", 4)}
    # the D row carries its pre-delete value
    dval = [r.cents for r in spark.read.parquet(out)
            .filter("_change_type = 'D'").collect()]
    assert dval == [50]


def test_cdf_replication_replays_idempotently_after_sink_crash(spark,
                                                               tmp_path):
    """The replication loop's crash story: the foreachBatch sink APPLIES
    a CDF batch to the replica and then crashes BEFORE Spark commits the
    offset (the worst-case window — effect applied, progress lost). The
    restarted query replays the same batch; because CDF application is
    idempotent (same-value upserts, deletes of already-absent keys), the
    replica converges to the source head instead of double-applying —
    the replica's version history shows BOTH applications, the state
    shows one."""
    from data_pipeline_stripe_spark.operators.snapshot_check import (
        feed_changes)
    from data_pipeline_stripe_spark.operators.snapshots import (
        snapshot_apply_cdc, snapshot_commit, snapshot_current_version,
        snapshot_read)
    from data_pipeline_stripe_spark.sources.snapshot_source import (
        register_snapshot_source)

    register_snapshot_source(spark)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "k long, v long")
    snapshot_commit(spark, src, base, mode="append")
    snapshot_commit(
        spark, dst, spark.createDataFrame([], "k long, v long"),
        mode="append")
    crash_armed = {"armed": False}

    def drain():
        stream = (spark.readStream.format("snapshot_table")
                  .option("cdf", "true").load(src))

        def apply_batch(batch_df, epoch_id):
            snapshot_apply_cdc(spark, dst, feed_changes(batch_df), "k",
                               seq="_commit_version", op="_change_type")
            if crash_armed["armed"]:
                crash_armed["armed"] = False
                raise RuntimeError("injected crash AFTER apply, "
                                   "BEFORE offset commit")

        q = (stream.writeStream.outputMode("append")
             .foreachBatch(apply_batch)
             .trigger(availableNow=True)
             .option("checkpointLocation", ckpt).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    drain()
    assert {r.k: r.v for r in snapshot_read(spark, dst).collect()} \
        == {i: i * 10 for i in range(20)}

    # mutate the source while no stream runs, then crash mid-replication
    cdc = spark.createDataFrame(
        [(3, 999, 1, "U"), (7, 0, 1, "D"), (25, 250, 1, "U")],
        "k long, v long, seq int, op string")
    snapshot_apply_cdc(spark, src, cdc, "k")
    crash_armed["armed"] = True
    v_before = snapshot_current_version(dst)
    import pytest as _pytest

    with _pytest.raises(Exception, match="injected crash"):
        drain()
    # the batch WAS applied before the crash...
    v_mid = snapshot_current_version(dst)
    assert v_mid == v_before + 1
    # ...and the restart replays it (offset never committed): a second
    # application lands, the state converges
    drain()
    assert snapshot_current_version(dst) == v_mid + 1
    want = {i: i * 10 for i in range(20) if i != 7}
    want[3] = 999
    want[25] = 250
    assert {r.k: r.v for r in snapshot_read(spark, dst).collect()} == want
    assert {r.k: r.v for r in snapshot_read(spark, src).collect()} == want


def test_stream_source_admission_control_units(spark, tmp_path):
    """Rate-limiting legs beneath the gated query:
    _version_delta_size counts appends' new files and CDF rewrites'
    log files; latestOffset with maxFilesPerTrigger advances whole
    versions within the budget (always at least one); the cursor file
    persists atomically and floors a fresh reader's cursor."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from data_pipeline_stripe_spark.operators.snapshots import (
        snapshot_apply_cdc, snapshot_commit, snapshot_read)
    from data_pipeline_stripe_spark.sources.snapshot_source import (
        SnapshotTableStreamReader, _version_delta_size)

    t = str(tmp_path / "adm")
    df = spark.range(8).select(F.col("id").alias("k"),
                               (F.col("id") * 10).alias("cents"))
    snapshot_commit(spark, t, df.filter("k < 4").repartition(2))   # v0
    snapshot_commit(spark, t, df.filter("k >= 4").repartition(3))  # v1
    cdc = spark.createDataFrame([(1, 999, 1, "U")],
                                "k long, cents long, seq int, op string")
    snapshot_apply_cdc(spark, t, cdc, "k")                         # v2

    from data_pipeline_stripe_spark.operators.snapshots import \
        _read_manifest
    n0 = len(_read_manifest(t, 0)["files"])
    n1 = len(_read_manifest(t, 1)["files"]) - n0
    assert n0 >= 2 and n1 >= 1  # multi-file versions (layout-dependent)
    assert _version_delta_size(t, 0, cdf=False)[0] == n0
    assert _version_delta_size(t, 1, cdf=False)[0] == n1
    assert _version_delta_size(t, 2, cdf=True)[0] >= 1  # its change log

    schema = snapshot_read(spark, t).schema
    sch = StructType(schema.fields)

    def reader(**opts):
        # models Spark's fresh-query driver sequence: a brand-new query
        # (no checkpoint) always sees initialOffset() before the first
        # latestOffset(), which is what makes the cursor KNOWN and the
        # first batch budget-walkable (ADVICE r11: on a RESTART — no
        # initialOffset call — the cursor is unknown and latestOffset
        # must serve head once rather than regress below Spark's
        # checkpointed offset; see restart assertions below)
        o = {"path": t}
        o.update({k: str(v) for k, v in opts.items()})
        r = SnapshotTableStreamReader(o, sch)
        r.initialOffset()
        return r

    # budget n0: v0 alone fills it; budget n0+n1: v0+v1; budget 1:
    # still a whole version (never split)
    assert reader(maxFilesPerTrigger=n0).latestOffset() == {"version": 0}
    assert reader(maxFilesPerTrigger=n0 + n1).latestOffset() == \
        {"version": 1}
    assert reader(maxFilesPerTrigger=1).latestOffset() == {"version": 0}
    # unbounded: straight to head
    assert reader().latestOffset() == {"version": 2}
    # successive calls advance from the reader's own cursor
    r = reader(maxFilesPerTrigger=n0)
    assert r.latestOffset() == {"version": 0}
    assert r.latestOffset()["version"] >= 1

    # RESTART with a budget but NO persisted cursor (ADVICE r11): Spark
    # skips initialOffset, so the first latestOffset must NOT
    # budget-walk from the startingVersion default (it would return a
    # version below the checkpointed offset — Spark records that
    # regressed offset as the batch end and re-serves consumed
    # versions). It serves head once (documented unbounded-once).
    restarted = SnapshotTableStreamReader(
        {"path": t, "maxFilesPerTrigger": "1"}, sch)
    assert restarted.latestOffset() == {"version": 2}
    # ... and once partitions/commit sync real offsets, the bound is
    # back for any NEWER versions (none here — head stays 2)
    assert restarted.latestOffset() == {"version": 2}

    # persistence: commit() writes the floor a NEW reader starts from
    cur = str(tmp_path / "cursor")
    r1 = reader(maxFilesPerTrigger=n0, cursorLocation=cur)
    assert r1.latestOffset() == {"version": 0}
    r1.commit({"version": 0})
    # restart WITH a persisted cursor: no initialOffset fires, but the
    # cursor file makes the consumer state known — the bound stays exact
    r2 = SnapshotTableStreamReader(
        {"path": t, "maxFilesPerTrigger": "999", "cursorLocation": cur},
        sch)
    assert r2.latestOffset() == {"version": 2}
    assert r2.initialOffset() == {"version": -1}  # offsets stay Spark's
    # and partitions() syncs the cursor from Spark's own offsets
    # (restart without cursor file: the replayed batch makes it known)
    r3 = SnapshotTableStreamReader(
        {"path": t, "maxFilesPerTrigger": "1"}, sch)
    r3.partitions({"version": -1}, {"version": 1})
    assert r3.latestOffset() == {"version": 2}

    # row-budget form: v0 holds 4 rows, v0+v1 holds 8 — budget 4 admits
    # exactly v0, budget 8 admits both, budget 1 still a whole version
    assert reader(maxRowsPerTrigger=4).latestOffset() == {"version": 0}
    assert reader(maxRowsPerTrigger=8).latestOffset() == {"version": 1}
    assert reader(maxRowsPerTrigger=1).latestOffset() == {"version": 0}
    # both budgets: the tighter one binds
    assert reader(maxFilesPerTrigger=99,
                  maxRowsPerTrigger=4).latestOffset() == {"version": 0}

    # byte-budget form: budgets at/below v0's recorded size admit
    # exactly v0; a budget covering both versions admits both
    from data_pipeline_stripe_spark.operators.snapshots import \
        _read_manifest as _rm
    b0 = sum(e["bytes"] for e in _rm(t, 0)["files"])
    b1 = sum(e["bytes"] for e in _rm(t, 1)["files"]) - b0
    assert b0 > 0 and b1 > 0  # sizes really recorded
    assert reader(maxBytesPerTrigger=b0).latestOffset() == {"version": 0}
    assert reader(maxBytesPerTrigger=1).latestOffset() == {"version": 0}
    assert reader(maxBytesPerTrigger=b0 + b1).latestOffset() == \
        {"version": 1}
    # combined: the tightest budget binds
    assert reader(maxFilesPerTrigger=99, maxRowsPerTrigger=99,
                  maxBytesPerTrigger=b0).latestOffset() == {"version": 0}

    import pytest
    with pytest.raises(ValueError, match="maxFilesPerTrigger"):
        reader(maxFilesPerTrigger=0)
    with pytest.raises(ValueError, match="maxRowsPerTrigger"):
        reader(maxRowsPerTrigger=-1)
    with pytest.raises(ValueError, match="maxBytesPerTrigger"):
        reader(maxBytesPerTrigger=0)


def test_plain_stream_serves_real_cdf_named_columns(spark, tmp_path):
    """ADVICE r10: a PLAIN (non-CDF) stream over a table that evolved a
    REAL column named _change_type / _commit_version must serve the
    stored values — and NULL for files that predate the column — never
    fabricated 'I' / version labels (those are synthesized only in CDF
    mode, where the reserved-name refusal guarantees no collision)."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.snapshots import \
        snapshot_commit
    from data_pipeline_stripe_spark.sources.snapshot_source import \
        register_snapshot_source

    register_snapshot_source(spark)
    t = str(tmp_path / "cdfnames")
    snapshot_commit(spark, t, spark.createDataFrame(
        [(1, 10)], "k long, cents long"))                       # v0
    evolved = spark.createDataFrame(
        [(2, 20, "real-label", 777)],
        "k long, cents long, _change_type string, _commit_version long")
    snapshot_commit(spark, t, evolved)                          # v1

    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("snapshot_table").load(t)
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start(out, format="parquet")
    )
    q.processAllAvailable()
    q.stop()
    rows = {r.k: (r._change_type, r._commit_version)
            for r in spark.read.parquet(out).collect()}
    assert rows[2] == ("real-label", 777)   # stored values, not labels
    assert rows[1] == (None, None)          # pre-evolution file: NULLs


def test_plain_stream_skip_change_commits(spark, tmp_path):
    """option('skipChangeCommits','true') — Delta's escape hatch for
    plain streams crossing a rewrite: appends' deltas are served,
    rewrite commits contribute nothing (updated/deleted rows are never
    re-served — the CDF source is the exact form), and combining it
    with cdf=true is refused up front."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.snapshots import (
        snapshot_apply_cdc, snapshot_commit, snapshot_read)
    from data_pipeline_stripe_spark.sources.snapshot_source import (
        SnapshotTableStreamReader, register_snapshot_source)

    register_snapshot_source(spark)
    t = str(tmp_path / "skipcc")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 9)], "k int, cents int")
    snapshot_commit(spark, t, base.filter("k <= 4").coalesce(1))  # v0
    snapshot_commit(spark, t, base.filter("k > 4").coalesce(1))   # v1
    cdc = spark.createDataFrame(
        [(2, 999, 1, "U"), (5, 0, 1, "D")],
        "k int, cents int, seq int, op string")
    snapshot_apply_cdc(spark, t, cdc, "k")                        # v2
    snapshot_commit(spark, t,
                    spark.createDataFrame([(9, 90)], "k int, cents int")
                    .coalesce(1))                                 # v3

    schema = snapshot_read(spark, t).schema
    v1, v3 = {"version": 1}, {"version": 3}
    with pytest.raises(ValueError, match="skipChangeCommits"):
        # the error names the option
        SnapshotTableStreamReader({"path": t}, schema).partitions(v1, v3)
    skipped = SnapshotTableStreamReader(
        {"path": t, "skipChangeCommits": "true"}, schema).partitions(v1, v3)
    # only v3's append file; v2 contributes 0
    assert [s.abs_path is not None for s in skipped] == [True]

    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("snapshot_table")
        .option("skipChangeCommits", "true").load(t)
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start(out, format="parquet")
    )
    q.processAllAvailable()
    q.stop()
    rows = {r.k: r.cents for r in spark.read.parquet(out).collect()}
    # initial load = v3's FULL state (start -1): merged values visible,
    # deleted key absent, later appends present
    assert rows[2] == 999 and 5 not in rows and rows[9] == 90

    # the contradiction check lives in the reader (constructed at
    # stream START, not at the lazy .load()) — probe it directly
    from data_pipeline_stripe_spark.sources.snapshot_source import \
        SnapshotTableStreamReader

    schema = spark.read.parquet(out).schema  # any schema works here
    with pytest.raises(ValueError, match="contradicts"):
        SnapshotTableStreamReader(
            {"path": t, "skipChangeCommits": "true", "cdf": "true"},
            schema)


def test_admission_control_survives_expired_prefix(spark, tmp_path):
    """latestOffset under rate limiting when retention expired part of
    the catch-up range: a FRESH consumer falls back to the unbounded
    initial load (the start<0 path never walks the expired prefix); a
    RESUMING consumer still advances so partitions() raises the real
    retention error — admission control is never the error surface."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.snapshots import (
        snapshot_commit, snapshot_expire, snapshot_read)
    from data_pipeline_stripe_spark.sources.snapshot_source import \
        SnapshotTableStreamReader

    t = str(tmp_path / "expired")
    df = spark.range(8).select(F.col("id").alias("k"))
    for i in range(4):
        snapshot_commit(spark, t, df.filter(F.col("k") % 4 == i)
                        .coalesce(1))
    snapshot_expire(t, keep_last=2, tmp_grace_seconds=0)  # v0, v1 gone

    schema = snapshot_read(spark, t).schema
    fresh = SnapshotTableStreamReader(
        {"path": t, "maxFilesPerTrigger": "1"}, schema)
    assert fresh.initialOffset() == {"version": -1}  # fresh query
    assert fresh.latestOffset() == {"version": 3}  # unbounded fallback
    # and the initial-load partitions plan the full head fine
    slices = fresh.partitions({"version": -1}, {"version": 3})
    assert sum(1 for p in slices if p.abs_path is not None) == 4

    import pytest
    resuming = SnapshotTableStreamReader(
        {"path": t, "maxFilesPerTrigger": "1"}, schema)
    resuming.partitions({"version": 0}, {"version": 0})  # checkpoint @0
    end = resuming.latestOffset()
    assert end["version"] >= 1
    with pytest.raises(ValueError, match="expired"):
        resuming.partitions({"version": 0}, end)


def test_admission_probe_is_manifest_list_only(spark, tmp_path):
    """VERDICT r11 item 7: latestOffset's budget walk must read ONE
    manifest LIST per probed backlog version (the stored delta/
    cdf_delta summaries) — never a parent manifest, never a segment
    file, never a materialized entry list. Counted by monkeypatching
    the snapshots module the source delegates to."""
    from unittest import mock

    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S
    from data_pipeline_stripe_spark.sources.snapshot_source import \
        SnapshotTableStreamReader

    t = str(tmp_path / "probe")
    df = spark.range(12).select(F.col("id").alias("k"))
    for i in range(6):
        S.snapshot_commit(spark, t, df.filter(F.col("k") % 6 == i)
                          .coalesce(1))

    meta_calls = []
    seg_calls = []
    real_meta = S._read_manifest_meta
    real_segs = S._segment_entries

    def count_meta(table_dir, version):
        meta_calls.append(version)
        return real_meta(table_dir, version)

    def count_segs(table_dir, desc):
        seg_calls.append(desc["path"])
        return real_segs(table_dir, desc)

    r = SnapshotTableStreamReader(
        {"path": t, "maxFilesPerTrigger": "2"},
        S.snapshot_read(spark, t).schema)
    r.initialOffset()
    with mock.patch.object(S, "_read_manifest_meta",
                           side_effect=count_meta), \
            mock.patch.object(S, "_segment_entries",
                              side_effect=count_segs):
        end = r.latestOffset()
    assert end == {"version": 1}  # 2-file budget admits v0+v1
    # one manifest-list read per probed version, nothing else: the walk
    # probed v0..v2 (v2 overflowed the budget) = at most 3 reads
    assert len(meta_calls) <= 3, meta_calls
    assert not seg_calls, "the admission probe opened segment files"


def test_stream_initial_load_applies_deletion_vectors(spark, tmp_path):
    """A plain stream STARTING on a table with deletion vectors must
    serve the live (post-delete) state in its initial load — the
    executor-side Arrow slice drops the recorded positions. The DV
    commit itself is a rewrite, so a stream that consumed the
    PRE-delete state still refuses to cross it (unchanged contract)."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S
    from data_pipeline_stripe_spark.sources.snapshot_source import \
        register_snapshot_source

    register_snapshot_source(spark)
    t = str(tmp_path / "dvstream")
    df = spark.range(40).select(F.col("id").alias("k"))
    S.snapshot_commit(spark, t, df.coalesce(2))
    S.snapshot_delete_where(spark, t, [("k", "<", 10)], key="k")

    out = str(tmp_path / "out")
    q = (spark.readStream.format("snapshot_table").load(t)
         .writeStream.outputMode("append").format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.k for r in spark.read.parquet(out).collect()}
    assert got == set(range(10, 40))


def test_cdf_stream_eq_delete_on_partitioned_parent(spark, tmp_path):
    """Composition coverage (r13 second half): an equality delete on a
    PARTITIONED table streams its lazy D rows too — the eqdead slices
    carry the nested data/<cid>/__part_x=v/ paths (the ADVICE r12
    marker-based layout) and the drained feed hash-matches the batch
    CDF."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S
    from data_pipeline_stripe_spark.sources.snapshot_source import \
        register_snapshot_source

    register_snapshot_source(spark)
    t = str(tmp_path / "eqpart")
    df = spark.range(60).select(
        F.col("id").alias("k"),
        F.pmod(F.col("id"), F.lit(3)).alias("bucket_src"))
    S.snapshot_commit_partitioned(
        spark, t, df.repartition(3, "bucket_src"),
        [{"name": "bs", "source": "bucket_src",
          "transform": "identity"}])
    v, _ = S.snapshot_delete_keys(
        spark, t, spark.createDataFrame([(7,), (8,), (9,)], "k long"),
        "k")
    out = str(tmp_path / "out")
    q = (spark.readStream.format("snapshot_table")
         .option("cdf", "true").option("startingVersion", "1").load(t)
         .writeStream.outputMode("append").format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    streamed = sorted((r["_change_type"], r["k"])
                      for r in spark.read.parquet(out).collect())
    batch = sorted((r["_change_type"], r["k"])
                   for r in S.snapshot_read_cdf(
                       spark, t, 0, to_version=v).collect())
    assert streamed == batch
    assert streamed == [("D", 7), ("D", 8), ("D", 9)]
    assert sorted(r.k for r in S.snapshot_read(spark, t).collect()) \
        == sorted(set(range(60)) - {7, 8, 9})


def test_stream_starting_timestamp(spark, tmp_path):
    """option("startingTimestamp", ts) — Delta's timestamp-anchored
    start: the CDF stream serves changes committed AT OR AFTER ts (the
    version boundary between two appends here), a ts past the head
    starts empty (future commits only), and combining it with
    startingVersion refuses."""
    import pytest
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S
    from data_pipeline_stripe_spark.sources.snapshot_source import \
        register_snapshot_source

    register_snapshot_source(spark)
    t = str(tmp_path / "sts")
    df = spark.range(30).select(F.col("id").alias("k"))
    S.snapshot_commit(spark, t, df.filter("k < 10").coalesce(1),
                      mode="append")                              # v0
    S.snapshot_commit(spark, t, df.filter("k >= 10").coalesce(1)
                      .filter("k < 20"), mode="append")           # v1
    ts_v1 = S._read_manifest_meta(t, 1)["committed_at"]
    S.snapshot_commit(spark, t, df.filter("k >= 20").coalesce(1),
                      mode="append")                              # v2

    out = str(tmp_path / "out")
    q = (spark.readStream.format("snapshot_table")
         .option("cdf", "true")
         .option("startingTimestamp", repr(ts_v1)).load(t)
         .writeStream.outputMode("append").format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r.k for r in spark.read.parquet(out).collect())
    assert got == list(range(10, 30)), got  # v1 + v2, not v0

    from data_pipeline_stripe_spark.sources.snapshot_source import \
        SnapshotTableStreamReader
    with pytest.raises(ValueError, match="not both"):
        SnapshotTableStreamReader(
            {"path": t, "startingVersion": "1",
             "startingTimestamp": "0"},
            S.snapshot_read(spark, t).schema)
    # a timestamp past the head starts empty (future commits only)
    r = SnapshotTableStreamReader(
        {"path": t, "startingTimestamp": repr(ts_v1 + 10 ** 6)},
        S.snapshot_read(spark, t).schema)
    assert r._initial == 2  # head is v2: nothing already-committed


def test_metadata_tags_and_branches_views(spark, tmp_path):
    """metadata 'tags' / 'branches' (r13 second half): the WAP
    reference surfaces as SQL views — one row per tag (name, pinned
    version) and per live branch (name, fork version, branch head) —
    manifest/marker reads only. Unknown kinds refuse with the list."""
    import pytest
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S
    from data_pipeline_stripe_spark.sources.snapshot_source import \
        register_snapshot_source

    register_snapshot_source(spark)
    t = str(tmp_path / "refs")
    df = spark.range(10).select(F.col("id").alias("k"))
    S.snapshot_commit(spark, t, df.coalesce(1))
    S.snapshot_commit(spark, t, df.coalesce(1), mode="overwrite")
    S.snapshot_create_tag(t, "v1_tag", version=1)
    bdir = S.snapshot_create_branch(t, "audit")
    S.snapshot_commit(spark, bdir, df.coalesce(1), mode="append")

    tags = spark.read.format("snapshot_table") \
        .option("metadata", "tags").load(t).collect()
    assert [(r["name"], r["version"]) for r in tags] == [("v1_tag", 1)]
    brs = spark.read.format("snapshot_table") \
        .option("metadata", "branches").load(t).collect()
    assert [(r["name"], r["fork_version"], r["head_version"])
            for r in brs] == [("audit", 1, 1)]
    with pytest.raises(Exception, match="unknown metadata"):
        spark.read.format("snapshot_table") \
            .option("metadata", "nope").load(t).collect()


def test_metadata_eq_deletes_view(spark, tmp_path):
    """metadata 'eq_deletes' (r13 second half): one row per active
    descriptor — the table's merge-on-read delete debt — with the
    covered flag (upserts) and the seq+band-scoped count of files it
    still applies to (what a debt-scoped OPTIMIZE would rewrite)."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S
    from data_pipeline_stripe_spark.sources.snapshot_source import \
        register_snapshot_source

    register_snapshot_source(spark)
    t = str(tmp_path / "eqview")
    df = spark.range(40).select(F.col("id").alias("k"),
                                (F.col("id") * 2).alias("v"))
    S.snapshot_commit(spark, t, df.filter("k < 20").coalesce(1))
    S.snapshot_commit(spark, t, df.filter("k >= 20").coalesce(1),
                      mode="append")
    S.snapshot_delete_keys(
        spark, t, spark.createDataFrame([(3,)], "k long"), "k")
    S.snapshot_upsert_keys(
        spark, t,
        spark.createDataFrame([(25, 999)], "k long, v long"), "k")
    rows = (spark.read.format("snapshot_table")
            .option("metadata", "eq_deletes").load(t)
            .orderBy("seq").collect())
    assert [(r["covered"], r["n_keys"], r["n_files_applicable"],
             r["key_bands"]) for r in rows] == [
        (False, 1, 1, '{"k": [3, 3]}'),   # delete: band → file 1 only
        (True, 1, 1, '{"k": [25, 25]}'),  # upsert: covered, file 2
    ], rows
    # OPTIMIZE materializes: the view empties
    S.snapshot_compact(spark, t, target_files=1)
    assert (spark.read.format("snapshot_table")
            .option("metadata", "eq_deletes").load(t).count()) == 0


def test_metadata_view_schemas(spark, tmp_path):
    """Each metadata view's declared schema — names, types and
    nullability — and ``snapshot_history``'s, which is the ``history``
    view's. The oracle hashes values only, so nothing else pins a NOT
    NULL mark."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S
    from data_pipeline_stripe_spark.sources.snapshot_source import \
        register_snapshot_source

    register_snapshot_source(spark)
    t = str(tmp_path / "meta")
    df = spark.range(8).select(F.col("id").alias("k"))
    S.snapshot_commit(spark, t, df.coalesce(1))
    S.snapshot_delete_keys(
        spark, t, spark.createDataFrame([(3,)], "k long"), "k")
    S.snapshot_create_tag(t, "v0_tag", version=0)
    S.snapshot_create_branch(t, "audit")
    history = [
        ("version", "bigint", False), ("parent", "bigint", True),
        ("mode", "string", False), ("committed_at", "double", False),
        ("n_files", "bigint", False), ("n_rows", "bigint", True),
        ("n_change_files", "bigint", True),
        ("from_stream_epoch", "boolean", False),
        ("n_eq_deletes", "bigint", False),
        ("n_pending_delete_keys", "bigint", False)]
    expected = {
        "history": history,
        "files": [
            ("path", "string", False), ("seq", "bigint", False),
            ("n_rows", "bigint", True), ("n_bytes", "bigint", True),
            ("has_delete_vector", "boolean", False),
            ("n_eq_deletes_applicable", "bigint", False),
            ("partition", "string", True), ("stats", "string", True)],
        "tags": [("name", "string", False), ("version", "bigint", False)],
        "branches": [
            ("name", "string", False), ("fork_version", "bigint", False),
            ("head_version", "bigint", True)],
        "eq_deletes": [
            ("path", "string", False), ("key_cols", "string", False),
            ("seq", "bigint", False), ("n_keys", "bigint", True),
            ("key_bands", "string", True), ("covered", "boolean", False),
            ("n_files_applicable", "bigint", False)],
    }

    def shape(schema):
        return [(f.name, f.dataType.simpleString(), f.nullable)
                for f in schema.fields]

    for kind, want in expected.items():
        spark.sql(f"CREATE OR REPLACE TEMPORARY VIEW meta_view USING "
                  f"snapshot_table OPTIONS (path '{t}', metadata '{kind}')")
        view = spark.table("meta_view")
        assert shape(view.schema) == want, kind
        assert view.collect(), kind  # the executor builds the rows
    assert shape(S.snapshot_history(spark, t).schema) == history


def test_admission_prices_equality_delete_band(spark, tmp_path):
    """An EQUALITY-DELETE version prices the parent band it makes a
    CDF consumer scan (the eqdead slices) — not 0, which would admit
    an unbounded band scan as free (r13 second half). The plain
    source still counts 0 (no new data files; the contract error
    belongs to partitions(), not admission)."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S
    from data_pipeline_stripe_spark.sources.snapshot_source import \
        _version_delta_size

    t = str(tmp_path / "eqadm")
    df = spark.range(8).select(F.col("id").alias("k"))
    S.snapshot_commit(spark, t, df.filter("k < 4").repartition(2))
    S.snapshot_commit(spark, t, df.filter("k >= 4").repartition(3),
                      mode="append")
    n_files = len(S._manifest_files(
        t, S._read_manifest_meta(t, 1)))
    v_eq, _ = S.snapshot_delete_keys(
        spark, t, spark.createDataFrame([(2,)], "k long"), "k")
    assert _version_delta_size(t, v_eq, cdf=True)[0] == n_files
    assert _version_delta_size(t, v_eq, cdf=False)[0] == 0


def test_stream_initial_load_applies_equality_deletes(spark, tmp_path):
    """Regression (r13 second half): the plain stream's INITIAL load
    must serve the live state under ACTIVE equality deletes — the
    slice builder passed dv_abs but no eq sidecars, so a consumer
    starting on a table with pending keyed deletes got the deleted
    rows back. Scoping matches _read_entries: seq (a re-insert newer
    than the delete is served) and key band."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S
    from data_pipeline_stripe_spark.sources.snapshot_source import \
        register_snapshot_source

    register_snapshot_source(spark)
    t = str(tmp_path / "eqstream")
    df = spark.range(40).select(F.col("id").alias("k"))
    S.snapshot_commit(spark, t, df.coalesce(2))
    S.snapshot_delete_keys(
        spark, t, spark.createDataFrame([(3,), (7,)], "k long"), "k")
    # re-insert k=7 AFTER the delete: newer seq, must be served
    S.snapshot_commit(spark, t, spark.createDataFrame([(7,)], "k long"),
                      mode="append")
    out = str(tmp_path / "out")
    q = (spark.readStream.format("snapshot_table").load(t)
         .writeStream.outputMode("append").format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r.k for r in spark.read.parquet(out).collect())
    assert got == sorted(set(range(40)) - {3}), got


def test_equality_delete_key_band_pruning(spark, tmp_path):
    """Key-band pruning (r13 second half): snapshot_delete_keys
    records per-column key min/max in the descriptor; files whose
    footer stats cannot intersect the band are PROVABLY untouched, so
    (a) the streaming CDF's eqdead slices cover only the band's files,
    (b) the batch DataSource attaches the sidecar only to in-band
    slices, (c) reads stay correct either way, and (d) the metadata
    views and the delete-debt compaction scope the delete to the same
    one file as the read path."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S
    from data_pipeline_stripe_spark.sources.snapshot_source import (
        SnapshotTableBatchReader, _cdf_slices, register_snapshot_source)

    t = str(tmp_path / "eqband")
    df = spark.range(40).select(F.col("id").alias("k"))
    # two files with disjoint k ranges: [0,20) and [20,40)
    S.snapshot_commit(spark, t, df.filter(F.col("k") < 20).coalesce(1))
    S.snapshot_commit(spark, t, df.filter(F.col("k") >= 20).coalesce(1),
                      mode="append")
    v, _ = S.snapshot_delete_keys(
        spark, t, spark.createDataFrame([(3,), (7,)], "k long"), "k")
    m = S._read_manifest_meta(t, v)
    assert m["eq_deletes"][0]["bands"] == {"k": [3, 7]}

    # (a) the CDF D scan opens only the in-band file
    eqdead = [s for s in _cdf_slices(t, 1, v) if s.kind == "eqdead"]
    assert len(eqdead) == 1, eqdead
    # (b) the batch DataSource attaches the sidecar only in-band
    reader = SnapshotTableBatchReader(
        {"path": t}, S.snapshot_read(spark, t).schema)
    parts = reader.partitions()
    with_eq = [p for p in parts if p.eq_abs]
    without = [p for p in parts if not p.eq_abs]
    assert len(with_eq) == 1 and len(without) == 1
    # (c) reads are exact
    assert sorted(r.k for r in S.snapshot_read(spark, t).collect()) \
        == sorted(set(range(40)) - {3, 7})
    # (d) the files / eq_deletes views and compact(only_with_deletes)
    # see the in-band file, and only it
    register_snapshot_source(spark)
    in_band, out_band = with_eq[0].rel_path, without[0].rel_path

    def view(kind):
        return (spark.read.format("snapshot_table")
                .option("metadata", kind).load(t).collect())

    assert {r["path"]: r["n_eq_deletes_applicable"]
            for r in view("files")} == {in_band: 1, out_band: 0}
    assert [r["n_files_applicable"] for r in view("eq_deletes")] == [1]
    v_c, _, _ = S.snapshot_compact(spark, t, only_with_deletes=True)
    kept = {e["path"] for e in S._read_manifest(t, v_c)["files"]}
    assert {in_band, out_band} - kept == {in_band}
    assert sorted(r.k for r in S.snapshot_read(spark, t).collect()) \
        == sorted(set(range(40)) - {3, 7})


def test_cdf_stream_serves_equality_delete_d_rows(spark, tmp_path):
    """r13 (second half): the streaming CDF source computes an
    equality delete's lazy D rows EXECUTOR-SIDE — per-parent-file
    'eqdead' Arrow slices that drop what a DV or an OLDER descriptor
    already deleted and keep the new sidecar's matches — instead of
    refusing the range. The drained feed must hash-match the batch
    CDF (snapshot_read_cdf) over the same range, including: a D row
    for a key a DV had NOT already deleted, NO duplicate D for a row
    two descriptors both match, and a re-inserted key surviving (its
    segment is newer than the delete)."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S
    from data_pipeline_stripe_spark.sources.snapshot_source import \
        _cdf_slices, register_snapshot_source

    register_snapshot_source(spark)
    t = str(tmp_path / "eqcdf")
    df = spark.range(40).select(F.col("id").alias("k"),
                                (F.col("id") * 2).alias("v"))
    S.snapshot_commit(spark, t, df.coalesce(2))
    # a position delete first: rows k<5 carry a DV — they are ALREADY
    # dead, so the later equality delete must not re-emit them as D
    S.snapshot_delete_where(spark, t, [("k", "<", 5)], key="k")
    # first equality delete: k in {3, 7} — 3 is DV-dead (no D), 7 dies
    S.snapshot_delete_keys(
        spark, t, spark.createDataFrame([(3,), (7,)], "k long"), "k")
    # re-insert k=7 (newer segment: the NEXT delete may kill it, the
    # PREVIOUS one must not)
    S.snapshot_commit(spark, t, spark.createDataFrame(
        [(7, 777)], "k long, v long"), mode="append")
    # second equality delete: {7, 11} — kills the re-inserted 7 AND
    # the original 11; 7's ORIGINAL row is already dead (older
    # descriptor), so exactly one D for each of the two live rows
    v_last, _ = S.snapshot_delete_keys(
        spark, t, spark.createDataFrame([(7,), (11,)], "k long"), "k")

    # driver-side slice shape: the eq-delete versions contribute
    # 'eqdead' slices (no refusal)
    kinds = {s.kind for s in _cdf_slices(t, 0, v_last)}
    assert "eqdead" in kinds, kinds

    out = str(tmp_path / "out")
    q = (spark.readStream.format("snapshot_table")
         .option("cdf", "true")
         # version 1 onward — the batch CDF range below is (0, last]
         .option("startingVersion", "1").load(t)
         .writeStream.outputMode("append").format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    streamed = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in spark.read.parquet(out).collect())
    batch = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in S.snapshot_read_cdf(spark, t, 0,
                                     to_version=v_last).collect())
    assert streamed == batch
    # the eq-delete commits' D rows (the DV delete at version 1 logs
    # its own k<5 Ds): first eq delete → one D (k=7 original; k=3 is
    # DV-dead); second → two Ds (re-inserted 7 with v=777, original
    # 11 with v=22) — never a duplicate for the doubly-matched key 7
    d_rows = [(cv, k, v) for cv, ct, k, v in streamed
              if ct == "D" and cv > 1]
    assert [(k, v) for cv, k, v in d_rows] == [(7, 14), (7, 777),
                                               (11, 22)], d_rows
