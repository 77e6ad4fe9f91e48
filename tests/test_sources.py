"""Source-layer tests: the distributed readers that replace the
reference's driver-side ingest loops (SURVEY.md §2.1)."""

import json
import logging

import pytest
from pyspark.sql import functions as F

from data_pipeline_stripe_spark.schemas import (
    CATEGORIES_SCHEMA,
    COUNTRIES_SCHEMA,
    EVENTS_RAW_SCHEMA,
    EXCHANGE_RATES_SCHEMA,
    RESOURCES_SCHEMA,
)
from data_pipeline_stripe_spark.sources import (
    read_dim_csv,
    read_dim_rows,
    read_events_json,
)
from data_pipeline_stripe_spark.sources.readers import inline_dim


def test_events_json_blob_scan(spark, tmp_path):
    """S1: one-JSON-object-per-file blobs (the reference's GCS layout,
    process.py:54) read as ONE distributed scan with an explicit schema —
    not a driver download loop (top10.py:147-153)."""
    blob_dir = tmp_path / "events"
    blob_dir.mkdir()
    for i in range(5):
        (blob_dir / f"event-{i}.json").write_text(json.dumps({
            "eventId": f"ev-{i}", "eventTime": "2024-01-01T10:00:00+01:00",
            "processTime": "2024-01-01T10:00:01", "resourceId": f"r{i % 2}",
            "useId": "typo-key",   # producer quirk: process.py:43 writes 'useId'
            "countryCode": "US", "duration": 10 * i, "itemPrice": "9.99",
        }))
    df = read_events_json(spark, f"{blob_dir}/*.json")
    assert df.schema == EVENTS_RAW_SCHEMA
    rows = df.collect()
    assert len(rows) == 5
    # the 'useId' typo means userId is null in real data — documented,
    # reproduced, not "fixed" (SURVEY.md §1.2)
    assert all(r.userId is None for r in rows)
    assert {r.resourceId for r in rows} == {"r0", "r1"}


def test_dim_csv_with_declared_schema(spark, tmp_path):
    """S4: header CSV with an explicit schema (no inferSchema extra scan,
    unlike royalties.py:66-68)."""
    p = tmp_path / "countries.csv"
    p.write_text("CountryCode,Code,Country\nUS,USD,United States\nFR,EUR,France\n")
    df = read_dim_csv(spark, str(p), COUNTRIES_SCHEMA)
    assert df.schema == COUNTRIES_SCHEMA
    assert {r.Code for r in df.collect()} == {"USD", "EUR"}


def test_dim_rows_from_payload(spark):
    """S3/S5: REST-payload dimension with declared schema; missing keys
    become nulls instead of inference surprises."""
    df = read_dim_rows(
        spark,
        [{"CountryCode": "US", "Code": "USD", "Country": "United States"},
         {"CountryCode": "XX", "Code": "ZZZ"}],   # Country missing → null
        COUNTRIES_SCHEMA,
    )
    rows = {r.CountryCode: r for r in df.collect()}
    assert rows["US"].Country == "United States"
    assert rows["XX"].Country is None


def test_inline_dim_is_jvm_only(spark):
    df = inline_dim(spark, [("USD", 1.0), ("EUR", 1.1), (None, None)],
                    "code string, rate double")
    assert [f.name for f in df.schema.fields] == ["code", "rate"]
    rows = {r.code: r.rate for r in df.collect()}
    assert rows["EUR"] == 1.1 and rows[None] is None
    # pure-JVM plan: a literal LocalRelation, no RDD scan node
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "ExistingRDD" not in plan


def test_quoting_in_inline_dim(spark):
    df = inline_dim(spark, [("O'Brien", 1)], "name string, n int")
    assert df.collect()[0].name == "O'Brien"


def test_inline_dim_comma_bearing_types(spark):
    """DDL types containing commas (decimal(10,2)) must parse — the
    column list is a real DDL schema, not a comma-split string."""
    df = inline_dim(spark, [(1.25, "x"), (None, "y")],
                    "amt decimal(10,2), tag string")
    assert df.schema["amt"].dataType.simpleString() == "decimal(10,2)"
    rows = {r.tag: r.amt for r in df.collect()}
    assert str(rows["x"]) == "1.25" and rows["y"] is None


def test_inline_dim_nonfinite_floats(spark):
    """IEEE specials survive the VALUES literal rendering (repr() would
    emit invalid SQL tokens 'nan'/'inf')."""
    import math

    df = inline_dim(
        spark,
        [("a", float("nan")), ("b", float("inf")), ("c", float("-inf"))],
        "k string, v double")
    rows = {r.k: r.v for r in df.collect()}
    assert math.isnan(rows["a"])
    assert rows["b"] == float("inf") and rows["c"] == float("-inf")


_DIM_PAYLOADS = {
    "resources": (RESOURCES_SCHEMA, [
        {"id": "r1", "name": "Res One", "categoryId": "3.5",
         "providerId": "p1", "promotion": "false"},
        {"id": "r2", "name": "Res Two", "categoryId": "7",
         "providerId": "p2", "promotion": "true"}]),
    "categories": (CATEGORIES_SCHEMA, [
        {"tenant": "t", "id": "3.5", "name": "Cat A", "percent": "10"}]),
    "countries": (COUNTRIES_SCHEMA, [
        {"CountryCode": "US", "Code": "USD", "Country": "United States"}]),
    "rates": (EXCHANGE_RATES_SCHEMA, [
        {"code": "USD", "rate": 1.0}, {"code": "EUR", "rate": 1.1}]),
}


@pytest.mark.parametrize("dim", sorted(_DIM_PAYLOADS))
def test_read_dim_rows_preserves_declared_nullability(spark, dim):
    """The VALUES fast path must hand back the DECLARED schema verbatim —
    non-null literals infer nullable=false, which read_dim_rows relaxes
    back (the r13 fetch_dim regression) — and stay a pure-JVM plan for
    every stripe dimension's all-non-null payload."""
    schema, payload = _DIM_PAYLOADS[dim]
    df = read_dim_rows(spark, payload, schema)
    assert df.schema == schema
    # still the JVM path: no Python-RDD scan in the plan (the node prints
    # as LogicalRDD in the optimized plan, ExistingRDD in the physical one)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan
    assert sorted(tuple(r) for r in df.collect()) == sorted(
        tuple(row[f.name] for f in schema.fields) for row in payload)


def test_read_dim_rows_logs_its_fallback(spark, caplog):
    """A NULL in a column declared NOT NULL cannot ride the VALUES path;
    the createDataFrame fallback is logged once, naming that column."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("code", T.StringType(), False),
        T.StructField("rate", T.DoubleType(), True),
    ])
    with caplog.at_level(logging.WARNING,
                         logger="data_pipeline_stripe_spark.sources.readers"):
        with pytest.raises(Exception, match="code"):
            read_dim_rows(spark, [{"code": None, "rate": 1.0}], schema)
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "['code']" in warnings[0].getMessage()
    assert "createDataFrame" in warnings[0].getMessage()


def test_read_dim_rows_backtick_in_field_name(spark):
    """A field name containing a backtick is quoted by doubling it, both
    in the VALUES alias list and in the per-column lookup."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("a`b", T.StringType(), True),
        T.StructField("n", T.LongType(), True),
    ])
    df = read_dim_rows(spark, [{"a`b": "x", "n": 1}, {"a`b": "y"}], schema)
    assert df.schema == schema
    assert sorted((r["a`b"], r["n"]) for r in df.collect()) \
        == [("x", 1), ("y", None)]
    direct = inline_dim(spark, [("x", 1)], schema)
    assert direct.columns == ["a`b", "n"]
    assert direct.first()["a`b"] == "x"


def test_typed_events_boundary(spark):
    """Stringly-typed raw events become typed at the boundary: offset
    timestamps normalize to UTC instants, itemPrice becomes decimal,
    junk becomes NULL (not an exception)."""
    from datetime import datetime

    from data_pipeline_stripe_spark.schemas import EVENTS_RAW_SCHEMA
    from data_pipeline_stripe_spark.sources import typed_events

    raw = spark.createDataFrame(
        [("e1", "2024-01-05T10:00:00+01:00", "2024-01-05T10:00:02",
          "r1", None, "US", 30, "19.99"),
         ("e2", "not-a-time", "2024-01-05T11:00:00",
          "r2", None, "FR", 10, "oops")],
        EVENTS_RAW_SCHEMA,
    )
    rows = {r.eventId: r for r in typed_events(raw).collect()}
    # +01:00 offset → 09:00 UTC instant
    assert rows["e1"].eventTime == datetime(2024, 1, 5, 9, 0, 0)
    assert str(rows["e1"].itemPrice) == "19.99"
    assert rows["e2"].eventTime is None and rows["e2"].itemPrice is None
    assert rows["e2"].processTime == datetime(2024, 1, 5, 11, 0, 0)


def test_fetch_dim_file_url_feeds_top10_pipeline(spark, tmp_path):
    """The REST-dimension adapter (reference top10.py:35-59): GET → JSON
    payload → typed dimension. Injected here via a file:// URL; the result
    drives the top10 report exactly like a live categories endpoint."""
    import json

    from data_pipeline_stripe_spark.pipelines import top10_report
    from data_pipeline_stripe_spark.schemas import (
        CATEGORIES_SCHEMA,
        EVENTS_RAW_SCHEMA,
        RESOURCES_SCHEMA,
    )
    from data_pipeline_stripe_spark.sources import fetch_dim

    payload = {"content": [
        {"tenant": "t", "id": "3.5", "name": "Cat A", "percent": "10"},
        {"tenant": "t", "id": "7", "name": "Cat B", "percent": "20"},
    ]}
    path = tmp_path / "categories.json"
    path.write_text(json.dumps(payload))
    cats = fetch_dim(spark, path.as_uri(), CATEGORIES_SCHEMA)
    assert cats.schema == CATEGORIES_SCHEMA
    assert cats.count() == 2

    resources = spark.createDataFrame(
        [("r1", "Res One", "3.5", "p1", "false")], RESOURCES_SCHEMA)
    ev = spark.createDataFrame(
        [("e1", None, "2024-01-01T10:00:00", "r1", None, None, None, None)],
        EVENTS_RAW_SCHEMA)
    out = top10_report(ev, resources, cats).collect()
    assert len(out) == 1 and out[0].categoryName == "Cat A"


def test_fetch_dim_accepts_bare_list_payload(spark, tmp_path):
    import json

    from pyspark.sql import types as T

    from data_pipeline_stripe_spark.sources import fetch_dim

    path = tmp_path / "rates.json"
    path.write_text(json.dumps([{"code": "USD", "rate": 1.0}]))
    schema = T.StructType([
        T.StructField("code", T.StringType()),
        T.StructField("rate", T.DoubleType()),
    ])
    rows = fetch_dim(spark, path.as_uri(), schema).collect()
    assert rows == [("USD", 1.0)]


def test_pydatasource_partitions_and_pruning(spark):
    """The custom Python DataSource: one executor-side partition per
    shard; EqualTo/In on shard_id prune partitions BEFORE tasks launch;
    non-shard filters are reported unsupported and re-applied by Spark
    above the scan (correctness never depends on the pushdown)."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.sources import pydatasource

    pydatasource.register(spark)
    base = (
        spark.read.format("sharded_dim")
        .option("shards", 6).option("rows_per_shard", 50).load()
    )
    assert base.count() == 300
    assert base.select(F.spark_partition_id()).distinct().count() == 6

    one = base.filter(F.col("shard_id") == 2)
    assert one.select(F.spark_partition_id()).distinct().count() == 1
    assert one.count() == 50
    assert {r.row_id for r in one.collect()} == set(range(100, 150))

    two = base.filter(F.col("shard_id").isin(1, 4))
    assert two.select(F.spark_partition_id()).distinct().count() == 2

    # residual (unsupported) filter re-applied above the scan: shard 1
    # rows 50..99 have rate 500000+row² in [502500, 509801] — all cut;
    # shard 4 rows 200..249 are all ≥ 540000 — all kept
    resid = base.filter(
        F.col("shard_id").isin(1, 4) & (F.col("rate_micros") > 520000))
    got = {r.shard_id: r["count"] for r in
           resid.groupBy("shard_id").count().collect()}
    assert got == {4: 50}

    # registration is idempotent on a shared session
    pydatasource.register(spark)


def test_python_streaming_datasource_drains_to_exact_feed(spark):
    """The streaming Python DataSource (sources/pydatasource.py): a
    bounded deterministic feed consumed as micro-batches (offsets
    advance rows_per_batch per trigger, each batch split into
    executor-side slices) must drain to EXACTLY the rows that
    range(max_rows) derives — counts and integer sums per type, with no
    gaps or replays across the offset ranges."""
    from data_pipeline_stripe_spark.sources import pydatasource

    pydatasource.register(spark)
    stream = (
        spark.readStream.format("event_feed")
        .option("rows_per_batch", 64)
        .option("max_rows", 500)
        .option("splits_per_batch", 3)
        .load()
    )
    assert stream.isStreaming
    from pyspark.sql import functions as F

    agg = stream.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("value_micros").alias("v"),
        F.size(F.collect_set("user_id")).alias("u"),
    )
    # availableNow snapshots latestOffset ONCE — a bounded feed needs a
    # continuous trigger, drained by polling the processed-row total
    q = (
        agg.writeStream.format("memory").queryName("feed_agg")
        .outputMode("complete").trigger(processingTime="50 milliseconds")
        .start()
    )
    import time

    deadline = time.time() + 60
    while time.time() < deadline:
        done = sum(p["numInputRows"] for p in q.recentProgress)
        if done >= 500:
            break
        time.sleep(0.2)
    q.processAllAvailable()
    q.stop()
    got = {r.event_type: (r.n, r.v, r.u)
           for r in spark.sql("SELECT * FROM feed_agg").collect()}

    expect = {}
    for i in range(500):
        t = ("signup", "click", "view", "purchase", "error")[i % 5]
        n, v, users = expect.get(t, (0, 0, set()))
        users = users | {i % 50}
        expect[t] = (n + 1, v + (i * i) % 1_000_000, users)
    expect = {t: (n, v, len(u)) for t, (n, v, u) in expect.items()}
    assert got == expect
    # micro-batching really happened: 500 rows at 64/batch needs 8 triggers
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 8


def test_python_streaming_datasource_unpaced_mode_single_batch(spark):
    """Default (restart-safe) mode: latestOffset reports the feed's true
    end like a log-end probe, so the whole bounded feed drains in ONE
    availableNow batch with the same exact totals."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.sources import pydatasource

    pydatasource.register(spark)
    stream = (
        spark.readStream.format("event_feed")
        .option("max_rows", 300).load()
    )
    agg = stream.groupBy().agg(F.count("*").alias("n"),
                               F.sum("value_micros").alias("v"))
    q = (
        agg.writeStream.format("memory").queryName("feed_unpaced")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    r = spark.sql("SELECT * FROM feed_unpaced").collect()[0]
    assert (r.n, r.v) == (300, sum((i * i) % 1_000_000 for i in range(300)))
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) == 1


def test_permissive_quarantine_catches_torn_lines(spark, tmp_path):
    """The corrupt_json_quarantine gate's load-bearing assumption: a JSON
    line with the closing brace cut is genuinely malformed for Spark's
    parser (lands in the corrupt-record column with every schema field
    NULL), while intact lines parse fully. If a future parser version
    started accepting truncated objects, the gated query's quarantine
    bucket would silently empty — this pins the mechanism itself."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    path = str(tmp_path / "torn")
    lines = [
        '{"event_id": 1, "event_type": "click", "value_cents": 5}',
        '{"event_id": 2, "event_type": "purchase", "value_cents": 7',  # torn
        '{"event_id": 3, "event_type": "click", "value_cents": 9}',
    ]
    spark.createDataFrame([(l,) for l in lines], ["value"]) \
        .coalesce(1).write.mode("overwrite").text(path)
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value_cents", T.LongType()),
        T.StructField("_corrupt", T.StringType()),
    ])
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    rows = {r.event_id: r for r in parsed.collect()}
    assert rows[1]._corrupt is None and rows[1].value_cents == 5
    assert rows[3]._corrupt is None and rows[3].value_cents == 9
    bad = [r for r in rows.values() if r._corrupt is not None]
    assert len(bad) == 1
    assert bad[0].event_id is None and bad[0].event_type is None
    assert bad[0]._corrupt == lines[1]
    # ...and DROPMALFORMED would have silently lost the torn line — the
    # failure mode the quarantine bucket exists to make visible.
    dropped = (
        spark.read.schema(schema)
        .option("mode", "DROPMALFORMED").json(path)
    )
    assert dropped.filter(F.col("event_id").isNotNull()).count() == 2


def test_merge_schema_read_surfaces_new_columns_as_nulls(spark, tmp_path):
    """schema_evolution_union_read's mechanism: two parquet batches with
    different schemas read through one mergeSchema scan — the merged
    schema is the union, rows from the old batch read NULL for the new
    columns, and no rows are lost either way."""
    out = str(tmp_path / "evolve")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], ["id", "etype"]
    ).write.mode("overwrite").parquet(f"{out}/b0")
    spark.createDataFrame(
        [(3, "c", 30, "ch-0")], ["id", "etype", "cents", "channel"]
    ).write.mode("overwrite").parquet(f"{out}/b1")
    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(f"{out}/b0", f"{out}/b1")
    )
    assert set(merged.columns) == {"id", "etype", "cents", "channel"}
    rows = {r.id: r for r in merged.collect()}
    assert len(rows) == 3
    assert rows[1].cents is None and rows[1].channel is None
    assert rows[3].cents == 30 and rows[3].channel == "ch-0"


def test_snapshot_batch_reader_filter_pushdown(spark, tmp_path):
    """The batch DataSource's pushFilters routes WHERE clauses into
    manifest-stats pruning: a SQL query over the USING-view with a
    band / IN / IS NULL predicate plans only the surviving files
    (checked directly on the reader), every filter is handed back to
    Spark (row semantics exact), and the SQL results match the plain
    filtered read."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import (EqualTo, GreaterThanOrEqual, In,
                                        IsNull, StringStartsWith)

    from data_pipeline_stripe_spark.operators.snapshots import \
        snapshot_commit
    from data_pipeline_stripe_spark.sources.snapshot_source import (
        SnapshotTableBatchReader, register_snapshot_source)

    register_snapshot_source(spark)
    t = str(tmp_path / "pushdown")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 50, None).otherwise(F.col("id"))
        .alias("maybe"))
    # three disjoint k-band commits, one file each
    for lo, hi in ((0, 33), (33, 66), (66, 100)):
        snapshot_commit(
            spark, t,
            df.filter((F.col("k") >= lo) & (F.col("k") < hi)).coalesce(1))

    from data_pipeline_stripe_spark.operators.snapshots import \
        snapshot_read
    schema = snapshot_read(spark, t).schema

    from data_pipeline_stripe_spark.sources.snapshot_source import \
        SnapshotTablePushdownReader

    def planned(filters):
        r = SnapshotTablePushdownReader({"path": t}, schema)
        leftover = list(r.pushFilters(filters))
        assert leftover == filters  # every filter returned to Spark
        return sum(1 for p in r.partitions() if p.abs_path is not None)

    assert planned([GreaterThanOrEqual(("k",), 70)]) == 1
    assert planned([EqualTo(("k",), 10)]) == 1
    assert planned([In(("k",), (5, 90))]) == 2
    assert planned([IsNull(("maybe",))]) == 2  # k<50 spans two bands
    # unsupported shape: no pruning, still handed back
    assert planned([StringStartsWith(("k",), "x")]) == 3

    # end to end: a FRESH pushdown read per query (the documented
    # contract — Spark caches the planned scan on the relation, so a
    # pushdown relation must not be reused across filter shapes)
    def fresh():
        return (spark.read.format("snapshot_table")
                .option("pushdown", "true").load(t))

    assert fresh().filter("k >= 70").agg(
        F.sum("k").cast("long")).first()[0] == sum(range(70, 100))
    assert fresh().filter("maybe IS NULL").count() == 50

    # the sharp edge the default guards against: a PLAIN (pushdown-
    # free) view reused across filter shapes stays exact
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW plain_v USING snapshot_table "
        f"OPTIONS (path '{t}')")
    assert spark.sql(
        "SELECT COUNT(*) AS n FROM plain_v WHERE k >= 70").first().n == 30
    assert spark.sql("SELECT COUNT(*) AS n FROM plain_v").first().n == 100
