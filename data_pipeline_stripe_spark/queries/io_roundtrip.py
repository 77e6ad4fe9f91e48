"""Gated source/sink queries: S1 (JSON blob scan) and K1–K3 (partitioned
CSV / Parquet / JSONL sinks) exercised inside the driver's own hash gate.

The reference ingests event blobs with a driver-side HTTP loop
(reference top10.py:137-168) and writes each report with per-value driver
loops (top10.py:260-278 CSV, platform_usage.py:234-239 parquet,
royalties.py:317 JSONL). The engine's distributed replacements were
previously proven only by golden pytest fixtures; these queries put them
in the DuckDB differential: each one materializes real files under a
scratch directory, reads them back through the engine's own
source/sink path, and returns the re-read frame — so the hash gate
verifies the WHOLE write→read round trip, not just the transform.

Determinism notes (oracle-parity playbook): values that cross a text
format (JSON, CSV) are pre-quantized to integer cents or rendered to
strings before writing, so the round trip is bit-exact on both engines;
partition columns come back from directory names and are cast to string
explicitly rather than trusting partition-type inference.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pipelines.platform_usage import write_usage_parquet
from ..pipelines.royalties import write_royalties_json
from ..pipelines.top10 import write_top10_csv
from ..sources import load_table
from ..sources.readers import read_events_json
from .registry import query
from .stripe import (
    platform_usage_monthly,
    royalties_monthly_usd,
    top10_event_types_daily,
)


def _scratch(sf_dir: str, name: str) -> str:
    """Per-(query, SF) scratch dir under the repo (gitignored). Cleared on
    entry so every run writes fresh files — the write IS the thing under
    test."""
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    path = os.path.join(repo_root, ".scratch", name, tag)
    shutil.rmtree(path, ignore_errors=True)
    return path


def _orders_kpc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot gates' orders fixture: ``(k, pri, cents)``, the
    order key, its priority and its total in whole cents."""
    return load_table(spark, sf_dir, "orders", rebalance=False).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )


_EVENTS_BLOB_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts_s", T.StringType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value_cents", T.LongType()),
])


@query(
    "events_json_blob_agg",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS event_day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY 1, 2
    """,
)
def events_json_blob_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 in the gate: events materialized as JSON blob files, re-scanned
    distributed through ``read_events_json`` (explicit schema, no sampling
    pass — reference top10.py:147-166's driver loop replaced by
    ``spark.read.json``), then aggregated per (day, type). The oracle
    aggregates the parquet directly, so a hash match proves the JSON
    write→scan round trip loses nothing.

    Values cross the text format as integer cents and a rendered
    timestamp string — exact on both engines by construction."""
    out = _scratch(sf_dir, "events_json_blob_agg")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    ev.write.mode("overwrite").json(out)
    # Directory path, not a /*.json glob: same distributed scan, but the
    # glob form trips a noisy (benign) FileStreamSink metadata WARN.
    raw = read_events_json(spark, out, schema=_EVENTS_BLOB_SCHEMA)
    return (
        raw.groupBy(
            F.substring("ts_s", 1, 10).alias("event_day"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("value_cents").alias("value_cents"),
        )
    )


_TOP10_CSV_SCHEMA = T.StructType([
    T.StructField("position", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("purchases", T.LongType()),
])


@query(
    "top10_csv_roundtrip",
    oracle="""
    WITH counts AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
               CAST(COUNT(*) AS BIGINT) AS purchases
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT day, event_type, purchases,
               CAST(DENSE_RANK() OVER (
                   PARTITION BY day ORDER BY purchases DESC) AS BIGINT) AS position
        FROM counts
    )
    SELECT position, day, event_type, purchases
    FROM ranked WHERE position <= 10
    """,
)
def top10_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 in the gate: the top10 report written through the partitioned
    CSV sink (one directory per date, header, '|' separator — the single
    job replacing reference top10.py:260-278's per-date loop) and read
    back with a declared schema. Hash equality with the transform's own
    oracle proves the CSV encode/decode round trip.

    The partition column returns from directory names; it is cast to
    string explicitly (partition-type inference would read 2024-01-01 as
    a DATE)."""
    out = _scratch(sf_dir, "top10_csv_roundtrip")
    report = top10_event_types_daily(spark, sf_dir).withColumnRenamed(
        "day", "date"
    )
    write_top10_csv(report, out)
    back = (
        spark.read.schema(_TOP10_CSV_SCHEMA)
        .option("header", True)
        .option("sep", "|")
        .csv(out)
    )
    return back.select(
        "position",
        F.col("date").cast("string").alias("day"),
        "event_type",
        "purchases",
    )


@query(
    "usage_parquet_roundtrip",
    oracle="""
    WITH base AS (
        SELECT strftime(ts, '%Y-%m') AS month, event_type, user_id, value
        FROM events
    ), per_key AS (
        SELECT month, event_type,
               SUM(value) AS usage_value,
               SUM(SUM(value)) OVER (PARTITION BY month) AS month_value
        FROM base GROUP BY month, event_type
    )
    SELECT month, event_type,
           ROUND(usage_value, 2) AS usage_value,
           ROUND(usage_value / month_value * 100, 4) AS usage_pct
    FROM per_key
    """,
)
def usage_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 in the gate: the platform-usage report written through the
    partitioned parquet sink (one directory per month, single job —
    reference platform_usage.py:234-239's per-month loop) and read back.
    Parquet round-trips the doubles bit-exactly; the month partition
    column is cast back to string explicitly."""
    out = _scratch(sf_dir, "usage_parquet_roundtrip")
    report = platform_usage_monthly(spark, sf_dir)
    write_usage_parquet({"monthly": report}, out)
    back = spark.read.parquet(f"{out}/monthly")
    return back.select(
        F.col("month").cast("string").alias("month"),
        "event_type",
        "usage_value",
        "usage_pct",
    )


_ROYALTIES_JSON_SCHEMA = T.StructType([
    T.StructField("month", T.StringType()),
    T.StructField("provider", T.StringType()),
    T.StructField("royalty_usd", T.DoubleType()),
])


@query(
    "royalties_json_roundtrip",
    oracle="""
    WITH rates(region_name, rate) AS (
        VALUES ('AFRICA', 1.10), ('AMERICA', 1.00), ('ASIA', 0.90),
               ('EUROPE', 1.20)
    )
    SELECT strftime(o.o_orderdate, '%Y-%m') AS month,
           n.n_name AS provider,
           ROUND(SUM(CAST(ROUND(CASE WHEN l.l_returnflag = 'R' THEN 0.0
                                     ELSE l.l_extendedprice * (1 - l.l_discount)
                                          * l.l_tax
                                END * r2.rate * 10000000) AS BIGINT))
                 / 10000000.0, 2) AS royalty_usd
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    JOIN rates r2   ON r.r_name = r2.region_name
    GROUP BY 1, 2
    """,
)
def royalties_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 in the gate: the royalties report written through the JSONL
    sink (reference royalties.py:317) and read back with a declared
    schema. Jackson writes doubles in shortest round-trip form, so the
    2-decimal royalty survives the text format bit-exactly."""
    out = _scratch(sf_dir, "royalties_json_roundtrip")
    report = royalties_monthly_usd(spark, sf_dir)
    write_royalties_json(report, out)
    back = spark.read.schema(_ROYALTIES_JSON_SCHEMA).json(out)
    return back.select("month", "provider", "royalty_usd")


@query(
    "merge_upsert_write_roundtrip",
    oracle="""
    WITH base AS (
        SELECT c_custkey, c_name, c_nationkey,
               ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment
        FROM customer
    ), upd AS (
        SELECT c_custkey, c_name, c_nationkey,
               ROUND(c_acctbal + 100, 2) AS c_acctbal, c_mktsegment
        FROM base WHERE c_custkey % 7 = 0 AND c_nationkey < 10
        UNION ALL
        SELECT c_custkey + 10000000, 'NEW-' || CAST(c_custkey AS VARCHAR),
               c_nationkey, c_acctbal, 'MACHINERY'
        FROM base WHERE c_custkey % 11 = 0 AND c_nationkey < 10
    )
    SELECT COALESCE(u.c_custkey, b.c_custkey) AS c_custkey,
           COALESCE(u.c_name, b.c_name) AS c_name,
           COALESCE(u.c_nationkey, b.c_nationkey) AS c_nationkey,
           COALESCE(u.c_acctbal, b.c_acctbal) AS c_acctbal,
           COALESCE(u.c_mktsegment, b.c_mktsegment) AS c_mktsegment
    FROM base b FULL OUTER JOIN upd u ON b.c_custkey = u.c_custkey
    """,
)
def merge_upsert_write_roundtrip(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The MERGE story's write half (README lakehouse note): the base
    table lives partitioned by nation on disk; an update batch touching
    ONLY nations < 10 merges in (operators/merge.py) and is written back
    with DYNAMIC partition overwrite — only the dirty nations' partition
    directories are rewritten, the other partitions keep the bytes of
    the original write. The returned frame re-reads the whole table, so
    a hash match against the merged-state oracle proves the two writes
    composed into exactly the upserted table — the incremental-upsert
    layout plain parquet supports without table-format jars."""
    from ..operators.merge import merge_upsert

    out = _scratch(sf_dir, "merge_upsert_write_roundtrip")
    base = load_table(spark, sf_dir, "customer").withColumn(
        "c_acctbal", F.round("c_acctbal", 2)
    )
    base.write.mode("overwrite").partitionBy("c_nationkey").parquet(out)
    dirty = F.col("c_nationkey") < 10
    updates = (
        base.filter((F.col("c_custkey") % 7 == 0) & dirty)
        .withColumn("c_acctbal", F.round(F.col("c_acctbal") + 100, 2))
        .unionByName(
            base.filter((F.col("c_custkey") % 11 == 0) & dirty).select(
                (F.col("c_custkey") + 10000000).alias("c_custkey"),
                F.concat(F.lit("NEW-"), F.col("c_custkey").cast("string"))
                .alias("c_name"),
                "c_nationkey",
                "c_acctbal",
                F.lit("MACHINERY").alias("c_mktsegment"),
            )
        )
    )
    merged = merge_upsert(base, updates, "c_custkey").drop("merge_action")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.filter(dirty).write.mode("overwrite").partitionBy(
            "c_nationkey").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    back = spark.read.parquet(out)
    return back.select(
        "c_custkey", "c_name",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "c_acctbal", "c_mktsegment",
    )


@query(
    "pydatasource_rates_by_code",
    oracle="""
    SELECT 'C' || CAST(i % 7 AS VARCHAR) AS code,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(500000 + (i * i) % 1000000) AS BIGINT)
               AS sum_rate_micros,
           CAST(MIN(i) AS BIGINT) AS min_row_id
    FROM (SELECT unnest(range(1000)) AS i)
    GROUP BY 1
    """,
)
def pydatasource_rates_by_code(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """S3 modernized: the dim arrives through a CUSTOM Python DataSource
    (sources/pydatasource.py, Spark 4 API) — 8 shards read as 8
    executor-side partitions with shard pruning pushed down, where the
    reference downloads the whole dim on the driver
    (royalties.py:145-176). Rows are a pure integer function of the
    row id, so the oracle re-derives the scan from range() arithmetic:
    a hash match proves the source's partition/read protocol delivers
    exactly the declared rows. The aggregate is an ordinary grouped
    count/sum over the scan."""
    from ..sources import pydatasource

    pydatasource.register(spark)
    dim = (
        spark.read.format("sharded_dim")
        .option("shards", 8).option("rows_per_shard", 125).load()
    )
    return dim.groupBy("code").agg(
        F.count("*").alias("n_rows"),
        F.sum("rate_micros").alias("sum_rate_micros"),
        F.min("row_id").alias("min_row_id"),
    )


@query(
    "usage_orc_roundtrip",
    oracle="""
    WITH base AS (
        SELECT strftime(ts, '%Y-%m') AS month, event_type, user_id, value
        FROM events
    ), per_key AS (
        SELECT month, event_type,
               SUM(value) AS usage_value,
               SUM(SUM(value)) OVER (PARTITION BY month) AS month_value
        FROM base GROUP BY month, event_type
    )
    SELECT month, event_type,
           ROUND(usage_value, 2) AS usage_value,
           ROUND(usage_value / month_value * 100, 4) AS usage_pct
    FROM per_key
    """,
)
def usage_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second columnar format: the same usage report written through
    a month-partitioned ORC sink (Spark-native, no extra packages) and
    read back. ORC round-trips doubles bit-exactly like parquet, so the
    oracle is shared with the parquet twin; a hash match proves the
    engine's source/sink surface isn't parquet-only — a user switching
    lake formats keeps every query."""
    out = _scratch(sf_dir, "usage_orc_roundtrip")
    report = platform_usage_monthly(spark, sf_dir)
    report.write.mode("overwrite").partitionBy("month").orc(out)
    back = spark.read.orc(out)
    return back.select(
        F.col("month").cast("string").alias("month"),
        "event_type",
        "usage_value",
        "usage_pct",
    )
