"""Distributed sources replacing the reference's driver-side ingest loops.

The reference downloads every GCS event blob on the driver, one HTTP GET at
a time (reference top10.py:137-168, platform_usage.py:22-53,
royalties.py:145-176), streams Firestore collections into Python lists
(top10.py:87-114, royalties.py:95-122), and fetches REST dims with
``requests`` (top10.py:35-59). At 100 TB the driver loop is the bottleneck;
here every large source is a ``spark.read`` — listed, split and parsed by
executors, with predicate pushdown and partition pruning intact.

Small dimensions (categories, exchange rates) legitimately fit on the
driver: ``read_dim_rows`` builds them from an in-memory payload with an
explicit schema, and callers broadcast-join them.
"""

from __future__ import annotations

import logging
import os

from collections.abc import Iterable, Mapping
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import EVENTS_RAW_SCHEMA, TABLE_NAMES, TESTDATA_SCHEMAS

# Tables large enough that an under-parallelized scan starves the CPUs;
# dimensions stay unsplit (they broadcast anyway).
FACT_TABLES = {"lineitem", "orders", "events", "documents", "embeddings"}
_NEEDS_REBALANCE: dict[tuple, bool] = {}

log = logging.getLogger(__name__)


def read_events_json(spark: SparkSession, path_glob: str,
                     schema: T.StructType = EVENTS_RAW_SCHEMA) -> DataFrame:
    """Distributed scan of one-JSON-object-per-file event blobs.

    Replaces the driver loop at reference top10.py:147-166 with
    ``spark.read.schema(...).json(glob)`` — file listing and JSON parsing
    happen on executors; an explicit schema avoids a sampling pass.
    """
    return spark.read.schema(schema).json(path_glob)


def read_dim_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Header CSV dimension with a declared schema (no inferSchema pass).

    Reference: royalties.py:66-68 (`inferSchema=True` → a full extra scan).
    """
    return spark.read.csv(path, header=True, schema=schema)


def _quoted(name: str) -> str:
    """``name`` as a backtick-quoted identifier (an embedded backtick is
    written doubled)."""
    return "`" + name.replace("`", "``") + "`"


def read_dim_rows(spark: SparkSession, rows: Iterable[Mapping[str, Any]],
                  schema: T.StructType) -> DataFrame:
    """Small dimension from an in-memory payload (REST response, rate dict).

    Replaces ``createDataFrame(list_of_dicts)`` with inferred schema
    (reference top10.py:57,112) and the exchange-rate closure dict
    (royalties.py:210-214,306) with a proper DataFrame that callers
    broadcast-join.
    """
    ordered = [tuple(r.get(f.name) for f in schema.fields) for r in rows]
    # scalar payloads ride the JVM VALUES path (see inline_dim — a local
    # list costs seconds of Python tasks per materialization on a wide
    # local master). VALUES relations of non-null literals infer
    # nullable=false columns, so relax each too-strict column back to the
    # DECLARED nullability with nullif(col, NULL): nullable at analysis
    # time, folded into the LocalRelation by the optimizer (pure JVM, no
    # Python RDD). Only what the VALUES shape cannot carry falls back to
    # createDataFrame: a non-scalar value, or a NULL in a column declared
    # NOT NULL (createDataFrame enforces that contract).
    mismatched = [f.name for i, f in enumerate(schema.fields)
                  if not all(r[i] is None
                             or isinstance(r[i], (str, int, float, bool))
                             for r in ordered)]
    if not mismatched:
        df = inline_dim(spark, ordered, schema)
        df = df.select(*[
            F.nullif(df[_quoted(f.name)], F.lit(None)).alias(f.name)
            if f.nullable and not df.schema[f.name].nullable
            else df[_quoted(f.name)]
            for f in schema.fields])
        mismatched = [f.name for f, got in zip(schema.fields, df.schema.fields)
                      if f != got]
        if not mismatched:
            return df
    log.warning("read_dim_rows: column(s) %s do not fit a VALUES relation "
                "with the declared schema; building the dimension with "
                "createDataFrame (Python tasks on every scan)", mismatched)
    return spark.createDataFrame(ordered, schema)


def fetch_dim(spark: SparkSession, url: str, schema: T.StructType,
              content_key: str = "content", timeout: float = 10.0) -> DataFrame:
    """Thin REST-dimension fetch: GET ``url``, parse the JSON payload, and
    build a typed dimension via ``read_dim_rows``.

    Replaces the reference's ``requests.get(url).json()["content"]`` +
    inferred-schema createDataFrame (top10.py:35-59, royalties.py:44-63).
    A small dimension legitimately arrives through the driver — it gets
    broadcast anyway; what must NOT happen on the driver is the fact-table
    ingest (see ``read_events_json``). Accepts ``http(s)://`` and, for
    tests / local fixtures, ``file://`` URLs. The payload may be a bare
    JSON list of objects or wrapped as ``{content_key: [...]}``.
    """
    import json as _json
    import urllib.request

    with urllib.request.urlopen(url, timeout=timeout) as resp:
        data = _json.loads(resp.read().decode("utf-8"))
    rows = data[content_key] if isinstance(data, Mapping) else data
    return read_dim_rows(spark, rows, schema)


def inline_dim(spark: SparkSession, rows: list[tuple],
               columns: str | T.StructType) -> DataFrame:
    """Tiny literal dimension as a pure-JVM VALUES relation.

    ``spark.createDataFrame(local_rows)`` routes through a Python RDD
    (parallelize → Python workers just to emit a handful of rows — seconds
    of overhead on a wide local master: measured 6.1 s to WRITE a one-row
    python-RDD frame on local[32] vs 0.2 s for the VALUES form, because
    the local list always lands in defaultParallelism partitions and every
    write task pays a Python worker); a SQL VALUES table stays entirely in
    the JVM and costs nothing. ``columns`` is a DDL string, e.g.
    "name string, rate double" (comma-bearing types like decimal(10,2)
    are fine — parsed with StructType.fromDDL, not string-split), or a
    StructType.
    """
    schema = (T.StructType.fromDDL(columns)
              if isinstance(columns, str) else columns)
    if not rows:
        return empty_frame(spark, schema)

    import math

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float) and not math.isfinite(v):
            # repr() yields 'nan'/'inf' — invalid SQL tokens; route the
            # IEEE specials through the string-cast form Spark accepts
            if math.isnan(v):
                return "CAST('NaN' AS DOUBLE)"
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        if isinstance(v, (int, float)):
            return repr(v)
        # escape the SQL string-literal metacharacters: backslash first
        # (Spark parses backslash escapes in literals), then quotes
        s = str(v).replace("\\", "\\\\").replace("'", "''")
        return "'" + s + "'"

    names = [f.name for f in schema.fields]
    values = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    quoted = [_quoted(n) for n in names]
    df = spark.sql(
        f"SELECT * FROM VALUES {values} AS t({', '.join(quoted)})")
    return df.select(
        *[df[q].cast(f.dataType).alias(f.name)
          for q, f in zip(quoted, schema.fields)])


def empty_frame(spark: SparkSession, schema) -> DataFrame:
    """Zero-row DataFrame with a declared schema, built JVM-side.

    ``spark.createDataFrame([], schema)`` still routes through an empty
    Python RDD in defaultParallelism partitions — every materialization
    pays ~0.6 s of Python tasks on local[32] for zero rows. A
    ``range(0).select(casts)`` plan is pure JVM (~0.17 s), produces the
    identical single empty parquet file on write, and casts NULL into any
    Spark type including arrays/structs. ``schema`` is a StructType or a
    DDL string ("k long, pri string")."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields])


def typed_events(raw: DataFrame) -> DataFrame:
    """Type the stringly-typed reference events at the boundary
    (SURVEY.md §1.3): ISO-8601-with-offset strings → TimestampType
    (normalized to UTC instants), itemPrice string → Decimal(12,2).
    Downstream operators then use typed semantics instead of substring
    slicing and implicit string arithmetic (reference royalties.py:232).
    Unparseable values become NULL (to_timestamp/try semantics), never
    exceptions mid-pipeline."""
    ts_fmt = "yyyy-MM-dd'T'HH:mm:ssXXX"
    # try_* variants: ANSI mode (Spark 4 default) makes plain
    # to_timestamp/cast THROW on malformed input; the boundary policy is
    # NULL, never a mid-pipeline exception.
    return raw.select(
        "eventId",
        F.try_to_timestamp("eventTime", F.lit(ts_fmt)).alias("eventTime"),
        F.coalesce(
            F.try_to_timestamp("processTime", F.lit(ts_fmt)),
            F.try_to_timestamp("processTime", F.lit("yyyy-MM-dd'T'HH:mm:ss")),
        ).alias("processTime"),
        "resourceId",
        "userId",
        "countryCode",
        "duration",
        F.expr("try_cast(itemPrice AS decimal(12,2))").alias("itemPrice"),
    )


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-zoned TimestampType across the
    physical layouts the fixtures have shipped with:

    - parquet TIMESTAMP(NANOS) read under ``nanosAsLong`` → epoch-nanos
      LongType → floor-truncate to microseconds (matches DuckDB ns→us);
    - parquet timestamp[us] without timezone → TIMESTAMP_NTZ → reinterpret
      the wall clock in the session zone (pinned UTC), which is exactly how
      DuckDB reads the same file (naive TIMESTAMP).

    Every downstream operator sees one type regardless of fixture vintage.
    """
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if not isinstance(dt, T.TimestampType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str,
               rebalance: bool = True) -> DataFrame:
    """One driver test table (TESTDATA.md) as a DataFrame.

    ``events.ts`` arrives as either epoch-nanos LongType (older fixtures,
    via ``spark.sql.legacy.parquet.nanosAsLong``) or TIMESTAMP_NTZ (current
    fixtures, timestamp[us]); ``normalize_event_ts`` maps both to the same
    session-zoned TimestampType.

    ``rebalance=False`` skips the fact-table repartition below: callers
    that slice a SMALL predicate band out of a fact (the snapshot
    protocol gates) pay the full-width round-robin exchange on every
    action for no compute benefit — a selective pushed filter leaves too
    few rows for parallelism to matter (guide §2.4: remove shuffles
    outright). Compute-heavy consumers keep the default.
    """
    if name not in TESTDATA_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    if name in FACT_TABLES and rebalance:
        # The test fixtures are single-row-group files, so Spark scans them
        # as ONE partition and every map-side stage runs on one core. A
        # production layout (many files / row groups) wouldn't need this;
        # here we rebalance fact tables up to the session's parallelism.
        # The probe counts parquet files on disk (no Spark job, no ``.rdd``
        # plan materialization) and memoizes by path — static files don't
        # change, and the key has no session identity to go stale.
        target = spark.sparkContext.defaultParallelism
        key = (sf_dir, name)
        if key not in _NEEDS_REBALANCE:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.isdir(path):
                n_files = sum(
                    1 for f in os.listdir(path) if f.endswith(".parquet")
                )
            else:
                n_files = 1
            _NEEDS_REBALANCE[key] = n_files < max(2, target // 2)
        if _NEEDS_REBALANCE[key]:
            df = df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str,
                names: Iterable[str] = TABLE_NAMES) -> dict[str, DataFrame]:
    """Load test tables and register each as a temp view (SQL surface)."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
