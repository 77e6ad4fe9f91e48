"""Change-feed checks for snapshot tables (operators/snapshots.py): the
four laws a gate, a test or an interleaving harness asserts after a
run of commits, each written once.

- ``check_stream``: what a ``snapshot_table`` stream, plain or CDF,
  wrote to its parquet sink over ``(from, to]`` equals the batch read
  over the same range as a multiset (Structured Streaming, SIGMOD'18:
  a stream's output equals the batch query over the same prefix).
- ``check_replay``: applying the change feed over ``(from, to]`` to the
  ``from`` state reproduces the ``to`` state. A stream's sink output
  is checked the same way, after it is shown equal to the batch feed
  over the same range, as ``check_stream`` does.
- ``check_feed``: the feed over a range holds exactly the expected
  number of rows per change type.
- ``check_carried``: a copy-on-write rewrite carried exactly ``n`` base
  file entries forward unchanged and dropped every other base file —
  the rewrite stayed inside its band (the Iceberg spec's rule that an
  unchanged data file keeps its manifest entry).

Each check raises ``RuntimeError`` naming the caller's ``context``.
So do ``no_entry_reads``, the tripwire that pins a verb to opening no
existing data file, until commit summaries count the files a commit
opens, and ``check_refuses``, the one form of a gate's "this call must
be refused" leg.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import empty_frame
from . import snapshots as _snapshots
from .merge import apply_cdc
from .snapshots import (_read_manifest, snapshot_current_version,
                        snapshot_read, snapshot_read_cdf,
                        snapshot_read_incremental)


def frames_differ(a: DataFrame, b: DataFrame) -> bool:
    """Multiset inequality of two frames in ONE Spark job: the union of
    both ``exceptAll`` directions under one ``isEmpty()``, which
    short-circuits on the first differing row (two ``count()`` calls
    would pay two job launches for the same answer)."""
    return not a.exceptAll(b).unionAll(b.exceptAll(a)).isEmpty()


@contextmanager
def no_entry_reads(context: str):
    """Inside the block, reading a snapshot table's data files through
    ``snapshots._read_entries`` raises ``RuntimeError`` naming
    ``context``: the pin for an O(new) or O(keys) verb that must open
    no existing data file."""
    real = _snapshots._read_entries

    def tripwire(*a, **kw):
        raise RuntimeError(f"{context} read table entries — it must open "
                           "no existing data file")

    _snapshots._read_entries = tripwire
    try:
        yield
    finally:
        _snapshots._read_entries = real


def check_refuses(fn, exc_type, needle: str | None = None, *,
                  context: str, what: str) -> BaseException:
    """Call ``fn()`` and raise ``RuntimeError`` naming ``context`` and
    ``what`` (the refusal that did not happen) unless it raises
    ``exc_type`` — whose message contains ``needle``, when given.
    Returns the refusal. The "did not refuse" error is raised outside
    the ``try``, so ``exc_type`` can never catch it, even when ``what``
    contains the needle; any other exception propagates."""
    try:
        fn()
    except exc_type as exc:
        if needle is not None and needle not in str(exc):
            raise RuntimeError(
                f"{context}: expected a refusal naming {needle!r}, got: "
                f"{exc}") from exc
        return exc
    raise RuntimeError(f"{context}: {what}")


def feed_changes(feed: DataFrame) -> DataFrame:
    """A change feed as an ``apply_cdc`` change batch with
    ``seq="_commit_version"`` and ``op="_change_type"``: I and U rows
    upsert, D rows delete."""
    return feed.withColumn(
        "_change_type",
        F.when(F.col("_change_type") == "D", F.lit("D"))
        .otherwise(F.lit("U")))


def _batch_feed(spark: SparkSession, table_dir: str, from_version: int,
                to_version: int) -> DataFrame:
    """The batch feed over ``(from_version, to_version]``. At -1, the
    CDF stream's default start, the stream's initial load serves
    version 0's rows as 'I' before the feed from version 0
    (sources/snapshot_source.py); ``snapshot_read_cdf`` always excludes
    its anchor version, so those rows are read here."""
    if from_version >= 0:
        return snapshot_read_cdf(spark, table_dir, from_version,
                                 to_version)
    root = (snapshot_read(spark, table_dir, version=0)
            .withColumn("_change_type", F.lit("I"))
            .withColumn("_commit_version", F.lit(0).cast("long")))
    return root.unionByName(
        snapshot_read_cdf(spark, table_dir, 0, to_version),
        allowMissingColumns=True)


def _check_streamed(streamed: DataFrame, twin: DataFrame, noun: str,
                    from_version: int, to_version: int,
                    context: str) -> None:
    """Raise unless the ``streamed`` rows equal their batch ``twin``
    over ``(from_version, to_version]`` as a multiset."""
    if frames_differ(streamed, twin.select(*streamed.columns)):
        raise RuntimeError(
            f"{context}: the streamed {noun} over ({from_version}, "
            f"{to_version}] differs from the batch {noun} over the same "
            "range")


def check_stream(spark: SparkSession, table_dir: str, out_dir: str,
                 from_version: int, to_version: int | None = None, *,
                 cdf: bool = False, context: str) -> DataFrame:
    """Raise unless the parquet sink ``out_dir`` of a ``snapshot_table``
    stream that consumed ``(from_version, to_version]`` (default: the
    head) holds exactly the batch twin's rows, as a multiset. The plain
    twin is ``snapshot_read(to_version)`` from -1 (the stream's initial
    load serves the live state) and ``snapshot_read_incremental``
    otherwise; the CDF twin is the batch feed over the range, from -1
    with version 0's rows as 'I'. The sink is read under the twin's
    schema, so no inference job; a sink with no parquet file holds 0
    rows. Returns the sink's rows."""
    to_v = (snapshot_current_version(table_dir) if to_version is None
            else to_version)
    if cdf:
        twin = _batch_feed(spark, table_dir, from_version, to_v)
    elif from_version < 0:
        twin = snapshot_read(spark, table_dir, version=to_v)
    else:
        twin = snapshot_read_incremental(spark, table_dir, from_version,
                                         to_v)
    written = os.path.isdir(out_dir) and any(
        f.endswith(".parquet") for f in os.listdir(out_dir))
    sink = (spark.read.schema(twin.schema).parquet(out_dir) if written
            else empty_frame(spark, twin.schema))
    _check_streamed(sink, twin, "change feed" if cdf else "read",
                    from_version, to_v, context)
    return sink


def check_replay(spark: SparkSession, table_dir: str, key,
                 from_version: int, to_version: int | None = None, *,
                 feed: DataFrame | None = None,
                 context: str) -> DataFrame:
    """Replay the change feed over ``(from_version, to_version]``
    (default: the head) onto the ``from_version`` state and raise unless
    the result equals ``snapshot_read(to_version)`` as a multiset.
    ``key`` may be composite. ``feed`` is a stream's sink output over
    that range; it must first equal the batch feed over the same range
    (``check_stream``'s comparison).
    ``from_version`` -1 is the stream's default start: the base is then
    empty, with the head's schema. Returns the replayed rows (table
    columns), so a gate can hash them."""
    to_v = (snapshot_current_version(table_dir) if to_version is None
            else to_version)
    batch = _batch_feed(spark, table_dir, from_version, to_v)
    if feed is None:
        feed = batch
    else:
        _check_streamed(feed, batch, "change feed", from_version, to_v,
                        context)
    head = snapshot_read(spark, table_dir, version=to_v)
    base = (empty_frame(spark, head.schema) if from_version < 0
            else snapshot_read(spark, table_dir, version=from_version))
    replayed = apply_cdc(base, feed_changes(feed), key,
                         seq="_commit_version",
                         op="_change_type").drop("cdc_action")
    if frames_differ(replayed, head):
        raise RuntimeError(
            f"{context}: replaying the change feed over ({from_version}, "
            f"{to_v}] does not reproduce version {to_v}")
    return replayed


def check_feed(spark: SparkSession, table_dir: str, from_version: int,
               to_version: int, expect: dict, *,
               context: str) -> DataFrame:
    """Raise unless the feed over ``(from_version, to_version]`` holds
    exactly ``expect`` rows per change type (``{"D": n}``; a type not
    named means 0). The count is one Spark job: the feed is coalesced
    into one partition, so the grouping needs no shuffle. Building the
    feed runs none (a change log is read under the schema its footer
    records); an equality delete's broadcast keys add their own at the
    count. Returns the feed."""
    feed = snapshot_read_cdf(spark, table_dir, from_version, to_version)
    got = {r["_change_type"]: r["count"] for r in
           feed.coalesce(1).groupBy("_change_type").count().collect()}
    want = {t: n for t, n in expect.items() if n}
    if got != want:
        raise RuntimeError(
            f"{context}: the change feed over ({from_version}, "
            f"{to_version}] has {got} rows per change type, expected "
            f"{want}")
    return feed


def check_carried(table_dir: str, base_version: int, version: int,
                  n: int, *, context: str) -> None:
    """Raise unless exactly ``n`` of ``base_version``'s file entries
    reach ``version`` unchanged (same path, same stats, no new deletion
    vector) and every other base file is gone. A manifest diff: no
    Spark job."""
    pre = {e["path"]: e
           for e in _read_manifest(table_dir, base_version)["files"]}
    post = {e["path"]: e
            for e in _read_manifest(table_dir, version)["files"]}
    kept = [p for p in pre if p in post]
    unchanged = [p for p in kept if post[p] == pre[p]]
    if len(unchanged) != n or len(kept) != n:
        raise RuntimeError(
            f"{context}: expected exactly {n} of the {len(pre)} files of "
            f"version {base_version} carried into version {version} "
            f"unchanged and the rest rewritten, got {len(unchanged)} "
            f"unchanged and {len(kept) - len(unchanged)} changed of "
            f"{len(kept)} kept")
