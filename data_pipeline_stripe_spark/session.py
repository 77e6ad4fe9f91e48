"""SparkSession construction tuned for both local testing and cluster scale.

The reference pins ``master("local")`` (reference top10.py:198,
platform_usage.py:88, royalties.py:257) — a single JVM thread even when
submitted to a Dataproc cluster. Here the master is injectable: tests use
``local[N]``; on a real cluster the builder inherits the submit-time master.

Scale-relevant defaults (all runtime-adjustable):
- AQE on (coalesces shuffle partitions, re-plans skewed joins at runtime).
- ``spark.sql.shuffle.partitions`` sized to cores locally; AQE grows it on
  a cluster.
- Session timezone pinned to UTC so timestamp-derived columns are
  deterministic regardless of host timezone (also required for the DuckDB
  oracle, whose timestamps are naive).
- Arrow enabled for the pandas-UDF slow path.

Generated code is kept across cycles. The generated-class cache
(``spark.sql.codegen.cache.maxEntries``) holds ``CODEGEN_CACHE_ENTRIES``
classes instead of Spark's 100: one nightly cycle (the three reports plus
a curation pass) compiles about 200 classes (179 to 207 measured), so at
100 entries every cycle evicted what the next one needed and Janino and
the JIT compiled it all again. The cache size is a static conf: it only
takes effect when ``get_session`` creates the session, and
``apply_runtime_confs`` cannot set it on a session that an external
driver owns. Generated class names also leave out the whole-stage codegen
id, which adaptive execution hands out in stage-completion order; with
the id in the name, the same code missed the cache whenever two stages
finished in a different order.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime (not just session-creation-time) confs every query relies on.
# Applied defensively by the query registry too, because the verify driver
# may hand us an already-built session with different settings.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The driver's events.parquet carries TIMESTAMP(NANOS), which Spark's
    # reader rejects; read as long and convert (sources.load_table).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Runtime bloom-filter join pruning: build a bloom filter from the
    # filtered build side and push it into the probe-side scan — at 100 TB
    # this skips most of the fact scan for selective joins.
    # (spark.sql.optimizer.runtimeFilter.semiJoinReduction.enabled is
    # deliberately NOT set: with it on, this Spark build hangs planning
    # even a trivial range().count() in local mode — reproduced and
    # bisected to that single conf.)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Trust bucketBy+sortBy order on scan — Spark still verifies each
    # bucket holds a SINGLE file before reporting the order
    # (FileSourceScanLike checks bucketsContainSingleFile() in addition
    # to this conf), so multi-file bucketed tables keep their safety
    # Sort. write_bucketed_table writes one file per bucket precisely
    # so co-located sort-merge joins skip BOTH the exchange AND the
    # per-bucket sort.
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    # Python DataSource filter pushdown (off by default in 4.1): lets
    # the snapshot_table batch reader route WHERE clauses into
    # manifest-stats file pruning (sources/snapshot_source.py
    # pushFilters) — without it Spark refuses to plan a reader that
    # implements pushFilters at all.
    "spark.sql.python.filterPushdown.enabled": "true",
}


# Generated-class cache size: the measured working set of one nightly
# cycle is about 200 classes against Spark's default of 100 entries.
CODEGEN_CACHE_ENTRIES = 1024


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))


def get_session(app_name: str = "data-pipeline-stripe-spark",
                master: str | None = None,
                shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # no [Stage ...] bar on stderr: it lands inside tools' result
        # lines under 2>&1
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Output-commit cost (guide §6): v2 commits task files straight
        # into the destination at task commit (one rename pass instead
        # of two) and the _SUCCESS marker is dead weight nothing here
        # reads — ~20 ms per write, and the gates write hundreds of
        # small commit dirs per bench run. Both are safe without
        # speculative execution (off), and the snapshot format's own
        # atomicity comes from its manifest publish, not the committer.
        .config("spark.hadoop.mapreduce.fileoutputcommitter"
                ".algorithm.version", "2")
        .config("spark.hadoop.mapreduce.fileoutputcommitter"
                ".marksuccessfuljobs", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    if master:
        builder = builder.master(master)
    elif os.environ.get("SPARK_GRAFT_CPUS"):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Pin the runtime confs on a session we did not build (driver-owned)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - static confs on odd builds
            pass
    return spark
