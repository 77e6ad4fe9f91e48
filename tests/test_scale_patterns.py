"""Scale-pattern tests: bucketed co-located joins, salted skew joins,
two-phase aggregation — correctness plus the plan property each exists for."""

import pytest
from pyspark.sql import functions as F

from data_pipeline_stripe_spark.operators import salted_join, two_phase_agg
from data_pipeline_stripe_spark.sources import load_table


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    # skew: pretend one orderkey is hot by joining on a low-cardinality col
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice")
    plain = li.join(orders, "l_orderkey").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()[0]
    salted = salted_join(li, orders, on="l_orderkey", n_salts=8).agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()[0]
    assert (plain.n, plain.s) == (salted.n, salted.s)


def test_two_phase_agg_exact(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    direct = {r.l_returnflag: round(r.s, 2) for r in
              li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s")).collect()}
    salted = {r.l_returnflag: round(r.l_quantity_sum, 2) for r in
              two_phase_agg(li, "l_returnflag", "l_quantity").collect()}
    assert direct == salted


def test_bucketed_join_needs_no_shuffle(spark, sf_dir):
    """bucketBy co-location: two tables bucketed on the join key join
    without any Exchange — the 100 TB answer to repeated big-big joins
    (guide: Partitioning & shuffle). Uses the default ./spark-warehouse
    (warehouse.dir is a static conf); tables are dropped after."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite") \
        .saveAsTable("li_bucketed")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite") \
        .saveAsTable("orders_bucketed")
    lb = spark.table("li_bucketed")
    ob = spark.table("orders_bucketed")
    # disable broadcast so the co-location is what avoids the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Writing day-partitioned parquet and filtering on the partition
    column must prune at planning time: the scan's PartitionFilters
    carries the predicate and only the matching partition's rows are
    read — the data-skipping pattern every 100 TB event store relies
    on."""
    from pyspark.sql import functions as F
    from data_pipeline_stripe_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    out = str(tmp_path / "events_by_day")
    ev.write.partitionBy("day").parquet(out)
    days = [r.day for r in ev.select("day").distinct().collect()]
    target = sorted(days)[0]
    back = spark.read.parquet(out).filter(F.col("day") == target)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and target not in plan.split(
        "PushedFilters"
    )[-1]
    assert f"(day = {target})" in plan or "isnotnull(day" in plan
    expect = ev.filter(F.col("day") == target).count()
    assert back.count() == expect > 0


def test_merge_schema_evolution_read(spark, tmp_path):
    """Schema evolution across parquet batches: a later batch adds a
    column; mergeSchema reads the union schema with nulls for the old
    batch — the accreting-fields reality of any long-lived corpus."""
    d = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a")], "id long, name string"
    ).write.parquet(d + "/batch=1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(d + "/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(merged.columns) == {"id", "name", "score", "batch"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5


def test_parquet_aggregate_pushdown_footer_stats(spark, sf_dir):
    """COUNT/MIN/MAX with no filter can be answered from parquet footer
    statistics — with the v2 source and aggregatePushDown the scan shows
    PushedAggregation and reads no row data. 100 TB corpus-card queries
    (row counts, min/max bounds) become metadata reads."""
    from pyspark.sql import functions as F

    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    try:
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        spark.conf.set("spark.sql.parquet.aggregatePushDown", "true")
        df = spark.read.parquet(f"{sf_dir}/orders.parquet")
        agg = df.agg(F.count("*").alias("n"),
                     F.max("o_totalprice").alias("mx"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation: [COUNT(*)" in plan \
            or "PushedAggregation" in plan
        row = agg.collect()[0]
        # cross-check against the plain v1 scan
        spark.conf.set("spark.sql.sources.useV1SourceList", "parquet")
        plain = spark.read.parquet(f"{sf_dir}/orders.parquet").agg(
            F.count("*").alias("n"), F.max("o_totalprice").alias("mx")
        ).collect()[0]
        assert (row.n, row.mx) == (plain.n, plain.mx)
    finally:
        if old_v1 is None:
            spark.conf.unset("spark.sql.sources.useV1SourceList")
        else:
            spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)
        spark.conf.set("spark.sql.parquet.aggregatePushDown", "false")


def test_hot_key_caps_fire_on_boilerplate_cluster(spark):
    """The skewed-corpus shape (tools/make_skewed_fixture.py, benched in
    tools/bench_skew.py): a boilerplate cluster larger than the caps.
    Pins that (a) the LSH bucket cap and the shingle document-frequency
    cap actually CHANGE the candidate set there — dropping the
    cluster's quadratic pairs whole — and (b) pairs between normal
    docs survive unaffected, so the cap only removes the blowup."""
    from data_pipeline_stripe_spark.llm import dedup

    template = ("all rights reserved this page is part of the site "
                "archive and may not be reproduced without permission "
                "of the publisher")
    rows = []
    # 100 byte-identical boilerplate docs: identical shingle sets means
    # identical signatures, so every LSH band has one 100-doc bucket
    # (> the 64 cap) and every template shingle has df=100 (> the cap)
    for i in range(100):
        rows.append((i, template))
    # 2 exact-duplicate normal docs: a legitimate pair the caps must keep
    normal = "quick brown fox jumps over the lazy dog again and again"
    rows.append((1000, normal))
    rows.append((1001, normal))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = dedup.minhash_lsh_pairs(docs, max_bucket_size=64)
    uncapped = dedup.minhash_lsh_pairs(docs, max_bucket_size=None)
    capped_pairs = {(r.doc_a, r.doc_b) for r in capped.collect()}
    uncapped_pairs = {(r.doc_a, r.doc_b) for r in uncapped.collect()}
    # the cap drops every >64-doc bucket whole: the cluster's C(100,2)
    # quadratic pair set disappears entirely...
    assert not any(a < 1000 and b < 1000 for a, b in capped_pairs)
    assert sum(
        1 for a, b in uncapped_pairs if a < 1000 and b < 1000) == 4950
    # ...but keeps the normal near-dup pair
    assert (1000, 1001) in capped_pairs
    assert len(capped_pairs) < len(uncapped_pairs)

    jc = dedup.ngram_jaccard_pairs(docs, max_doc_freq=64)
    ju = dedup.ngram_jaccard_pairs(docs, max_doc_freq=None)
    jc_pairs = {(r.doc_a, r.doc_b) for r in jc.collect()}
    ju_pairs = {(r.doc_a, r.doc_b) for r in ju.collect()}
    assert not any(a < 1000 and b < 1000 for a, b in jc_pairs)
    assert sum(1 for a, b in ju_pairs if a < 1000 and b < 1000) == 4950
    assert (1000, 1001) in jc_pairs


def test_zorder_key_clusters_both_dimensions(spark, sf_dir):
    """The point of the Z-order key (queries/relational5.py): rows
    matching a small (custkey-range AND date-range) rectangle land in
    FEW chunks of the z-sorted order, versus many chunks under a
    single-column date sort — i.e. min/max file skipping works in both
    dimensions at once. Chunks model parquet row groups: equal row-count
    slices of the sorted layout. Runs at sf0.01 regardless of the
    fixture default: with only ~23 rows per chunk (sf0.001) the z-space
    is too sparse for the clustering to separate from noise — the
    property under test is about row groups with real occupancy."""
    from data_pipeline_stripe_spark.queries.relational5 import _Z_SPARK

    sf_dir = "/root/testdata/sf0.01"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate",
        F.expr(f"CAST({_Z_SPARK} AS BIGINT)").alias("zkey"),
    )
    n = orders.count()
    n_chunks = 64
    hit = (F.col("o_custkey").between(100, 140)
           & F.col("o_orderdate").between("1996-01-01", "1996-12-31"))

    def chunks_touched(sort_col: str) -> int:
        from pyspark.sql.window import Window as W
        w = W.orderBy(sort_col)
        ranked = orders.withColumn(
            "chunk", (F.row_number().over(w) * n_chunks / (n + 1)).cast("int"))
        return ranked.filter(hit).select("chunk").distinct().count()

    z_touched = chunks_touched("zkey")
    date_touched = chunks_touched("o_orderdate")
    matched = orders.filter(hit).count()
    assert matched > 0
    # date-sorted layout smears the customer range across every chunk of
    # the date range; z-sorted touches a fraction of them
    assert z_touched < date_touched / 2, (z_touched, date_touched)


def test_clustered_write_produces_disjoint_tight_footers(spark, sf_dir,
                                                         tmp_path):
    """The write half of the Z-order story (operators/layout.py): after
    write_clustered on the Morton key, every parquet file owns a
    DISJOINT zkey span and the per-file footer [min, max] spans are
    tight — so a zkey-range predicate can prune whole files from
    footers alone. A round-robin write of the same rows smears the full
    key range across every file (no file prunable, ever)."""
    import pyarrow.parquet as pq

    from data_pipeline_stripe_spark.operators import write_clustered
    from data_pipeline_stripe_spark.queries.relational5 import _Z_SPARK

    orders = load_table(spark, "/root/testdata/sf0.01", "orders").select(
        "o_orderkey", F.expr(f"CAST({_Z_SPARK} AS BIGINT)").alias("zkey"))
    cl, rr = str(tmp_path / "clustered"), str(tmp_path / "roundrobin")
    write_clustered(orders, cl, ["zkey"], n_files=8)
    orders.repartition(8).write.parquet(rr)

    def file_spans(d):
        spans = []
        for e in sorted(os.listdir(d)):
            if not e.endswith(".parquet"):
                continue
            md = pq.ParquetFile(f"{d}/{e}").metadata
            zi = next(i for i in range(md.num_columns)
                      if md.row_group(0).column(i).path_in_schema == "zkey")
            mins = [md.row_group(g).column(zi).statistics.min
                    for g in range(md.num_row_groups)]
            maxs = [md.row_group(g).column(zi).statistics.max
                    for g in range(md.num_row_groups)]
            spans.append((min(mins), max(maxs)))
        return sorted(spans)

    import os

    cl_spans, rr_spans = file_spans(cl), file_spans(rr)
    assert len(cl_spans) == 8
    # disjoint: each file's min exceeds the previous file's max
    assert all(b[0] > a[1] for a, b in zip(cl_spans, cl_spans[1:]))
    # round-robin files all span ~the whole range — none prunable
    lo = min(s[0] for s in rr_spans)
    hi = max(s[1] for s in rr_spans)
    assert all(s[1] - s[0] > 0.9 * (hi - lo) for s in rr_spans)
    # same rows either way
    assert (spark.read.parquet(cl).count()
            == spark.read.parquet(rr).count() == orders.count())


def test_compaction_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    """compact_small_files: a directory of many tiny files (the
    streaming-ingest residue) compacts to the size-targeted count with
    the exact same row multiset."""
    from data_pipeline_stripe_spark.operators import compact_small_files

    src, dst = str(tmp_path / "tiny"), str(tmp_path / "compact")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice")
    orders.repartition(40).write.parquet(src)
    import os

    n_in = sum(1 for e in os.listdir(src) if e.endswith(".parquet"))
    total = sum(e.stat().st_size for e in os.scandir(src)
                if e.name.endswith(".parquet"))
    n_out = compact_small_files(spark, src, dst,
                                target_file_bytes=total // 3 + 1)
    files_out = sum(1 for e in os.listdir(dst) if e.endswith(".parquet"))
    assert n_in == 40 and files_out == n_out <= 4
    a = sorted(r.o_orderkey for r in spark.read.parquet(src).collect())
    b = sorted(r.o_orderkey for r in spark.read.parquet(dst).collect())
    assert a == b


def test_z_rectangle_filter_prunes_clustered_files_exactly(spark, tmp_path):
    """The full Z-order loop: key (relational5), clustered write
    (layout), and now the READ — a (custkey × date) rectangle
    decomposed into z-intervals (operators/zorder.py). Three pins:
    (1) the z-filtered result equals the naive two-column filter
    row-for-row (the residual keeps semantics exact at any cover
    budget); (2) the z-intervals intersect only a minority of the
    clustered files' footer spans — the I/O the layout saves;
    (3) the interval disjunction reaches the parquet scan as pushed
    filters, so the pruning happens at scan level, not post-hoc."""
    import os

    import pyarrow.parquet as pq

    from data_pipeline_stripe_spark.operators import (
        write_clustered, z_cover, z_rectangle_filter)
    from data_pipeline_stripe_spark.queries.relational5 import _Z_SPARK

    orders = load_table(spark, "/root/testdata/sf0.01", "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate",
        F.expr(f"CAST({_Z_SPARK} AS BIGINT)").alias("zkey"),
        F.expr("CAST(datediff(CAST(o_orderdate AS DATE), "
               "DATE'1995-01-01') AS BIGINT)").alias("day_num"),
    )
    d = str(tmp_path / "zclustered")
    write_clustered(orders, d, ["zkey"], n_files=16)
    back = spark.read.parquet(d)

    # rectangle: 1996 (days 365..730) × custkeys 100..140
    x_lo, x_hi, y_lo, y_hi = 365, 730, 100, 140
    pred = z_rectangle_filter(
        "zkey", F.col("day_num"), F.col("o_custkey"),
        x_lo, x_hi, y_lo, y_hi, max_ranges=64)
    got = sorted(r.o_orderkey for r in back.filter(pred).collect())
    naive = sorted(
        r.o_orderkey for r in back.filter(
            F.col("day_num").between(x_lo, x_hi)
            & F.col("o_custkey").between(y_lo, y_hi)).collect())
    assert got == naive and len(got) > 0

    ranges = z_cover(x_lo, x_hi, y_lo, y_hi, max_ranges=64)
    spans = []
    for e in os.listdir(d):
        if e.endswith(".parquet"):
            md = pq.ParquetFile(f"{d}/{e}").metadata
            zi = next(i for i in range(md.num_columns)
                      if md.row_group(0).column(i).path_in_schema == "zkey")
            stats = [md.row_group(g).column(zi).statistics
                     for g in range(md.num_row_groups)]
            spans.append((min(s.min for s in stats),
                          max(s.max for s in stats)))
    hit = [s for s in spans
           if any(lo <= s[1] and hi >= s[0] for lo, hi in ranges)]
    assert len(hit) < len(spans) / 2, (len(hit), len(spans))

    plan = back.filter(pred)._jdf.queryExecution().executedPlan().toString()
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "zkey" in pushed


def test_nightly_maintenance_pipeline_composes(spark, sf_dir, tmp_path):
    """The ops verbs as ONE nightly pipeline over a day-partitioned
    events table: (1) quality-gate the batch (publish only if clean),
    (2) compact the many small ingest files, (3) vacuum expired days —
    and the surviving table equals the retained-and-validated data
    exactly. Each verb is tested alone elsewhere; this pins that they
    compose on the same physical table."""
    import os

    from data_pipeline_stripe_spark.operators import (
        compact_small_files, not_null, run_checks, unique,
        vacuum_partitions)

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd"))
    ingest = str(tmp_path / "ingest")
    ev.repartition(16).write.partitionBy("day").parquet(ingest)

    # 1. gate: publish only a clean batch
    batch = spark.read.parquet(ingest)
    report = run_checks(batch, [not_null("event_id"), unique("event_id")])
    assert report.filter(F.col("violations") > 0).count() == 0

    # 2. compact the small files (partitioned input sized recursively)
    compacted = str(tmp_path / "compacted")
    total = sum(os.path.getsize(os.path.join(r, f))
                for r, _d, fs in os.walk(ingest)
                for f in fs if f.endswith(".parquet"))
    compact_small_files(spark, ingest, compacted,
                        target_file_bytes=total // 2 + 1)
    # compaction flattens layout; re-partition for the retention step
    final = str(tmp_path / "final")
    spark.read.parquet(compacted).write.partitionBy("day").parquet(final)

    # 3. vacuum: expire the oldest half of the days
    days = sorted(r.day for r in ev.select("day").distinct().collect())
    cutoff = days[len(days) // 2]
    deleted = vacuum_partitions(final, "day", keep=lambda v: v >= cutoff)
    assert deleted == [d for d in days if d < cutoff]

    kept = spark.read.parquet(final)
    expect = ev.filter(F.col("day") >= cutoff)
    assert kept.count() == expect.count()
    assert (sorted(r.event_id for r in kept.select("event_id").collect())
            == sorted(r.event_id for r in expect.select("event_id").collect()))
