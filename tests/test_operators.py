"""Unit tests for composed operators (operators/)."""

import os
from datetime import datetime

import pytest

from data_pipeline_stripe_spark.operators import asof_join


def test_asof_join_picks_latest_at_or_before(spark):
    left = spark.createDataFrame(
        [(1, "u1", datetime(2024, 1, 10)),
         (2, "u1", datetime(2024, 1, 20)),
         (3, "u2", datetime(2024, 1, 10)),
         (4, "u3", datetime(2024, 1, 10))],     # u3 has no right rows
        "id long, key string, t timestamp",
    )
    right = spark.createDataFrame(
        [("u1", datetime(2024, 1, 5), 100.0),
         ("u1", datetime(2024, 1, 15), 200.0),
         ("u1", datetime(2024, 1, 20), 300.0),  # equal time → included (<=)
         ("u2", datetime(2024, 1, 11), 400.0)], # after u2's event → excluded
        "key string, rt timestamp, v double",
    )
    out = asof_join(left, right, on="key", left_time="t", right_time="rt",
                    payload=["v"])
    rows = {r.id: r.v_asof for r in out.collect()}
    assert rows == {1: 100.0, 2: 300.0, 3: None, 4: None}
    assert out.columns == ["id", "key", "t", "v_asof"]


def test_asof_join_null_payload_fields_come_from_one_row(spark):
    """The latest right row wins AS A WHOLE, even when some of its payload
    fields are NULL — a per-column last(ignorenulls) would stitch the NULL
    field from an older row (the bug this pins)."""
    left = spark.createDataFrame([(1, "k", datetime(2024, 1, 20))],
                                 "id long, key string, t timestamp")
    right = spark.createDataFrame(
        [("k", datetime(2024, 1, 5), 1.0, "old"),
         ("k", datetime(2024, 1, 15), 2.0, None)],  # latest: v2 is NULL
        "key string, rt timestamp, v1 double, v2 string",
    )
    out = asof_join(left, right, on="key", left_time="t", right_time="rt",
                    payload=["v1", "v2"]).collect()[0]
    assert out.v1_asof == 2.0
    assert out.v2_asof is None  # NOT "old" stitched from the older row


def test_salted_join_and_two_phase_agg_lose_no_rows(spark):
    """Salting only changes the physical key distribution. The salt is
    pmod(xxhash64), never abs()%n — abs(Long.MIN_VALUE) is negative on the
    JVM, and a negative salt matches no replicated right salt (silent row
    drop from an inner join); pinned here at the boundary value."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import salted_join, two_phase_agg

    boundary = spark.sql(
        f"SELECT pmod(CAST({-2**63} AS BIGINT), 16) AS s"
    ).collect()[0].s
    assert 0 <= boundary < 16

    left = spark.range(0, 1000).select(
        (F.col("id") % 7).cast("string").alias("k"), F.col("id").alias("v")
    )
    right = spark.createDataFrame(
        [(str(i), i * 10) for i in range(7)], "k string, w long"
    )
    out = salted_join(left, right, on="k", n_salts=16)
    assert out.count() == 1000  # every left row survives the inner join
    plain = {(r.k, r.v, r.w) for r in left.join(right, "k").collect()}
    assert {(r.k, r.v, r.w) for r in out.collect()} == plain

    agg = {r.k: r.v_sum for r in two_phase_agg(left, "k", "v").collect()}
    exact = {r.k: r.s for r in
             left.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    assert agg == exact


def test_zscore_grouped_map_matches_native_window(spark):
    """applyInPandas grouped-map and the JVM window form must agree
    (pandas std ddof=1 == stddev_samp)."""
    from data_pipeline_stripe_spark.operators import (
        zscore_per_group_native,
        zscore_per_group_pandas,
    )
    from data_pipeline_stripe_spark.sources import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    native = {(r.event_type, r.value): r.zscore for r in
              zscore_per_group_native(ev, "event_type", "value").collect()}
    pandas_ = {(r.event_type, r.value): r.zscore for r in
               zscore_per_group_pandas(ev, "event_type", "value").collect()}
    assert set(native) == set(pandas_)
    for k, v in native.items():
        assert abs(v - pandas_[k]) <= 1e-5


def test_asof_join_tie_on_equal_right_times(spark):
    left = spark.createDataFrame([(1, "k", datetime(2024, 1, 2))],
                                 "id long, key string, t timestamp")
    right = spark.createDataFrame(
        [("k", datetime(2024, 1, 1), 1.0), ("k", datetime(2024, 1, 1), 9.0)],
        "key string, rt timestamp, v double",
    )
    out = asof_join(left, right, on="key", left_time="t", right_time="rt",
                    payload=["v"])
    # deterministic winner among same-time right rows: max payload
    assert out.collect()[0].v_asof == 9.0


def test_connected_components_chain_and_islands(spark):
    """A path graph needs multiple propagation rounds (diameter 4); two
    extra components check labels don't bleed across."""
    from data_pipeline_stripe_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),    # chain: all -> 1
         (10, 11),                           # pair: -> 10
         (20, 21), (21, 22), (20, 22)],      # triangle: -> 20
        "src long, dst long",
    )
    got = {r.vertex: r.component
           for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_matches_union_find(spark):
    """Random graph vs an in-test union-find — independent algorithm."""
    import random

    from data_pipeline_stripe_spark.operators.graph import connected_components

    rnd = random.Random(7)
    edges = [(rnd.randrange(60), rnd.randrange(60)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    vertices = {v for e in edges for v in e}
    expected = {}
    for v in vertices:
        root = find(v)
        expected.setdefault(root, set()).add(v)
    want = {v: min(members) for members in expected.values() for v in members}

    pairs = spark.createDataFrame(edges, "src long, dst long")
    got = {r.vertex: r.component
           for r in connected_components(pairs).collect()}
    assert got == want


def test_global_running_sum_matches_naive_window(spark):
    """The two-phase prefix sum must be bit-identical to the naive
    single-partition window, on sparse non-contiguous keys."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from data_pipeline_stripe_spark.operators.packing import global_running_sum

    rnd = random.Random(11)
    keys = rnd.sample(range(0, 100_000), 500)
    rows = [(k, rnd.randrange(1, 500)) for k in keys]
    df = spark.createDataFrame(rows, "k long, w long")

    naive_w = W.orderBy("k").rowsBetween(W.unboundedPreceding, 0)
    naive = {r.k: r.c for r in
             df.withColumn("c", F.sum("w").over(naive_w)).collect()}
    got = {r.k: r.running_total for r in
           global_running_sum(df, "k", "w", n_buckets=16).collect()}
    assert got == naive


def test_global_running_sum_plan_has_no_fact_wide_single_partition(spark):
    """The single-partition exchange must carry only the B bucket totals;
    the corpus-wide window is partitioned by bucket."""
    from data_pipeline_stripe_spark.operators.packing import global_running_sum
    from data_pipeline_stripe_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    from pyspark.sql import functions as F
    weighted = docs.select("doc_id", F.length("text").alias("w"))
    plan = (global_running_sum(weighted, "doc_id", "w")
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange SinglePartition") == 1
    assert "hashpartitioning(_bucket" in plan


def test_assign_token_shards_boundaries(spark):
    """Shards fill to the target without splitting documents: each row's
    shard is its starting offset div target."""
    from data_pipeline_stripe_spark.operators.packing import assign_token_shards

    rows = [(1, 900), (2, 900), (3, 900), (4, 2500), (5, 10)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    got = {r.doc_id: r.shard_id for r in
           assign_token_shards(df, "doc_id", "n", 1000).collect()}
    # starts: 0, 900, 1800, 2700, 5200 -> shards 0, 0, 1, 2, 5
    assert got == {1: 0, 2: 0, 3: 1, 4: 2, 5: 5}


def test_global_running_sum_empty_input(spark):
    from data_pipeline_stripe_spark.operators.packing import global_running_sum

    df = spark.createDataFrame([], "k long, w long")
    out = global_running_sum(df, "k", "w")
    assert out.count() == 0 and "running_total" in out.columns


def test_global_running_sum_null_keys_sort_first(spark):
    """NULL order keys must match the naive global window (nulls first),
    not be silently bucketed last (least() skips nulls on the JVM)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from data_pipeline_stripe_spark.operators.packing import global_running_sum

    rows = [(None, 5), (10, 1), (20, 2), (None, 7), (30, 3)]
    df = spark.createDataFrame(rows, "k long, w long")
    naive_w = W.orderBy("k").rowsBetween(W.unboundedPreceding, 0)
    naive = sorted(
        r.c for r in df.withColumn("c", F.sum("w").over(naive_w)).collect()
    )
    got = sorted(
        r.running_total
        for r in global_running_sum(df, "k", "w", n_buckets=4).collect()
    )
    assert got == naive
    # all-NULL keys: still an exact prefix sum, not a NULL column
    all_null = spark.createDataFrame([(None, 2), (None, 3)], "k long, w long")
    totals = sorted(r.running_total
                    for r in global_running_sum(all_null, "k", "w").collect())
    assert totals == [2, 5]


def test_merge_upsert_actions_and_rows(spark):
    from data_pipeline_stripe_spark.operators.merge import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    updates = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)],
        "k long, name string, v double",
    )
    out = {r.k: r for r in merge_upsert(base, updates, "k").collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1].merge_action == "kept" and out[1].v == 10.0
    assert out[2].merge_action == "updated" and out[2].name == "b2" \
        and out[2].v == 99.0
    assert out[3].merge_action == "kept"
    assert out[4].merge_action == "inserted" and out[4].v == 40.0


def test_merge_upsert_rejects_schema_mismatch(spark):
    from data_pipeline_stripe_spark.operators.merge import merge_upsert

    base = spark.createDataFrame([(1, "a")], "k long, name string")
    upd = spark.createDataFrame([(1,)], "k long")
    try:
        merge_upsert(base, upd, "k")
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_merge_upsert_random_matches_dict_semantics(spark):
    """Randomized (seeded) merge inputs vs the dict-update reference:
    for any base/update key sets, merged rows == {**base, **updates}
    and actions classify exactly."""
    import random

    from data_pipeline_stripe_spark.operators.merge import merge_upsert

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        base_keys = rng.sample(range(100), rng.randint(5, 30))
        upd_keys = rng.sample(range(100), rng.randint(5, 30))
        base = {k: (k, f"b{k}", float(rng.randint(0, 50))) for k in base_keys}
        upd = {k: (k, f"u{k}", float(rng.randint(51, 99))) for k in upd_keys}
        out = merge_upsert(
            spark.createDataFrame(list(base.values()),
                                  "k long, name string, v double"),
            spark.createDataFrame(list(upd.values()),
                                  "k long, name string, v double"),
            "k",
        ).collect()
        expect = {**base, **upd}
        assert {r.k: (r.k, r.name, r.v) for r in out} == expect
        for r in out:
            want = ("updated" if r.k in base and r.k in upd
                    else "inserted" if r.k in upd else "kept")
            assert r.merge_action == want


def test_scd2_collapses_repeats_and_handles_null_attrs(spark):
    from data_pipeline_stripe_spark.operators.scd import scd2_from_changes

    rows = [
        # key 1: A, A (repeat collapses), B, B, A again (new version)
        (1, "2024-01-01", "A", 1),
        (1, "2024-01-02", "A", 2),
        (1, "2024-01-03", "B", 3),
        (1, "2024-01-05", "B", 4),
        (1, "2024-01-09", "A", 5),
        # key 2: NULL first (kept), NULL repeat (collapsed), then C
        (2, "2024-01-01", None, 6),
        (2, "2024-01-02", None, 7),
        (2, "2024-01-03", "C", 8),
    ]
    changes = spark.createDataFrame(
        rows, "k long, ts string, attr string, tb long")
    out = {(r.k, r.version): (r.attr, r.valid_from, r.valid_to, r.is_current)
           for r in scd2_from_changes(
               changes, key="k", ts="ts", attrs=["attr"], tiebreak="tb"
           ).collect()}
    assert out == {
        (1, 1): ("A", "2024-01-01", "2024-01-03", False),
        (1, 2): ("B", "2024-01-03", "2024-01-09", False),
        (1, 3): ("A", "2024-01-09", None, True),
        (2, 1): (None, "2024-01-01", "2024-01-03", False),
        (2, 2): ("C", "2024-01-03", None, True),
    }


def test_pagerank_step_known_values_and_looping(spark):
    from data_pipeline_stripe_spark.operators.graph import pagerank_step

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")], "src string, dst string")
    nodes = spark.createDataFrame(
        [("a",), ("b",), ("c",)], "node string")
    from pyspark.sql import functions as F

    r0 = nodes.withColumn("rank_micros", F.lit(1000000).cast("long"))
    r1 = {r.node: r.rank_micros
          for r in pagerank_step(edges, r0).collect()}
    # a: no in-edges -> base 150000
    # b: a's contribution 1000000 div 2 = 500000 -> 150000 + 425000
    # c: 500000 (a) + 1000000 (b) -> 150000 + (85*1500000) div 100
    assert r1 == {"a": 150000, "b": 575000, "c": 1425000}
    # loopable: feeding the output back in is deterministic and exact
    r2a = pagerank_step(edges, pagerank_step(edges, r0)).collect()
    r2b = pagerank_step(edges, pagerank_step(edges, r0)).collect()
    assert sorted(map(tuple, r2a)) == sorted(map(tuple, r2b))
    r2 = dict(map(tuple, r2a))
    # b now receives 150000 div 2 = 75000 from a
    assert r2["b"] == 150000 + (85 * 75000) // 100


def test_pagerank_full_loop_reaches_exact_fixpoint(spark):
    from pyspark.sql import functions as F
    from data_pipeline_stripe_spark.operators.graph import (
        pagerank, pagerank_step)

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 2), (4, 1)], "src long, dst long"
    )
    ranks = pagerank(edges)
    got = {r["node"]: r["rank_micros"] for r in ranks.collect()}
    assert set(got) == {1, 2, 3, 4}
    # converged: one more step moves every rank by at most tol_micros
    again = {r["node"]: r["rank_micros"]
             for r in pagerank_step(edges, ranks).collect()}
    assert all(abs(again[n] - got[n]) <= 16 for n in got)
    # dangling node 4 (no in-edges) sits at the base rank
    assert got[4] == 150000
    # node 2 has two in-edges (1 and half of 3) -> highest rank
    assert got[2] == max(got.values())


def test_kmeans_train_converges_and_matches_manual_loop(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from data_pipeline_stripe_spark.llm.similarity import (
        centroids_from_rows, kmeans_step, kmeans_train)

    rng = np.random.default_rng(3)
    base = np.array([[10.0, 0, 0, 0], [0, 10.0, 0, 0], [0, 0, 10.0, 0]])
    vecs = [(i, (base[i % 3] + rng.normal(0, 0.5, 4)).tolist())
            for i in range(30)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents0 = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("centroid_id"), "embedding")

    trained, n_iters = kmeans_train(emb, cents0, max_iter=15)
    assert 1 <= n_iters <= 15
    # fixpoint: one more step reproduces the same rounded coordinates
    again = centroids_from_rows(kmeans_step(emb, trained))
    t = {(r["centroid_id"], i): round(v, 6)
         for r in trained.collect()
         for i, v in enumerate(r["embedding"])}
    a = {(r["centroid_id"], i): round(v, 6)
         for r in again.collect()
         for i, v in enumerate(r["embedding"])}
    assert t == a
    # 3 well-separated clusters of 10 -> each centroid near a base axis
    for r in trained.collect():
        v = np.array(r["embedding"])
        assert v.max() > 8.0 and sorted(v)[-2] < 1.5


def test_apply_cdc_semantics(spark):
    import pytest
    from pyspark.sql import functions as F
    from data_pipeline_stripe_spark.operators.merge import apply_cdc

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    changes = spark.createDataFrame(
        [(2, "b1", 1, "U"),   # superseded by seq 2 delete
         (2, "b2", 2, "D"),
         (3, "c1", 5, "U"),   # latest-wins upsert
         (3, "c0", 1, "U"),
         (4, "d0", 1, "U"),   # insert of new key
         (9, "x", 1, "D")],   # delete-of-absent: no-op
        "k long, v string, seq long, op string")
    got = {(r["k"], r["v"], r["cdc_action"])
           for r in apply_cdc(base, changes, "k").collect()}
    assert got == {(1, "a", "kept"), (3, "c1", "upserted"),
                   (4, "d0", "upserted")}

    bad = spark.createDataFrame(
        [(None, "z", 1, "U")], "k long, v string, seq long, op string")
    with pytest.raises(Exception, match="NULL key"):
        apply_cdc(base, bad, "k").collect()

    with pytest.raises(ValueError, match="base columns plus"):
        apply_cdc(base, base, "k")


def test_bfs_3hop_matches_python_bfs(spark):
    """graph_bfs_3hop vs an independent pure-Python BFS over the same
    edge list — a third implementation besides the Spark frontier loop
    and the DuckDB recursive CTE, covering layered min-distances and
    the bipartite alternation."""
    import collections

    import duckdb

    from data_pipeline_stripe_spark.queries.relational5 import graph_bfs_3hop

    sf_dir = "/root/testdata/sf0.001"
    con = duckdb.connect()
    edges = con.execute(f"""
        SELECT DISTINCT o.o_custkey, l.l_suppkey
        FROM '{sf_dir}/lineitem.parquet' l
        JOIN '{sf_dir}/orders.parquet' o ON l.l_orderkey = o.o_orderkey
    """).fetchall()
    adj = collections.defaultdict(set)
    for c, s in edges:
        adj[("C", c)].add(("S", s))
        adj[("S", s)].add(("C", c))
    dist = {("C", 1): 0}
    frontier = [("C", 1)]
    for d in range(1, 4):
        nxt = []
        for node in frontier:
            for nb in adj[node]:
                if nb not in dist:
                    dist[nb] = d
                    nxt.append(nb)
        frontier = nxt
    got = {(r.kind, r.id): r.dist
           for r in graph_bfs_3hop(spark, sf_dir).collect()}
    assert got == {(k, i): d for (k, i), d in dist.items()}


def test_ivm_partial_merge_is_split_invariant(spark):
    """The IVM contract: merging partial aggregates gives the same view
    for ANY split of the input — here 2-way by date and 3-way by key
    hash, both equal to the full recompute."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.sources import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    month = F.date_format("o_orderdate", "yyyy-MM").alias("month")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def partial(df):
        return df.groupBy(month).agg(F.sum(cents).alias("c"),
                                     F.count("*").alias("n"))

    def merge(parts):
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return {
            r.month: (r.c, r.n)
            for r in out.groupBy("month")
            .agg(F.sum("c").alias("c"), F.sum("n").alias("n")).collect()
        }

    full = {r.month: (r.c, r.n) for r in partial(orders).collect()}
    h = F.crc32(F.col("o_orderkey").cast("string")) % 3
    three_way = merge([partial(orders.filter(h == i)) for i in range(3)])
    split = F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    two_way = merge([partial(orders.filter(split)),
                     partial(orders.filter(~split))])
    assert three_way == full and two_way == full


def test_hll_sketch_partials_merge_bit_identical(spark):
    """The pre-aggregated sketch-table pattern (operators/sketches.py):
    (1) rolling merged per-day partials up to per-type equals the direct
    per-type sketch BIT-IDENTICALLY (DataSketches HLL is deterministic
    for a given input set), (2) incremental merge of base+delta partials
    equals the full-state partials, (3) estimates land within 5% of the
    exact distinct counts."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import (
        hll_merge_partials, hll_partials, hll_rollup)
    from data_pipeline_stripe_spark.sources import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", F.to_date("ts").alias("day"), "user_id")

    fine = hll_partials(ev, ["event_type", "day"], "user_id")
    rolled = {
        r.event_type: r.approx_distinct
        for r in hll_rollup(fine, ["event_type"]).collect()
    }
    direct = {
        r.event_type: r.approx_distinct
        for r in hll_rollup(
            hll_partials(ev, ["event_type"], "user_id"), ["event_type"]
        ).collect()
    }
    assert rolled == direct  # merge-then-estimate == direct sketch

    split = F.col("day") < F.lit("2024-01-15").cast("date")
    base = hll_partials(ev.filter(split), ["event_type"], "user_id")
    delta = hll_partials(ev.filter(~split), ["event_type"], "user_id")
    merged = hll_merge_partials(base, delta, ["event_type"])
    incr = {r.event_type: r.approx_distinct
            for r in hll_rollup(merged, ["event_type"]).collect()}
    assert incr == direct  # incremental-ingest state == full state

    exact = {r.event_type: r.n for r in
             ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    for t, est in direct.items():
        assert abs(est - exact[t]) <= 0.05 * exact[t] + 1, (t, est, exact[t])

    total = hll_rollup(fine, []).collect()[0].approx_distinct
    exact_total = ev.agg(F.countDistinct("user_id")).collect()[0][0]
    assert abs(total - exact_total) <= 0.05 * exact_total + 1


def test_pit_asof_matches_interval_join_on_same_day_versions(spark):
    """The subtle edge in scd2_pit_lineitem_priority: a customer whose
    priority changes TWICE on one date produces zero-width SCD2
    versions; the as-of composition must resolve a fact on/after that
    date to the LAST same-day version, exactly like the textbook
    interval join (valid_from <= t < valid_to) the oracle uses. Checked
    here head-to-head on a hand-built log with every tie shape: change
    before / on / between / after same-day flips."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.asof import asof_join
    from data_pipeline_stripe_spark.operators.scd import scd2_from_changes

    changes = spark.createDataFrame(
        [
            # cust 1: two flips on day 10 (A@k1, B@k2, A@k3 same day)
            (1, "2024-01-10", "A", 1),
            (1, "2024-01-10", "B", 2),
            (1, "2024-01-10", "A", 3),
            (1, "2024-01-20", "C", 4),
            # cust 2: plain history
            (2, "2024-01-05", "X", 5),
            (2, "2024-01-15", "Y", 6),
        ],
        "custkey long, d string, prio string, okey long",
    ).withColumn("d", F.col("d").cast("timestamp"))
    facts = spark.createDataFrame(
        [(1, "2024-01-09"), (1, "2024-01-10"), (1, "2024-01-12"),
         (1, "2024-01-20"), (1, "2024-01-25"),
         (2, "2024-01-05"), (2, "2024-01-14"), (2, "2024-01-16")],
        "custkey long, t string",
    ).withColumn("t", F.col("t").cast("timestamp"))

    hist = scd2_from_changes(changes, key="custkey", ts="d",
                             attrs=["prio"], tiebreak="okey").select(
        "custkey", "valid_from", "valid_to", "version",
        F.col("prio").alias("priority"))
    got = {
        (r.custkey, str(r.t)): r.priority_asof
        for r in asof_join(facts, hist, on="custkey", left_time="t",
                           right_time="valid_from",
                           payload=["version", "priority"]).collect()
    }
    interval = {
        (r.custkey, str(r.t)): r.priority
        for r in facts.alias("f").join(
            hist.alias("h"),
            (F.col("f.custkey") == F.col("h.custkey"))
            & (F.col("h.valid_from") <= F.col("f.t"))
            & (F.col("h.valid_to").isNull()
               | (F.col("h.valid_to") > F.col("f.t"))),
            "left",
        ).select("f.custkey", "f.t", "h.priority").collect()
    }
    assert got == interval
    # and the hand-checked values: day-10 facts see the LAST same-day
    # version (A), pre-history facts see NULL
    assert got[(1, "2024-01-09 00:00:00")] is None
    assert got[(1, "2024-01-10 00:00:00")] == "A"
    assert got[(1, "2024-01-20 00:00:00")] == "C"


def test_z_cover_rejects_out_of_domain_rectangles():
    """Bounds outside the masked 16-bit key domain must raise loudly —
    clamping would silently drop aliased residues (custkey & 65535)."""
    import pytest as _pytest

    from data_pipeline_stripe_spark.operators import z_cover

    assert z_cover(10, 5, 0, 1) == []  # empty rect is fine
    with _pytest.raises(ValueError, match="z-domain"):
        z_cover(0, 10, 70000, 70040)
    with _pytest.raises(ValueError, match="z-domain"):
        z_cover(-10, -1, 0, 5)


def test_compaction_sizes_partitioned_directories_recursively(spark,
                                                              sf_dir,
                                                              tmp_path):
    """The motivating input for compaction is streaming-sink residue,
    which is PARTITIONED (subdirectories) — sizing must walk
    recursively, not just the top level (a zero total would silently
    collapse everything into one file)."""
    from data_pipeline_stripe_spark.operators import compact_small_files
    from data_pipeline_stripe_spark.sources import load_table

    src, dst = str(tmp_path / "part_src"), str(tmp_path / "part_dst")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value")
    ev.repartition(8).write.partitionBy("event_type").parquet(src)
    import os

    total = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(src) for f in fs if f.endswith(".parquet"))
    n = compact_small_files(spark, src, dst, target_file_bytes=total // 4 + 1)
    assert n >= 4  # recursive sizing saw the partitioned bytes
    assert spark.read.parquet(dst).count() == ev.count()


def test_quality_checks_exact_counts_and_one_scan(spark):
    """run_checks (operators/quality.py): exact violation counts on a
    hand-built frame for every check kind, and the compilation
    property — ALL row-level checks share ONE aggregate job (a single
    scan), pinned by counting scans in the executed plan of the shared
    aggregate."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import (
        accepted_values, foreign_key, in_range, matches_regex, not_null,
        run_checks, unique)

    df = spark.createDataFrame(
        [
            (1, "a@x.io", 10.0, "US"),
            (2, None, -5.0, "GB"),        # null email, range violation
            (2, "b@x.io", 20.0, "ZZ"),    # dup id, bad country
            (3, "not-an-email", 130.0, "US"),  # regex + range violation
            (4, "c@x.io", 50.0, None),    # null country
        ],
        "id long, email string, score double, country string",
    )
    dim = spark.createDataFrame([("US",), ("GB",), ("FR",)], "code string")
    report = {
        r.check: (r.violations, r.total)
        for r in run_checks(df, [
            not_null("email"),
            in_range("score", 0, 100),
            accepted_values("country", ["US", "GB", "FR"]),
            matches_regex("email", r"^[^@\s]+@[^@\s]+\.[^@\s]+$"),
            unique("id"),
            foreign_key("country", dim, "code"),
        ]).collect()
    }
    assert report["not_null(email)"] == (1, 5)
    assert report["in_range(score,0,100)"] == (2, 5)
    assert report["accepted_values(country)"] == (2, 5)  # ZZ + null
    assert report["matches_regex(email)"] == (2, 5)      # null + bad
    assert report["unique(id)"] == (2, 5)                # both dup rows
    assert report["foreign_key(country->code)"] == (1, 5)  # ZZ only

    # one-scan compilation: the AGGREGATE run_checks ITSELF BUILDS for
    # the row-level suite plans a single scan of the source
    from data_pipeline_stripe_spark.operators.quality import (
        _row_check_aggregate)

    agg_df = _row_check_aggregate(
        df, [not_null("email"), in_range("score", 0, 100),
             accepted_values("country", ["US"])])
    plan = agg_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan") == 1


def test_vacuum_partitions_retention(spark, sf_dir, tmp_path):
    """vacuum_partitions: expiring old day-partitions deletes exactly
    those directories (O(deleted), no survivor rewrite) and subsequent
    reads return precisely the retained rows."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import vacuum_partitions
    from data_pipeline_stripe_spark.sources import load_table

    d = str(tmp_path / "events_by_day")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd"))
    ev.write.partitionBy("day").parquet(d)
    days = sorted(r.day for r in ev.select("day").distinct().collect())
    cutoff = days[len(days) // 2]

    deleted = vacuum_partitions(d, "day", keep=lambda v: v >= cutoff)
    assert deleted == [v for v in days if v < cutoff]
    back = spark.read.parquet(d)
    expect = ev.filter(F.col("day") >= cutoff).count()
    assert back.count() == expect
    # partition-type inference turns day=2024-01-16 into DATE — cast
    # back to string for the comparison (the repo's known trap)
    got_days = sorted(
        r.day for r in back.select(F.col("day").cast("string").alias("day"))
        .distinct().collect())
    assert got_days == [v for v in days if v >= cutoff]


def test_quality_gate_on_fixture_star_schema(spark, sf_dir):
    """The gate composed on the real fixture: orders must pass key
    uniqueness, FK integrity to customer, and sane ranges — the
    pre-publish validation the reference pipelines never run. Also pins
    the empty-suite edge (no checks → empty report, not a crash)."""
    from data_pipeline_stripe_spark.operators import (
        foreign_key, in_range, not_null, run_checks, unique)
    from data_pipeline_stripe_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    report = {
        r.check: r.violations
        for r in run_checks(orders, [
            not_null("o_orderkey"),
            unique("o_orderkey"),
            foreign_key("o_custkey", customer, "c_custkey"),
            in_range("o_totalprice", 0, 10_000_000),
        ]).collect()
    }
    assert all(v == 0 for v in report.values()), report
    assert run_checks(orders, []).count() == 0


def test_quality_checks_edge_semantics(spark):
    """The gate's edge contracts: an EMPTY batch reports 0 violations
    (not NULL) for every check kind; an unknown check kind raises
    (fail-closed, never silently skipped); Check value-equality works
    despite Column having no __eq__/__hash__ semantics."""
    import pytest as _pytest

    from data_pipeline_stripe_spark.operators import (
        not_null, run_checks, unique)
    from data_pipeline_stripe_spark.operators.quality import Check

    empty = spark.createDataFrame([], "id long, email string")
    report = {r.check: (r.violations, r.total)
              for r in run_checks(empty, [not_null("email"),
                                          unique("id")]).collect()}
    assert report == {"not_null(email)": (0, 0), "unique(id)": (0, 0)}

    with _pytest.raises(ValueError, match="unknown check kind"):
        run_checks(empty, [Check("typo", "uniqe")])

    a, b = not_null("email"), not_null("email")
    assert a == b and len({a, b}) == 1


def test_vacuum_refuses_to_delete_every_partition(spark, sf_dir, tmp_path):
    """A keep-nothing predicate is almost always a miscomputed cutoff —
    vacuum must refuse rather than leave an unreadable table."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import vacuum_partitions
    from data_pipeline_stripe_spark.sources import load_table

    d = str(tmp_path / "by_day")
    load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    ).write.partitionBy("day").parquet(d)
    with _pytest.raises(ValueError, match="retained nothing"):
        vacuum_partitions(d, "day", keep=lambda v: False)
    assert spark.read.parquet(d).count() > 0  # table untouched


def test_interpolate_daily_exact_lerp(spark):
    """interpolate_daily: observed days keep their value; gap days take
    the integer lerp between bracketing observations (truncating
    division — bit-stable at any parallelism); days before the first /
    after the last observation per key... cannot exist (the grid spans
    [min, max]), but a key with ONE observation yields a 1-day grid.
    Hand-checked values on two keys with uneven gaps."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import interpolate_daily

    obs = spark.createDataFrame(
        [
            (1, "2024-01-01", 100),
            (1, "2024-01-04", 400),   # gap of 2 days: lerp 200, 300
            (1, "2024-01-07", 100),   # downhill, non-divisible: 400→100
            (2, "2024-03-05", 7),     # single observation
            (3, "2024-02-01", 0),     # non-divisible: 0→10 over 3 days
            (3, "2024-02-04", 10),
        ],
        "k long, day string, v long",
    ).withColumn("day", F.col("day").cast("date"))
    got = {
        (r.k, str(r.day)): (r.v, r.filled)
        for r in interpolate_daily(obs, "k", "day", "v").collect()
    }
    assert got[(1, "2024-01-01")] == (100, 100)
    assert got[(1, "2024-01-02")] == (None, 200)
    assert got[(1, "2024-01-03")] == (None, 300)
    assert got[(1, "2024-01-04")] == (400, 400)
    # 400 → 100 over 3 days: deltas -100/day exactly
    assert got[(1, "2024-01-05")] == (None, 300)
    assert got[(1, "2024-01-06")] == (None, 200)
    assert got[(1, "2024-01-07")] == (100, 100)
    assert got[(2, "2024-03-05")] == (7, 7)
    # truncating div: 10*1 div 3 = 3, 10*2 div 3 = 6
    assert got[(3, "2024-02-02")] == (None, 3)
    assert got[(3, "2024-02-03")] == (None, 6)
    assert len(got) == 12


def test_spark_recursive_cte_bfs_matches_dataframe_loop(spark):
    """Spark 4's native WITH RECURSIVE (UNION ALL form — UNION is not
    yet supported in recursion) reproduces graph_bfs_3hop exactly: the
    recursive branch enumerates WALKS (no dedup), the outer MIN(dist)
    collapses them to BFS distances. Third engine-side implementation
    after the DataFrame frontier loop and the DuckDB oracle — and the
    reason the frontier loop remains the scale path: walk enumeration
    is exponential in hop count, the anti-join frontier is linear."""
    from data_pipeline_stripe_spark.queries.relational5 import graph_bfs_3hop
    from data_pipeline_stripe_spark.sources import load_table

    sf_dir = "/root/testdata/sf0.001"
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "li_bfs_cte")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "ord_bfs_cte")
    sql_rows = spark.sql("""
        WITH RECURSIVE walk(kind, id, dist) AS (
            SELECT 'C', CAST(1 AS BIGINT), 0
            UNION ALL
            SELECT CASE WHEN w.kind = 'C' THEN 'S' ELSE 'C' END,
                   CASE WHEN w.kind = 'C' THEN e.s ELSE e.c END,
                   w.dist + 1
            FROM walk w JOIN (
                SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
                FROM li_bfs_cte l
                JOIN ord_bfs_cte o ON l.l_orderkey = o.o_orderkey
            ) e ON (w.kind = 'C' AND e.c = w.id)
                OR (w.kind = 'S' AND e.s = w.id)
            WHERE w.dist < 3
        )
        SELECT kind, id, CAST(MIN(dist) AS BIGINT) AS dist
        FROM walk GROUP BY kind, id
    """).collect()
    got_sql = {(r.kind, r.id): r.dist for r in sql_rows}
    got_df = {(r.kind, r.id): r.dist
              for r in graph_bfs_3hop(spark, sf_dir).collect()}
    assert got_sql == got_df and len(got_df) > 0


def test_asof_join_tolerates_colliding_column_names(spark):
    """asof_join's internal columns must not clash with caller columns:
    a left frame that already has a "_t" (and "_p") column would make
    the window ordering ambiguous with fixed internal names."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-02", "keep_t", "keep_p")],
        "k long, t string, _t string, _p string",
    ).withColumn("t", F.col("t").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01", 10), (1, "2024-01-03", 30)],
        "k long, rt string, v long",
    ).withColumn("rt", F.col("rt").cast("timestamp"))
    out = asof_join(left, right, on="k", left_time="t", right_time="rt",
                    payload=["v"]).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.v_asof, r._t, r._p) == (10, "keep_t", "keep_p")


def test_range_join_exact_at_subsecond_precision(spark):
    """The default microsecond clock excludes pairs whose TRUE gap
    exceeds the window even when whole-second truncation would admit
    them (5.9 s apart truncates to 5), and the legacy seconds clock
    keeps its documented truncated semantics."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import range_join

    a = spark.createDataFrame(
        [(1, "2024-01-01 00:00:10.900")], "id_a long, s_a string"
    ).select("id_a", F.col("s_a").cast("timestamp").alias("ts_a"))
    b = spark.createDataFrame(
        [(2, "2024-01-01 00:00:05.000")], "id_b long, s_b string"
    ).select("id_b", F.col("s_b").cast("timestamp").alias("ts_b"))
    exact = range_join(a, b, "ts_a", "ts_b", 5).collect()
    assert exact == []  # true gap 5.9 s > 5
    legacy = range_join(a, b, "ts_a", "ts_b", 5, clock="seconds").collect()
    assert len(legacy) == 1  # truncated clocks: |10 - 5| = 5 <= 5


def test_apply_cdc_rejects_bad_op_values(spark):
    """Fail-closed CDC: a NULL op used to silently DELETE the key (the
    delete filter's three-valued logic dropped the row) and junk ops
    silently upserted — both now raise."""
    import pytest as _pytest

    from data_pipeline_stripe_spark.operators.merge import apply_cdc

    base = spark.createDataFrame([(1, "a")], "k long, v string")
    for bad in [None, "X"]:
        changes = spark.createDataFrame(
            [(1, "b", bad, 1)], "k long, v string, op string, seq long")
        with _pytest.raises(Exception, match="op must be 'U' or 'D'"):
            apply_cdc(base, changes, "k").collect()


def test_salted_join_rejects_right_and_full_outer(spark):
    """Right/full outer would emit every unmatched right REPLICA as its
    own null-extended row — must raise, not corrupt."""
    import pytest as _pytest

    from data_pipeline_stripe_spark.operators import salted_join

    df = spark.createDataFrame([(1, 2)], "k long, v long")
    for how in ("right", "full", "full_outer", "rightouter"):
        with _pytest.raises(ValueError, match="inner/left-family"):
            salted_join(df, df.withColumnRenamed("v", "w"), "k", how=how)


def test_two_phase_agg_spreads_constant_valued_hot_key(spark):
    """The old hash(key, value) salt sent a hot key with a CONSTANT
    value to one salt (single-straggler, the case the operator exists
    for). Partition-derived salts spread it — and the result stays
    exact."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import two_phase_agg

    df = (
        spark.range(0, 4000, 1, 8)
        .select(F.lit("hot").alias("k"), F.lit(1).alias("one"))
    )
    out = two_phase_agg(df, "k", "one").collect()
    assert [(r.k, r.one_sum) for r in out] == [("hot", 4000)]
    # the partials really spread: phase-1 grouping has >1 salt group
    salts = (
        df.withColumn(
            "_salt", F.pmod(F.spark_partition_id(), F.lit(16)).cast("int"))
        .select("_salt").distinct().count()
    )
    assert salts > 1


def test_det_hll_estimate_accuracy_and_partitioning_invariance(spark):
    """The cross-engine-deterministic md5 HLL (operators/sketches.py::
    det_hll_estimate): (1) estimates land within 5% of exact distinct
    counts, (2) the estimate is invariant to input partitioning (the
    fixed-point integer fold is associative), (3) the register table
    merges across batches by max(m_j) — the persistable-partial shape."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import det_hll_estimate
    from data_pipeline_stripe_spark.sources import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "user_id")

    est = {r.event_type: r.approx_distinct
           for r in det_hll_estimate(ev, ["event_type"], "user_id").collect()}
    exact = {r.event_type: r.n for r in
             ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    for t, e in est.items():
        assert abs(e - exact[t]) <= 0.05 * exact[t] + 1, (t, e, exact[t])

    # partitioning invariance: 1-partition and 16-partition runs agree
    # bit-for-bit (the harmonic fold is integer, the division is one
    # constant/exact-integer IEEE op)
    one = {r.event_type: r.approx_distinct for r in det_hll_estimate(
        ev.coalesce(1), ["event_type"], "user_id").collect()}
    many = {r.event_type: r.approx_distinct for r in det_hll_estimate(
        ev.repartition(16), ["event_type"], "user_id").collect()}
    assert one == many == est

    # incremental merge: splitting the input and unioning the halves
    # BEFORE the sketch equals sketching the whole — and because the
    # register is max(rho), sketching each half and taking the row union
    # then re-estimating also equals the direct estimate
    split = F.crc32(F.col("user_id").cast("string")) % 2 == 0
    halves = ev.filter(split).unionByName(ev.filter(~split))
    assert {r.event_type: r.approx_distinct
            for r in det_hll_estimate(halves, ["event_type"],
                                      "user_id").collect()} == est


def test_engine_native_sketches_error_bounds(spark):
    """The engine-native approximate aggregates this repo treats as the
    production drop-ins for det_hll_estimate / histogram_percentiles:
    approx_count_distinct (HLL++, rsd 0.01) within 5% of exact, and
    percentile_approx (accuracy 1000) within the neighboring-value band
    of the exact percentile."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.sources import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    rows = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx"),
        F.countDistinct("user_id").alias("exact"),
    ).collect()
    assert rows
    for r in rows:
        assert abs(r.approx - r.exact) <= 0.05 * r.exact + 1, r

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    rows = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("approx"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact"),
    ).collect()
    for r in rows:
        assert abs(r.approx - r.exact) <= 0.02 * r.exact + 1, r


def test_histogram_percentiles_exact_on_quantized_grid(spark):
    """histogram_percentiles has zero RANK error: its p50/p90 equal the
    exact discrete percentiles of the cent-quantized values (grid error
    only), and the histogram state is partitioning-invariant."""
    import math

    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import histogram_percentiles
    from data_pipeline_stripe_spark.sources import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    got = {r.l_returnflag: (r.p50_cents, r.p90_cents)
           for r in histogram_percentiles(
               li, ["l_returnflag"], "l_extendedprice",
               [("p50_cents", 1, 2), ("p90_cents", 9, 10)]).collect()}

    cents = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
    ).collect()
    by_flag = {}
    for r in cents:
        by_flag.setdefault(r.l_returnflag, []).append(r.c)
    for flag, vals in by_flag.items():
        vals.sort()
        n = len(vals)
        expect = (vals[math.ceil(n / 2) - 1], vals[math.ceil(9 * n / 10) - 1])
        assert got[flag] == expect, (flag, got[flag], expect)

    re16 = {r.l_returnflag: (r.p50_cents, r.p90_cents)
            for r in histogram_percentiles(
                li.repartition(16), ["l_returnflag"], "l_extendedprice",
                [("p50_cents", 1, 2), ("p90_cents", 9, 10)]).collect()}
    assert re16 == got


def test_interpolate_daily_survives_colliding_column_names(spark):
    """Regression (ADVICE r5): interpolate_daily's working columns are
    derived collision-free — a caller frame already containing '_t',
    '_span', '_dv' etc. interpolates correctly; a pre-existing 'filled'
    column is rejected loudly instead of silently overwritten."""
    import datetime

    import pytest

    from data_pipeline_stripe_spark.operators import interpolate_daily

    d = datetime.date
    obs = spark.createDataFrame(
        [("a", d(2024, 1, 1), 100, 7, 7, 7),
         ("a", d(2024, 1, 4), 400, 7, 7, 7)],
        "k string, day date, v long, _t long, _span long, _dv long",
    )
    got = {r.day.isoformat(): r.filled
           for r in interpolate_daily(obs, "k", "day", "v").collect()}
    assert got == {"2024-01-01": 100, "2024-01-02": 200,
                   "2024-01-03": 300, "2024-01-04": 400}

    bad = spark.createDataFrame(
        [("a", d(2024, 1, 1), 1, 9)], "k string, day date, v long, filled long")
    with pytest.raises(ValueError, match="filled"):
        interpolate_daily(bad, "k", "day", "v")


def test_compact_small_files_refuses_overlapping_dirs(spark, tmp_path):
    """Regression (ADVICE r5): compacting a directory onto itself (or a
    nested path) would let mode('overwrite') clear the source before the
    lazy read runs — refused loudly; a sibling target still works."""
    import pytest

    from data_pipeline_stripe_spark.operators import compact_small_files

    src = str(tmp_path / "table")
    spark.range(100).repartition(8).write.parquet(src)
    for bad in (src, src + "/nested", str(tmp_path)):
        with pytest.raises(ValueError, match="overlaps"):
            compact_small_files(spark, src, bad)
    out = str(tmp_path / "compacted")
    n = compact_small_files(spark, src, out)
    assert n >= 1
    assert spark.read.parquet(out).count() == 100


def test_snapshot_diff_roundtrip_and_classification(spark):
    """snapshot_diff ∘ apply_cdc is the identity: the derived change set
    (I/U as upserts, D as deletes), applied to the old snapshot,
    reproduces the new snapshot exactly; each op class is right; NULL
    keys raise."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.merge import (apply_cdc,
                                                            snapshot_diff)

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", None)],
        "k long, s string, v long")
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "C", 30), (4, "d", 40), (5, "e", 50)],
        "k long, s string, v long")
    diff = snapshot_diff(old, new, "k")
    got = {(r.op, r.k, r.s, r.v) for r in diff.collect()}
    assert got == {("D", 1, "a", 10), ("U", 3, "C", 30),
                   ("U", 4, "d", 40), ("I", 5, "e", 50)}

    changes = diff.withColumn("seq", F.lit(1)).withColumn(
        "op", F.when(F.col("op") == "D", "D").otherwise("U"))
    replayed = apply_cdc(old, changes, "k").drop("cdc_action")
    assert ({tuple(r) for r in replayed.collect()}
            == {tuple(r) for r in new.collect()})

    bad = spark.createDataFrame([(None, "x", 1)], "k long, s string, v long")
    with pytest.raises(Exception, match="NULL key"):
        snapshot_diff(old, bad, "k").collect()


def test_sketch_operators_ignore_null_keys(spark):
    """Review fixes (r6): det_hll_estimate and cms_heavy_hitters treat
    NULLs like COUNT(DISTINCT)/approx_count_distinct do — ignored, on
    both the Spark side and the DuckDB oracle (where '0x'||md5(NULL)
    would otherwise raise a cast error)."""
    import duckdb
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.sketches import (
        cms_heavy_hitters, cms_oracle_sql, det_hll_estimate,
        det_hll_oracle_sql)

    rows = [("a", i % 7) for i in range(60)] + [("a", None)] * 5
    df = spark.createDataFrame(rows, "g string, k long")
    clean = df.filter(F.col("k").isNotNull())

    with_null = det_hll_estimate(df, ["g"], "k").collect()[0].approx_distinct
    without = det_hll_estimate(clean, ["g"], "k").collect()[0].approx_distinct
    assert with_null == without

    hh = {r.k for r in cms_heavy_hitters(df, "k", support_ppm=100_000).collect()}
    hh_clean = {r.k for r in
                cms_heavy_hitters(clean, "k", support_ppm=100_000).collect()}
    assert hh == hh_clean and None not in hh

    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, k BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    # both oracles must run (not raise) on the NULL-bearing table
    con.execute(det_hll_oracle_sql("t", "g", "k")).fetchall()
    con.execute(cms_oracle_sql("t", "k", 100_000)).fetchall()


def test_snapshot_diff_rejects_duplicate_keys(spark):
    """Review fix (r6): duplicate keys within a snapshot raise instead
    of fanning out into conflicting change rows."""
    import pytest

    from data_pipeline_stripe_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    dup = spark.createDataFrame([(1, "a"), (1, "z")], "k long, v string")
    with pytest.raises(Exception, match="duplicate key"):
        snapshot_diff(old, dup, "k").collect()
    with pytest.raises(Exception, match="duplicate key"):
        snapshot_diff(dup, old, "k").collect()


def test_interpolate_daily_rejects_filled_as_value(spark):
    """Review fix (r6): value='filled' is rejected too (the output
    contract would emit the same column twice)."""
    import datetime

    import pytest

    from data_pipeline_stripe_spark.operators import interpolate_daily

    df = spark.createDataFrame(
        [("a", datetime.date(2024, 1, 1), 5)], "k string, day date, filled long")
    with pytest.raises(ValueError, match="filled"):
        interpolate_daily(df, "k", "day", "filled")


def test_det_hll_pairwise_overlap_tracks_exact_intersections(spark):
    """HLL inclusion–exclusion accuracy: on constructed sets with known
    overlap fractions (0%, 50%, 100%), the estimated overlap lands
    within 10% of |A| + a small absolute slack of the exact
    intersection, and the union estimate is never below either side."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.sketches import (
        det_hll_pairwise_overlap)

    n = 2000
    rows = ([("full_a", i) for i in range(n)]
            + [("full_b", i) for i in range(n)]            # 100% overlap
            + [("half", i + n // 2) for i in range(n)]     # 50% with full_a
            + [("disj", i + 10 * n) for i in range(n)])    # 0%
    df = spark.createDataFrame(rows, "seg string, uid long")
    got = {(r.key_a, r.key_b): r for r in
           det_hll_pairwise_overlap(df, "seg", "uid").collect()}
    exact = {("full_a", "full_b"): n, ("full_a", "half"): n // 2,
             ("disj", "full_a"): 0}
    for pair, want in exact.items():
        r = got[pair]
        assert abs(r.approx_overlap - want) <= 0.1 * n + 50, (pair, r)
        assert r.approx_union >= max(r.approx_a, r.approx_b) - 1e-6, r


def test_mad_stats_exact_and_robust_to_corruption(spark):
    """mad_stats reports the exact discrete median/MAD of the cent grid,
    and — the point of MAD over mean/stddev — corrupting 30% of a group
    with a huge constant moves neither the median nor the MAD, while the
    corrupt rows are all flagged as outliers."""
    from pyspark.sql import functions as F  # noqa: F401

    from data_pipeline_stripe_spark.operators import mad_stats

    # clean group: values 1.00 .. 21.00 -> median 11.00 (1100 cents),
    # deviations 0,100,...,1000 each twice -> MAD = 500 cents.
    clean = [("a", float(v)) for v in range(1, 22)]
    # corrupt group: same 21 values plus 9 rows of 9999.00 (30% of 30).
    corrupt = [("b", float(v)) for v in range(1, 22)]
    corrupt += [("b", 9999.0)] * 9
    df = spark.createDataFrame(clean + corrupt, "k string, v double")
    got = {r.k: r for r in mad_stats(df, ["k"], "v", k=5).collect()}

    assert (got["a"].med_cents, got["a"].mad_cents) == (1100, 500)
    assert (got["a"].n_total, got["a"].n_outliers) == (21, 0)
    # median/MAD unmoved by 30% corruption (rank 15 of 30 is value 15
    # -> med 1500; the 15th-smallest deviation among the clean values'
    # 0,1,1,2,2,3,3,4,4,5,5,6,6,7,8,...(x100) is 800 — the 9 corrupted
    # rows at dev 849900 never reach the median rank).
    assert got["b"].med_cents == 1500
    assert got["b"].mad_cents == 800  # still in the clean band
    assert got["b"].n_outliers == 9  # exactly the corrupted rows
    assert got["b"].n_total == 30

    # partitioning invariance (the mergeable-histogram property).
    re16 = {r.k: r for r in
            mad_stats(df.repartition(16), ["k"], "v", k=5).collect()}
    assert {k: tuple(v) for k, v in got.items()} == \
           {k: tuple(v) for k, v in re16.items()}


def test_ema_halflife_dyadic_weights_exact(spark, tmp_path):
    """ema_daily_value_halflife: constant 256-cent daily revenue for 40
    consecutive days — the truncated alpha=1/2 EMA is the exact dyadic
    geometric sum 256·(2^20−1)/2^20 once 20 lags are in scope, 256/2 on
    the very first day, and decay is by CALENDAR day (a gap day weighs
    the older term down by the gap length, not by one row)."""
    import datetime

    from pyspark.sql import Row

    from data_pipeline_stripe_spark.queries.registry import REGISTRY

    base = datetime.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        Row(event_id=i, ts=base + datetime.timedelta(days=i),
            user_id=1, event_type="purchase", value=2.56, props="{}")
        for i in range(40)
    ]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet"))
    out = {r.day: r for r in
           REGISTRY["ema_daily_value_halflife"].fn(
               spark, str(tmp_path)).collect()}

    assert len(out) == 40
    first = out["2024-03-01"]
    assert first.day_cents == 256
    assert first.ema_scaled == 256 << 19
    assert first.ema_cents == 128.0          # alpha·v on day one
    steady = out["2024-03-31"]               # > 20 lags in scope
    assert steady.ema_scaled == 256 * ((1 << 20) - 1)
    assert steady.ema_cents == 256 * ((1 << 20) - 1) / (1 << 20)


def test_pareto_frontier_matches_brute_force_and_keeps_duplicates(spark):
    """pareto_frontier's window form equals the O(n²) dominance
    definition on a randomized point set, per group; exact duplicates of
    a frontier point are all kept; result invariant to partitioning."""
    import random

    from data_pipeline_stripe_spark.operators import pareto_frontier

    rng = random.Random(7)
    pts = [("g%d" % (i % 2), i, rng.randrange(0, 40), rng.randrange(0, 40))
           for i in range(120)]
    pts += [("g0", 900, 39, 39), ("g0", 901, 39, 39)]  # dup frontier point
    df = spark.createDataFrame(pts, "g string, id long, x long, y long")

    def dominated(g, x, y):
        return any(gg == g and (xx >= x and yy >= y) and (xx > x or yy > y)
                   for gg, _, xx, yy in pts)

    want = sorted((g, i) for g, i, x, y in pts if not dominated(g, x, y))
    got = sorted((r.g, r.id) for r in
                 pareto_frontier(df, "x", "y", keys=["g"]).collect())
    assert got == want
    assert ("g0", 900) in got and ("g0", 901) in got
    re7 = sorted((r.g, r.id) for r in
                 pareto_frontier(df.repartition(7), "x", "y",
                                 keys=["g"]).collect())
    assert re7 == want


def test_allocate_proportional_sums_exactly_and_is_fair(spark):
    """Largest-remainder allocation: per-group SUM(alloc) == total
    EXACTLY, every allocation within 1 unit of the exact proportional
    share (the Hamilton guarantee), zero-weight-sum groups allocate
    nothing, and remainder ties break deterministically by id."""
    from data_pipeline_stripe_spark.operators import allocate_proportional

    rows = [("a", "n1", 333), ("a", "n2", 333), ("a", "n3", 334),
            ("b", "n1", 1), ("b", "n2", 2), ("b", "n3", 4),
            ("z", "n1", 0), ("z", "n2", 0)]
    df = spark.createDataFrame(rows, "g string, id string, w long")
    out = allocate_proportional(df, ["g"], "id", "w", 100)
    got = {(r.g, r.id): r.alloc_units for r in out.collect()}

    assert sum(v for (g, _), v in got.items() if g == "a") == 100
    assert sum(v for (g, _), v in got.items() if g == "b") == 100
    assert all(v == 0 for (g, _), v in got.items() if g == "z")
    # Hamilton fairness: |alloc - total*w/W| < 1
    tot_w = {"a": 1000, "b": 7}
    for (g, i), v in got.items():
        if g in tot_w:
            w = dict((r[1], r[2]) for r in rows if r[0] == g)[i]
            assert abs(v - 100 * w / tot_w[g]) < 1, (g, i, v)
    # ties: group a remainders are (300, 300, 400)%1000 -> n3 floors to
    # 33.4 -> 33; n1,n2 -> 33.3 -> 33; leftover 1 goes to largest
    # remainder 400 (n3): 34.
    assert got[("a", "n3")] == 34 and got[("a", "n1")] == 33


def test_psi_drift_zero_on_identical_and_known_value(spark):
    """PSI is exactly 0.0 when both slices are identical (p == q for
    every bin); a hand-computed two-bin shift reproduces the textbook
    formula; result invariant to partitioning."""
    import math

    from data_pipeline_stripe_spark.operators import psi_drift

    same = [("k", float(v)) for v in (1, 2, 3, 10, 20, 30)]
    df = spark.createDataFrame(same, "k string, v double")
    z = psi_drift(df, df, ["k"], "v", [500, 1000]).collect()
    assert len(z) == 1 and z[0].psi == 0.0 and z[0].n_a == 6

    # slice a: 4 low + 2 high; slice b: 2 low + 4 high; edges [500]:
    # bins are (<5.00, >=5.00); smoothing +1, denom tot+2.
    a = spark.createDataFrame(
        [("k", 1.0)] * 4 + [("k", 9.0)] * 2, "k string, v double")
    b = spark.createDataFrame(
        [("k", 1.0)] * 2 + [("k", 9.0)] * 4, "k string, v double")
    out = psi_drift(a, b, ["k"], "v", [500]).collect()[0]
    p = [(4 + 1) / 8, (2 + 1) / 8]
    q = [(2 + 1) / 8, (4 + 1) / 8]
    want = sum((pi - qi) * math.log(pi / qi) for pi, qi in zip(p, q))
    assert out.psi == round(want, 6)
    re5 = psi_drift(a.repartition(5), b.repartition(3),
                    ["k"], "v", [500]).collect()[0]
    assert re5.psi == out.psi


def test_interval_concurrency_sweep_semantics(spark):
    """Sweep-line: overlapping intervals stack, closed-interval ends
    release one second later, back-to-back intervals [a, t-1], [t, b]
    never double-count, and a delta-0 probe reads the running value
    without changing it."""
    from data_pipeline_stripe_spark.operators import interval_concurrency

    iv = spark.createDataFrame(
        [(100, 200), (150, 250), (150, 250), (251, 300)],
        "s long, e long")
    probes = spark.createDataFrame([(175,), (1000,)], "sec long")
    out = {(r.sec, r.delta): r.conc for r in
           interval_concurrency(iv, "s", "e", probes=probes).collect()}

    assert out[(100, 1)] == 1
    assert out[(150, 1)] == 3          # two identical starts collapse
    assert out[(175, 0)] == 3          # probe reads, doesn't change
    assert out[(201, -1)] == 2         # [100,200] closes at 201
    # [150,250]x2 close at 251, the same second [251,300] opens:
    # -1 sorts before +1, so the instant never counts 3.
    assert out[(251, -1)] == 0 and out[(251, 1)] == 1
    assert out[(301, -1)] == 0
    assert out[(1000, 0)] == 0         # far probe reads the empty line


def test_trend_slope_exact_line_and_null_denominator(spark):
    """trend_slope recovers an exact line (slope 3, intercept 7) with
    zero float error, matches the closed form on noisy integer data,
    and returns NULL slope when all x are equal (degenerate fit)."""
    from data_pipeline_stripe_spark.operators.stats import trend_slope

    line = [("line", x, 3 * x + 7) for x in range(10)]
    noisy = [("noisy", x, y) for x, y in
             [(0, 1), (1, 4), (2, 4), (3, 8), (4, 9)]]
    flat = [("flat", 5, y) for y in (1, 2, 3)]
    df = spark.createDataFrame(line + noisy + flat,
                               "k string, x long, y long")
    got = {r.k: r for r in trend_slope(df, ["k"], "x", "y").collect()}

    assert got["line"].slope == 3.0 and got["line"].intercept == 7.0
    # closed form on the noisy set: n=5, sx=10, sy=26, sxx=30, sxy=72
    assert got["noisy"].slope == (5 * 72 - 10 * 26) / (5 * 30 - 100)
    assert got["noisy"].intercept == (26 * 30 - 10 * 72) / (5 * 30 - 100)
    assert got["flat"].slope is None and got["flat"].intercept is None
    re9 = {r.k: r for r in
           trend_slope(df.repartition(9), ["k"], "x", "y").collect()}
    assert {k: (v.slope, v.intercept) for k, v in got.items()} == \
           {k: (v.slope, v.intercept) for k, v in re9.items()}


def test_gini_known_values_and_tie_invariance(spark):
    """Gini: 0 for perfectly equal weights, the textbook value for a
    hand-computed split, (n-1)/n when one member holds everything, and
    identical results no matter how tied weights are ordered (the i·w
    sum over a tied block is order-free)."""
    from data_pipeline_stripe_spark.operators.stats import gini

    equal = [("eq", i, 100) for i in range(4)]
    # weights 1,2,3,4: G = (2*(1+4+9+16) - 5*10) / (4*10) = 10/40
    ramp = [("ramp", i, w) for i, w in enumerate([1, 2, 3, 4])]
    onehot = [("one", 0, 1000)] + [("one", i, 0) for i in range(1, 5)]
    ties = [("tie", i, w) for i, w in enumerate([5, 5, 5, 1])]
    df = spark.createDataFrame(equal + ramp + onehot + ties,
                               "k string, id long, w long")
    got = {r.k: r for r in gini(df, ["k"], "w", "id").collect()}

    assert got["eq"].gini == 0.0
    assert got["ramp"].gini == 0.25
    assert got["one"].gini == (5 - 1) / 5  # max inequality at n=5
    # ties: sorted (1,5,5,5) -> siw = 1 + 2*5 + 3*5 + 4*5 = 46,
    # G = (92 - 5*16)/(4*16) = 12/64, regardless of id order.
    assert got["tie"].gini == 12 / 64
    assert got["tie"].n == 4 and got["tie"].total == 16
    re6 = {r.k: r.gini for r in
           gini(df.repartition(6), ["k"], "w", "id").collect()}
    assert re6 == {k: v.gini for k, v in got.items()}


def test_ks_distance_hand_computed_and_exact_zero(spark):
    """ks_distance: identical slices give EXACTLY 0.0 (integer
    numerator, no float noise); a hand-computed two-sample case matches
    the textbook sup|F_a - F_b|; NULL values are excluded; result is
    partitioning-invariant."""
    from data_pipeline_stripe_spark.operators.drift import ks_distance

    same = [("k", float(v)) for v in (1, 2, 2, 3, 9)]
    df = spark.createDataFrame(same, "k string, v double")
    z = ks_distance(df, df, ["k"], "v").collect()[0]
    assert z.ks == 0.0 and z.n_a == 5 and z.n_b == 5

    # a = {1,1,2,4}, b = {2,3,3,4}: F_a-F_b at grid 1,2,3,4 =
    # 2/4-0, 3/4-1/4, 3/4-3/4, 0 -> sup = 1/2 exactly.
    a = spark.createDataFrame(
        [("k", 1.0), ("k", 1.0), ("k", 2.0), ("k", 4.0), ("k", None)],
        "k string, v double")
    b = spark.createDataFrame(
        [("k", 2.0), ("k", 3.0), ("k", 3.0), ("k", 4.0)],
        "k string, v double")
    out = ks_distance(a, b, ["k"], "v").collect()[0]
    assert out.ks == 0.5 and out.n_a == 4 and out.n_b == 4
    re8 = ks_distance(a.repartition(8), b.repartition(3),
                      ["k"], "v").collect()[0]
    assert re8.ks == 0.5


def test_benford_digit_stats_counts_and_ppm(spark):
    """benford_digit_stats: first digits come from the decimal string
    of the CENT value, non-positive values are excluded, ppm shares are
    floor divisions that sum to <= 1e6, and the expected constants are
    the fixed Benford ppm table."""
    from data_pipeline_stripe_spark.operators.stats import (BENFORD_PPM,
                                                            benford_digit_stats)

    # cents: 123, 1999, 205, 9.0 -> digits 1, 1, 2, 9; zero/negative
    # excluded.
    rows = [("k", 1.23), ("k", 19.99), ("k", 2.05), ("k", 0.09),
            ("k", 0.0), ("k", -5.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {r.digit: r for r in
           benford_digit_stats(df, ["k"], "v").collect()}

    assert set(got) == {1, 2, 9}
    assert got[1].n == 2 and got[2].n == 1 and got[9].n == 1
    assert got[1].share_ppm == 2 * 1000000 // 4
    assert got[2].share_ppm == 1000000 // 4
    assert all(got[d].benford_ppm == BENFORD_PPM[d] for d in got)
    assert sum(r.share_ppm for r in got.values()) <= 1000000


def test_new_operators_guard_column_collisions(spark):
    """The round-5 gapfill lesson applied to the cont.-2 batch: output-
    contract collisions raise loudly instead of silently replacing a
    caller column, and purely-internal temps are derived collision-free
    (pareto works even when the caller owns '_dom')."""
    import pytest as _pytest

    from data_pipeline_stripe_spark.operators import (allocate_proportional,
                                                      interval_concurrency,
                                                      mad_stats,
                                                      pareto_frontier,
                                                      psi_drift)
    from data_pipeline_stripe_spark.operators.drift import ks_distance
    from data_pipeline_stripe_spark.operators.stats import (
        benford_digit_stats, gini, trend_slope)

    # internal temp: a caller-owned '_dom' column survives untouched
    df = spark.createDataFrame([("g", 1, 1, "keep"), ("g", 2, 2, "keep")],
                               "g string, x long, y long, _dom string")
    out = pareto_frontier(df, "x", "y", keys=["g"]).collect()
    assert [r._dom for r in out] == ["keep"]

    # output contracts: every reserved-name collision raises
    w = spark.createDataFrame([("g", "a", 1, 0.5)],
                              "g string, id string, alloc_units long,"
                              " v double")
    with _pytest.raises(ValueError, match="allocate_proportional"):
        allocate_proportional(w, ["g"], "id", "alloc_units", 10)
    ev = spark.createDataFrame([(1, 2)], "sec long, delta long")
    with _pytest.raises(ValueError, match="interval_concurrency"):
        interval_concurrency(ev, "sec", "delta", keys=["conc"])
    kdf = spark.createDataFrame([("x", 1.0)], "n_a string, v double")
    with _pytest.raises(ValueError, match="psi_drift"):
        psi_drift(kdf, kdf, ["n_a"], "v", [100])
    with _pytest.raises(ValueError, match="ks_distance"):
        ks_distance(kdf, kdf, ["n_a"], "v")
    sdf = spark.createDataFrame([("x", 1, 2)], "slope string, x long, y long")
    with _pytest.raises(ValueError, match="trend_slope"):
        trend_slope(sdf, ["slope"], "x", "y")
    gdf = spark.createDataFrame([("x", "i", 1)], "gini string, id string,"
                                " w long")
    with _pytest.raises(ValueError, match="gini"):
        gini(gdf, ["gini"], "w", "id")
    bdf = spark.createDataFrame([("x", 1.0)], "digit string, v double")
    with _pytest.raises(ValueError, match="benford"):
        benford_digit_stats(bdf, ["digit"], "v")
    mdf = spark.createDataFrame([("x", 1.0)], "med string, v double")
    with _pytest.raises(ValueError, match="mad_stats"):
        mad_stats(mdf, ["med"], "v")


def test_interval_concurrency_sharded_equals_unsharded(spark):
    """The two-level distributed prefix sum (shard_seconds) is a PLAN
    change, never an answer change: on a timeline spanning many shards
    (including empty ones and intervals crossing shard boundaries) the
    sharded result equals the single-partition form row for row, and
    the expensive upstream is planned once (no duplicated lag/explode
    branches — the collapsed frame is checkpointed)."""
    import random

    from data_pipeline_stripe_spark.operators import interval_concurrency

    rng = random.Random(11)
    iv = [(s, s + rng.randrange(0, 250)) for s in
          (rng.randrange(0, 1000) for _ in range(300))]
    df = spark.createDataFrame(iv, "s long, e long")
    probes = spark.createDataFrame([(0,), (500,), (2000,)], "sec long")

    plain = interval_concurrency(df, "s", "e", probes=probes)
    sharded = interval_concurrency(df, "s", "e", probes=probes,
                                   shard_seconds=100)
    rows_p = sorted(map(tuple, plain.collect()))
    rows_s = sorted(map(tuple, sharded.collect()))
    assert rows_p == rows_s
    # keyed variant too
    kdf = df.withColumn("g", (df.s % 3).cast("string"))
    kp = sorted(map(tuple, interval_concurrency(
        kdf, "s", "e", keys=["g"]).collect()))
    ks = sorted(map(tuple, interval_concurrency(
        kdf, "s", "e", keys=["g"], shard_seconds=64).collect()))
    assert kp == ks


def test_multitouch_credits_reconcile_exactly(spark, sf_dir):
    """Every purchase's attributed credits must sum to exactly 1M ppm
    (the ledger invariant the query exists for), a lone click must take
    100%, and a 2-click journey must split 50/50 under the U-weights."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.queries import REGISTRY

    df = REGISTRY["multitouch_attribution_credit"].fn(spark, sf_dir)
    per_purchase = (
        df.groupBy("purchase_id")
        .agg(F.sum("credit_ppm").alias("tot"), F.count("*").alias("n"))
    )
    bad = per_purchase.filter(F.col("tot") != 1_000_000).count()
    assert bad == 0
    singles = per_purchase.filter(F.col("n") == 1).select("purchase_id")
    lone = df.join(singles, "purchase_id").filter(
        F.col("credit_ppm") != 1_000_000
    )
    assert lone.count() == 0
    pairs2 = per_purchase.filter(F.col("n") == 2).select("purchase_id")
    halves = df.join(pairs2, "purchase_id").filter(
        F.col("credit_ppm") != 500_000
    )
    assert halves.count() == 0


def test_k_anonymize_suppression_semantics(spark):
    """Every released quasi-combination has >= k rows; suppressed rows
    are exactly those in smaller groups; NULL quasi values group
    together; k<1 rejected."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.anonymize import k_anonymize

    rows = [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, None), (6, None)]
    df = spark.createDataFrame(rows, "id long, zip string")
    out = k_anonymize(df, ["zip"], 2)
    got = {(r.id, r.zip) for r in out.collect()}
    # 'a' (3 rows) and NULL (2 rows) survive; 'b' (1 row) is suppressed
    assert got == {(1, "a"), (2, "a"), (3, "a"), (5, None), (6, None)}
    # the guarantee itself: every released group >= k
    mins = (out.groupBy("zip").agg(F.count("*").alias("n"))
            .agg(F.min("n")).collect()[0][0])
    assert mins >= 2
    with pytest.raises(ValueError, match="k must be"):
        k_anonymize(df, ["zip"], 0)


def test_cuped_removes_covariate_imbalance_exactly(spark):
    """With y perfectly linear in x (y = 3x, zero true effect) and the
    variants deliberately imbalanced on x, the raw means differ but the
    CUPED-adjusted means must be EQUAL (theta recovers 3 exactly from
    the integer moments; the residual is identically zero)."""
    from data_pipeline_stripe_spark.operators.experiment import cuped_adjust

    rows = ([(0, x, 3 * x) for x in (100, 200, 300)]       # low-x variant
            + [(1, x, 3 * x) for x in (700, 800, 900)])    # high-x variant
    units = spark.createDataFrame(rows, "variant long, x long, y long")
    out = {r.variant: r for r in
           cuped_adjust(units, "variant", "x", "y").collect()}
    assert out[0].theta == 3.0 and out[1].theta == 3.0
    assert out[0].mean_y != out[1].mean_y          # raw: imbalanced
    assert out[0].adjusted_mean_y == out[1].adjusted_mean_y

    # degenerate Var(X)=0: theta=0, adjusted == raw
    flat = spark.createDataFrame(
        [(0, 5, 10), (1, 5, 30)], "variant long, x long, y long")
    res = {r.variant: r for r in
           cuped_adjust(flat, "variant", "x", "y").collect()}
    assert res[0].theta == 0.0
    assert res[0].adjusted_mean_y == res[0].mean_y


def test_bucketed_layout_fingerprint_cache_semantics(spark, tmp_path):
    """The session-scoped layout cache must (a) skip the rewrite when
    source fingerprint + buckets + schema all match, (b) rebuild when
    the SOURCE changes (fingerprint moves with file mtime/size), and
    (c) rebuild when the same table name is requested with a DIFFERENT
    projection (schema is part of the identity — two callers must not
    cross-serve layouts)."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.layout import (
        source_fingerprint, write_bucketed_table)

    src = str(tmp_path / "t.parquet")
    spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).write.parquet(src)

    from urllib.parse import urlparse

    fp1 = source_fingerprint(str(tmp_path), ["t"])
    write_bucketed_table(spark, spark.read.parquet(src), "fp_cache_t",
                         "k", buckets=4, fingerprint=fp1)
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    table_path = os.path.join(warehouse, "fp_cache_t")
    first_files = sorted(os.listdir(table_path))

    # (a) same fingerprint + schema: the rewrite is skipped — the
    # physical files are untouched
    write_bucketed_table(spark, spark.read.parquet(src), "fp_cache_t",
                         "k", buckets=4, fingerprint=fp1)
    assert sorted(os.listdir(table_path)) == first_files

    # (c) same name + fingerprint, DIFFERENT projection: must rebuild
    write_bucketed_table(
        spark, spark.read.parquet(src).select("k"), "fp_cache_t",
        "k", buckets=4, fingerprint=fp1)
    assert spark.table("fp_cache_t").columns == ["k"]

    # (b) source rewritten → fingerprint moves → rebuild picks up rows
    _time.sleep(0.05)
    spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    ).write.mode("overwrite").parquet(src)
    fp2 = source_fingerprint(str(tmp_path), ["t"])
    assert fp2 != fp1
    write_bucketed_table(spark, spark.read.parquet(src), "fp_cache_t",
                         "k", buckets=4, fingerprint=fp2)
    assert spark.table("fp_cache_t").count() == 50

    # (d) r9 ADVICE fix: the skip path must validate the WAREHOUSE
    # FILES, not just the catalog entry — an externally deleted layout
    # dir falls through to a rebuild instead of serving a broken table
    import shutil

    shutil.rmtree(table_path)
    write_bucketed_table(spark, spark.read.parquet(src), "fp_cache_t",
                         "k", buckets=4, fingerprint=fp2)
    assert spark.table("fp_cache_t").count() == 50
    assert any(f.endswith(".parquet") for f in os.listdir(table_path))
    spark.sql("DROP TABLE IF EXISTS fp_cache_t")


def test_snapshot_table_commit_expire_mechanics(spark, tmp_path):
    """The snapshot format's mechanical invariants, beyond the gated
    hash: appends REFERENCE prior files (no rewrite), overwrite starts
    a fresh file set while history stays readable, expiry deletes only
    unreferenced commit dirs (including crashed-commit orphans) and
    refuses to expire everything."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.snapshots import (
        _read_manifest, snapshot_commit, snapshot_current_version,
        snapshot_expire, snapshot_read, snapshot_versions)

    t = str(tmp_path / "snap_t")
    d0 = spark.range(10).select(F.col("id"), F.lit("a").alias("tag"))
    d1 = spark.range(10, 15).select(F.col("id"), F.lit("b").alias("tag"))

    assert snapshot_current_version(t) is None
    v0 = snapshot_commit(spark, t, d0, mode="append")
    v1 = snapshot_commit(spark, t, d1, mode="append")
    assert (v0, v1) == (0, 1)
    f0 = {e["path"] for e in _read_manifest(t, 0)["files"]}
    f1 = {e["path"] for e in _read_manifest(t, 1)["files"]}
    assert f0 < f1  # append references v0's files untouched
    assert snapshot_read(spark, t, 0).count() == 10
    assert snapshot_read(spark, t).count() == 15

    v2 = snapshot_commit(
        spark, t, snapshot_read(spark, t).filter("id < 3"),
        mode="overwrite")
    assert v2 == 2
    f2 = {e["path"] for e in _read_manifest(t, 2)["files"]}
    assert f2.isdisjoint(f1)
    assert snapshot_read(spark, t).count() == 3
    assert snapshot_read(spark, t, 1).count() == 15  # history intact

    # crashed-commit orphan: a data dir no manifest references. Under
    # the default grace window it is PROTECTED (it is indistinguishable
    # from a commit in flight right now — ADVICE r9); with grace 0 it
    # is collected.
    os.makedirs(os.path.join(t, "data", "deadbeef0000"))
    report = snapshot_expire(t, keep_last=2)
    assert report["expired_versions"] == [0]
    assert report["deleted_dirs"] == []
    assert os.path.isdir(os.path.join(t, "data", "deadbeef0000"))
    report = snapshot_expire(t, keep_last=2, tmp_grace_seconds=0.0)
    assert os.path.join("data", "deadbeef0000") in report["deleted_dirs"]
    assert snapshot_versions(t) == [1, 2]
    assert snapshot_read(spark, t, 1).count() == 15  # survivor readable
    assert snapshot_read(spark, t).count() == 3
    with pytest.raises(ValueError):
        snapshot_expire(t, keep_last=0)


def test_snapshot_commit_epoch_key_idempotence(spark, tmp_path):
    """The idempotent-commit contract the streaming sink rides: a
    commit whose epoch_key is already in the manifest ledger is a
    no-op returning the current version; distinct keys commit;
    overwrite commits preserve the ledger."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.snapshots import (
        snapshot_commit, snapshot_read)

    t = str(tmp_path / "snap_idem")
    d = spark.range(5).select(F.col("id"))
    assert snapshot_commit(spark, t, d, epoch_key="0") == 0
    # replayed epoch: no new version, no new rows
    assert snapshot_commit(spark, t, d, epoch_key="0") == 0
    assert snapshot_read(spark, t).count() == 5
    assert snapshot_commit(spark, t, d, epoch_key="1") == 1
    assert snapshot_read(spark, t).count() == 10
    # the ledger survives an overwrite (Delta txn-table semantics)
    assert snapshot_commit(spark, t, d, mode="overwrite",
                           epoch_key="2") == 2
    assert snapshot_commit(spark, t, d, epoch_key="1") == 2  # still no-op
    assert snapshot_read(spark, t).count() == 5


def test_snapshot_crash_never_exposes_uncommitted_state(spark, tmp_path):
    """The crash windows of the put-if-absent protocol (r9: manifest
    publication IS the commit, closing the r8-review hazard where an
    orphan manifest could become a visible version once the next commit
    advanced past it). A crash before publish leaves only (a) an
    unreferenced data dir and/or (b) a ``*.tmp.*`` manifest — neither
    is a readable version, neither shifts version numbering, and
    ``snapshot_expire`` collects both while the live version survives
    even with keep_last=1."""
    import json
    import os

    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.snapshots import (
        _SNAPDIR, _manifest_path, snapshot_commit,
        snapshot_current_version, snapshot_expire, snapshot_read,
        snapshot_versions)

    t = str(tmp_path / "snap_crash")
    snapshot_commit(spark, t, spark.range(7).select(F.col("id")))
    assert snapshot_current_version(t) == 0

    # simulate a commit crashed between temp-write and publish: a
    # complete manifest body exists ONLY under a tmp name, plus its
    # (unreferenced) data dir
    os.makedirs(os.path.join(t, "data", "deadbeef0000"))
    tmp_manifest = _manifest_path(t, 1) + ".tmp.deadbeef0000"
    with open(tmp_manifest, "w") as fh:
        json.dump({"version": 1, "parent": 0, "mode": "overwrite",
                   "committed_at": 0, "files": [], "schema": "{}",
                   "last_epoch": None}, fh)

    # (a) readers never see the uncommitted state — not as a version,
    # not as the current pointer, not via time travel
    assert snapshot_versions(t) == [0]
    assert snapshot_current_version(t) == 0
    assert snapshot_read(spark, t).count() == 7

    # (b) the next commit takes the version the crashed one targeted —
    # nothing was published, so nothing is skipped or clobbered
    v = snapshot_commit(spark, t, spark.range(3).select(F.col("id")))
    assert v == 1
    assert snapshot_read(spark, t).count() == 10
    assert snapshot_versions(t) == [0, 1]

    # (c) expire sweeps the debris (tmp manifest + orphan data dir)
    # while every committed version stays readable
    report = snapshot_expire(t, keep_last=2, tmp_grace_seconds=0.0)
    assert os.path.join("data", "deadbeef0000") in report["deleted_dirs"]
    assert not os.path.exists(tmp_manifest)
    assert snapshot_versions(t) == [0, 1]
    assert snapshot_read(spark, t, 0).count() == 7
    assert snapshot_read(spark, t).count() == 10
    # a FRESH tmp file AND a fresh unreferenced data dir inside the
    # grace window are protected (a commit may be publishing RIGHT NOW:
    # its data dir is unreferenced until the link wins — collecting it
    # would turn GC into data loss, the ADVICE r9 medium)
    with open(tmp_manifest, "w") as fh:
        fh.write("{}")
    os.makedirs(os.path.join(t, "data", "inflight00000"))
    snapshot_expire(t, keep_last=2)  # default grace: 1h
    assert os.path.exists(tmp_manifest)
    assert os.path.isdir(os.path.join(t, "data", "inflight00000"))
    # the tmp file is invisible to version listing either way
    assert snapshot_versions(t) == [0, 1]
    assert _SNAPDIR  # imported symbol used: silences linters


def test_snapshot_optimistic_concurrency_rebase_and_abort(spark, tmp_path):
    """The OCC commit loop, both branches pinned deterministically by
    making the writer's first read of the current version STALE (the
    moment-in-time equivalent of a concurrent winner): an APPEND that
    loses the version race rebases onto the winner and commits the
    union — no lost update; an OVERWRITE that loses aborts with
    SnapshotConflictError (replaying it would silently drop the
    winner's rows)."""
    from unittest import mock

    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import snapshots as S

    t = str(tmp_path / "snap_occ")
    S.snapshot_commit(spark, t, spark.range(5).select(F.col("id")))
    S.snapshot_commit(spark, t, spark.range(5, 8).select(F.col("id")))
    assert S.snapshot_current_version(t) == 1

    real = S.snapshot_current_version

    def stale_once(stale_version, times=2):
        # the writer reads current twice before its first publish
        # attempt (the pre-write early check + the loop's base read);
        # both must see the stale value to model a racing winner
        state = {"left": times}

        def read(table_dir):
            if state["left"] > 0:
                state["left"] -= 1
                return stale_version
            return real(table_dir)

        return read

    # the writer's base reads report stale version 0 → the writer
    # targets v1, loses the link race to the REAL v1, and must rebase
    # onto it
    with mock.patch.object(
            S, "snapshot_current_version", side_effect=stale_once(0)):
        v = S.snapshot_commit(
            spark, t, spark.range(8, 10).select(F.col("id")),
            mode="append")
    assert v == 2
    # the rebase kept BOTH the winner's rows and this writer's rows
    assert S.snapshot_read(spark, t).count() == 10
    assert S.snapshot_versions(t) == [0, 1, 2]

    # same stale read, overwrite mode → abort, table unchanged
    with mock.patch.object(
            S, "snapshot_current_version", side_effect=stale_once(1)):
        with pytest.raises(S.SnapshotConflictError):
            S.snapshot_commit(
                spark, t, spark.range(1).select(F.col("id")),
                mode="overwrite")
    assert S.snapshot_current_version(t) == 2
    assert S.snapshot_read(spark, t).count() == 10


def test_snapshot_concurrent_committers_no_lost_update(spark, tmp_path):
    """Two genuinely concurrent committer threads, started on a
    barrier, each appending 6 disjoint batches: every commit must land
    (12 contiguous versions) and the final table must hold EVERY row
    from both writers — the lost-update a last-swap-wins pointer
    allowed can no longer happen."""
    import threading

    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.snapshots import (
        snapshot_commit, snapshot_read, snapshot_versions)

    t = str(tmp_path / "snap_race")
    barrier = threading.Barrier(2)
    errors = []

    def writer(offset: int) -> None:
        try:
            barrier.wait()
            for i in range(6):
                lo = offset + i * 10
                snapshot_commit(
                    spark, t,
                    spark.range(lo, lo + 10).select(F.col("id")),
                    mode="append")
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(off,))
               for off in (0, 1000)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert snapshot_versions(t) == list(range(12))  # contiguous, all won
    rows = {r.id for r in snapshot_read(spark, t).collect()}
    expect = {off + i * 10 + j
              for off in (0, 1000) for i in range(6) for j in range(10)}
    assert rows == expect  # no lost update, no duplication


def test_snapshot_stats_pruning_and_incremental_read(spark, tmp_path):
    """Manifest column stats + scan pruning + incremental reads:
    (a) per-file min/max land in the manifest from the parquet footers;
    (b) a selective predicate plans FEWER files than the table holds
    while the filtered result is identical to the unpruned read;
    (c) the version-range incremental read returns exactly the appended
    delta, and refuses a range containing an overwrite."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.snapshots import (
        snapshot_commit, snapshot_pruned_files, snapshot_read,
        snapshot_read_incremental, snapshot_scan)

    t = str(tmp_path / "snap_stats")
    # three commits with disjoint id ranges → disjoint file stats
    for lo in (0, 100, 200):
        snapshot_commit(
            spark, t,
            spark.range(lo, lo + 50)
            .coalesce(1)
            .select(F.col("id"), (F.col("id") % 7).alias("bucket")),
            mode="append")

    kept, total = snapshot_pruned_files(t, [("id", ">=", 200)])
    assert total == 3 and len(kept) == 1  # stats pruned 2 of 3 files
    pruned = snapshot_scan(spark, t, [("id", ">=", 200)])
    full = snapshot_read(spark, t).filter(F.col("id") >= 200)
    assert sorted(r.id for r in pruned.collect()) == sorted(
        r.id for r in full.collect())
    # equality predicate, middle file only
    kept_eq, _ = snapshot_pruned_files(t, [("id", "=", 120)])
    assert len(kept_eq) == 1
    # unknown column / missing stats: conservative — nothing pruned
    kept_all, _ = snapshot_pruned_files(t, [("nonexistent", ">", 0)])
    assert len(kept_all) == 3

    # incremental: delta of (v0 → v2] is exactly the last two commits
    delta = snapshot_read_incremental(spark, t, 0, 2)
    assert sorted(r.id for r in delta.collect()) == (
        list(range(100, 150)) + list(range(200, 250)))
    # base + replayed deltas == full table
    base = snapshot_read(spark, t, 0)
    assert base.unionByName(delta).count() == snapshot_read(
        spark, t).count()
    # an overwrite in the range has no append-only delta
    snapshot_commit(spark, t,
                    snapshot_read(spark, t).filter("id < 10"),
                    mode="overwrite")
    with pytest.raises(ValueError, match="overwrite"):
        snapshot_read_incremental(spark, t, 0)
    # but a range strictly after the overwrite works again
    snapshot_commit(spark, t,
                    spark.range(300, 310).select(
                        F.col("id"), (F.col("id") % 7).alias("bucket")),
                    mode="append")
    post = snapshot_read_incremental(spark, t, 3)
    assert sorted(r.id for r in post.collect()) == list(range(300, 310))
    # any other non-append in range is refused under its real mode: a
    # compaction (v5) is a rewrite, not an overwrite
    from data_pipeline_stripe_spark.operators.snapshots import (
        snapshot_compact)

    assert snapshot_compact(spark, t, target_files=1)[0] == 5
    with pytest.raises(ValueError, match=r"version 5 of .* is a rewrite "
                       "— the range has no append-only delta"):
        snapshot_read_incremental(spark, t, 4)
    # a range touching an EXPIRED version raises the API's contract
    # error, not a raw FileNotFoundError (r9 review fix)
    from data_pipeline_stripe_spark.operators.snapshots import (
        snapshot_expire)

    snapshot_expire(t, keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        snapshot_read_incremental(spark, t, 3)


def test_snapshot_schema_evolution_append_add_columns(spark, tmp_path):
    """Additive schema evolution (r9): an append may ADD columns —
    older files read them as NULL, newer files read columns they lack
    as NULL, the committed schema is the union — and an append that
    CHANGES a shared column's type is rejected before anything is
    published. Historical versions keep their own (narrower) schema."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.snapshots import (
        snapshot_commit, snapshot_read)

    t = str(tmp_path / "snap_evolve")
    snapshot_commit(
        spark, t,
        spark.range(5).select(F.col("id"), F.lit("a").alias("tag")))
    snapshot_commit(
        spark, t,
        spark.range(5, 8).select(
            F.col("id"), F.lit("b").alias("tag"),
            (F.col("id") * 10).alias("score")))  # adds score
    head = snapshot_read(spark, t)
    assert head.columns == ["id", "tag", "score"]
    rows = {r.id: r for r in head.collect()}
    assert len(rows) == 8
    assert rows[0].score is None          # old file: added col is NULL
    assert rows[5].score == 50
    # reversed direction: a later append MISSING score still reads as
    # the union schema with NULL score for its rows
    snapshot_commit(
        spark, t,
        spark.range(8, 9).select(F.col("id"), F.lit("c").alias("tag")))
    rows = {r.id: r for r in snapshot_read(spark, t).collect()}
    assert rows[8].score is None and rows[5].score == 50
    # history keeps its own schema
    assert snapshot_read(spark, t, 0).columns == ["id", "tag"]
    # a non-widenable type change on a shared column is rejected,
    # nothing published
    with pytest.raises(ValueError, match="not a lossless widening"):
        snapshot_commit(
            spark, t,
            spark.range(9, 10).select(
                F.col("id"), F.col("id").cast("string").alias("score"),
                F.lit("d").alias("tag")))
    assert snapshot_read(spark, t).count() == 9
    # overwrite may re-type freely (fresh file set, fresh schema)
    snapshot_commit(
        spark, t,
        spark.range(3).select(F.col("id").cast("string").alias("score")),
        mode="overwrite")
    assert snapshot_read(spark, t).columns == ["score"]


def test_snapshot_merge_read_validation(spark, tmp_path):
    """snapshot_merge is a serializable read-modify-write: it commits
    against the exact version it read, so a commit landing between the
    merge's read and its publish aborts the merge instead of being
    silently overwritten (the expected_version leg of the OCC
    protocol); a clean retry then succeeds and keeps BOTH writers'
    rows."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import snapshots as S

    t = str(tmp_path / "snap_merge")
    S.snapshot_commit(
        spark, t,
        spark.range(5).select(F.col("id").alias("k"),
                              F.lit("base").alias("v")))

    upd = spark.range(3, 7).select(F.col("id").alias("k"),
                                   F.lit("upd").alias("v"))
    version, merged = S.snapshot_merge(spark, t, upd, "k")
    assert version == 1
    acts = {r.k: r.merge_action for r in merged.collect()}
    assert acts[0] == "kept" and acts[3] == "updated" and acts[6] == "inserted"
    assert S.snapshot_read(spark, t).count() == 7

    # interleaved commit between read and publish. The interleave point
    # is the dirty/clean split — the moment the merge has committed to
    # a view of the manifest it read.
    real_split = S._split_dirty_by_probe

    def make_interleaver(foreign_key: int):
        def split_then_interleave(table_dir, manifest, probe):
            out = real_split(table_dir, manifest, probe)
            # a foreign writer lands AFTER the merge's read
            S.snapshot_commit(
                spark, t,
                spark.range(foreign_key, foreign_key + 1)
                .select(F.col("id").alias("k"),
                        F.lit("foreign").alias("v")))
            return out
        return split_then_interleave

    from unittest import mock

    # r12 CONFLICT NARROWING: a DISJOINT interleaved append (k=100,
    # far outside the merge band [0,0]) no longer aborts — the merge
    # REBASES, carrying the appended files verbatim, and the committed
    # state equals the serial order append→merge.
    with mock.patch.object(S, "_split_dirty_by_probe",
                           side_effect=make_interleaver(100)):
        v2, _ = S.snapshot_merge(
            spark, t,
            spark.range(1).select(F.col("id").alias("k"),
                                  F.lit("late").alias("v")), "k")
    rows = {r.k: r.v for r in S.snapshot_read(spark, t).collect()}
    assert rows[100] == "foreign" and rows[0] == "late"
    assert v2 == S.snapshot_current_version(t)
    # ... but an interleaved append INSIDE the dirty band still aborts
    # (the rebase cannot reproduce the serial order: the merge would
    # have had to consider the foreign row a match candidate). Band
    # [10, 12] with foreign k=11 — in-band but not an existing key.
    upd2 = spark.createDataFrame([(10, "late2"), (12, "late2")],
                                 "k long, v string")
    with mock.patch.object(S, "_split_dirty_by_probe",
                           side_effect=make_interleaver(11)):
        with pytest.raises(S.SnapshotConflictError,
                           match="inside the band"):
            S.snapshot_merge(spark, t, upd2, "k")
    # the foreign in-band commit survived; a fresh merge now succeeds
    assert {r.k for r in S.snapshot_read(spark, t).collect()} >= {11}
    S.snapshot_merge(spark, t, upd2, "k")
    rows = {r.k: r.v for r in S.snapshot_read(spark, t).collect()}
    assert rows[10] == "late2" and rows[11] == "foreign" \
        and rows[100] == "foreign"


def test_snapshot_evolution_case_insensitive_and_merge_collision(
        spark, tmp_path):
    """r9 review fixes: (a) a case-variant of an existing column is the
    SAME column under Spark's case-insensitive resolution — matching
    types append cleanly under the prior casing, a type change still
    raises — never a union schema with both casings that breaks every
    later read; (b) snapshot_merge refuses a table that already has a
    'merge_action' column instead of silently dropping it with the
    synthetic audit column."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import snapshots as S

    t = str(tmp_path / "snap_case")
    S.snapshot_commit(
        spark, t, spark.range(3).select(F.col("id"),
                                        F.lit(1).alias("day")))
    # same column, case variant, same type → clean append, prior casing
    S.snapshot_commit(
        spark, t, spark.range(3, 5).select(F.col("id"),
                                           F.lit(2).alias("Day")))
    head = S.snapshot_read(spark, t)
    assert head.columns == ["id", "day"]
    assert head.count() == 5
    # case variant with a non-widenable type still raises pre-publish
    with pytest.raises(ValueError, match="not a lossless widening"):
        S.snapshot_commit(
            spark, t, spark.range(5, 6).select(
                F.col("id"), F.lit("x").alias("DAY")))

    t2 = str(tmp_path / "snap_collide")
    S.snapshot_commit(
        spark, t2, spark.range(2).select(F.col("id").alias("k"),
                                         F.lit("a").alias("merge_action")))
    with pytest.raises(ValueError, match="merge_action"):
        S.snapshot_merge(
            spark, t2,
            spark.range(1).select(F.col("id").alias("k"),
                                  F.lit("b").alias("merge_action")), "k")


def test_snapshot_multiprocess_occ_no_lost_update(spark, tmp_path):
    """The os.link put-if-absent claim is MULTI-PROCESS, not just
    multi-thread (a GIL can mask thread races): two OS processes race
    6 appends each through the real ``_publish_commit`` loop (data
    files written with pyarrow — the loop is the protocol; the Spark
    write has no concurrency surface). Every commit must win a
    contiguous version and the final table must hold every row from
    both writers."""
    import os
    import subprocess
    import sys

    from data_pipeline_stripe_spark.operators.snapshots import (
        snapshot_read, snapshot_versions)

    t = str(tmp_path / "snap_mp")
    os.makedirs(t)
    go = os.path.join(t, "_go")
    child = r"""
import os, sys, time
table_dir, offset, n, go = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
sys.path.insert(0, {repo!r})
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import LongType, StructField, StructType
from data_pipeline_stripe_spark.operators.snapshots import (
    _file_entries, _publish_commit)
schema = StructType([StructField("id", LongType(), True)])
while not os.path.exists(go):
    time.sleep(0.002)
for i in range(n):
    cid = f"w{{offset}}_{{i}}"
    rel = os.path.join("data", cid)
    os.makedirs(os.path.join(table_dir, rel))
    pq.write_table(
        pa.table({{"id": [offset + i * 10 + j for j in range(10)]}}),
        os.path.join(table_dir, rel, "part-0.parquet"))
    _publish_commit(table_dir, mode="append",
                    new_entries=_file_entries(table_dir, rel),
                    batch_schema=schema)
print("CHILD_OK")
""".format(repo=os.path.dirname(os.path.dirname(os.path.abspath(
        __file__))))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", child, t, str(off), "6", go],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for off in (0, 1000)
    ]
    with open(go, "w") as fh:
        fh.write("go")
    outs = [p.communicate(timeout=120) for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0 and "CHILD_OK" in out, (out, err)
    assert snapshot_versions(t) == list(range(12))
    rows = {r.id for r in snapshot_read(spark, t).collect()}
    expect = {off + i * 10 + j
              for off in (0, 1000) for i in range(6) for j in range(10)}
    assert rows == expect  # zero lost updates across process boundaries


def test_snapshot_timestamp_time_travel_boundaries(spark, tmp_path):
    """as_of resolution boundaries: exactly a commit's timestamp serves
    that commit; between two commits serves the earlier; before the
    first commit raises (serving the oldest instead would show rows
    that did not exist then); version+as_of together is an error."""
    import time

    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.snapshots import (
        _read_manifest, snapshot_commit, snapshot_read,
        snapshot_version_at)

    t = str(tmp_path / "snap_asof")
    snapshot_commit(spark, t, spark.range(5).select(F.col("id")))
    time.sleep(0.02)
    mid = time.time()
    time.sleep(0.02)
    snapshot_commit(spark, t, spark.range(5, 9).select(F.col("id")))

    t0 = _read_manifest(t, 0)["committed_at"]
    t1 = _read_manifest(t, 1)["committed_at"]
    assert snapshot_version_at(t, t0) == 0      # exact commit time
    assert snapshot_version_at(t, mid) == 0     # between commits
    assert snapshot_version_at(t, t1) == 1
    assert snapshot_version_at(t, time.time()) == 1
    with pytest.raises(ValueError, match="expired or predates"):
        snapshot_version_at(t, t0 - 10.0)       # before the first commit
    assert snapshot_read(spark, t, as_of=mid).count() == 5
    assert snapshot_read(spark, t, as_of=time.time()).count() == 9
    with pytest.raises(ValueError, match="not both"):
        snapshot_read(spark, t, version=0, as_of=mid)


def test_snapshot_type_widening_evolution(spark, tmp_path):
    """Lossless type widening under append evolution: int→long widens
    the committed schema (old int-written files upcast natively on
    read), a NARROWER append under a wider committed type stays at the
    wide type, float→double widens, and the lossy cases (long→double,
    int→string, double→float narrowing is fine — double wins) still
    raise pre-publish. History keeps each version's own schema."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.snapshots import (
        snapshot_commit, snapshot_read)

    t = str(tmp_path / "snap_widen")
    snapshot_commit(spark, t, spark.range(3).select(
        F.col("id").cast("int").alias("a"),
        F.col("id").cast("float").alias("f")))
    # int→long, float→double: committed schema widens
    snapshot_commit(spark, t, spark.range(3, 5).select(
        F.col("id").cast("long").alias("a"),
        F.col("id").cast("double").alias("f")))
    head = snapshot_read(spark, t)
    assert [f.dataType.simpleString() for f in head.schema.fields] == [
        "bigint", "double"]
    rows = {r.a: r.f for r in head.collect()}
    assert rows == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0, 4: 4.0}
    # narrower append under the widened schema: stays wide, values read
    snapshot_commit(spark, t, spark.range(5, 6).select(
        F.col("id").cast("short").alias("a"),
        F.col("id").cast("float").alias("f")))
    head = snapshot_read(spark, t)
    assert [f.dataType.simpleString() for f in head.schema.fields] == [
        "bigint", "double"]
    assert head.count() == 6
    # history: v0 keeps its own narrow schema
    v0 = snapshot_read(spark, t, version=0)
    assert [f.dataType.simpleString() for f in v0.schema.fields] == [
        "int", "float"]
    # long→double is lossy (53-bit mantissa): rejected
    with pytest.raises(ValueError, match="not a lossless widening"):
        snapshot_commit(spark, t, spark.range(1).select(
            F.col("id").cast("long").alias("a"),
            F.col("id").cast("long").alias("f")))
    # cross-family: rejected
    with pytest.raises(ValueError, match="not a lossless widening"):
        snapshot_commit(spark, t, spark.range(1).select(
            F.col("id").cast("string").alias("a"),
            F.col("id").cast("double").alias("f")))
    assert snapshot_read(spark, t).count() == 6  # nothing published


def test_snapshot_partial_merge_untouched_entries_identical(spark,
                                                            tmp_path):
    """Predicate-scoped copy-on-write: a merge whose update keys fall in
    ONE file's key band rewrites only that file — every other file's
    manifest entry (path AND stats) is carried forward byte-identical,
    and the merged rows equal the whole-table merge semantics."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import snapshots as S
    from data_pipeline_stripe_spark.operators.snapshot_check import (
        check_carried)

    t = str(tmp_path / "snap_cow")
    for lo in (0, 100, 200):
        S.snapshot_commit(
            spark, t,
            spark.range(lo, lo + 100, 2).coalesce(1).select(
                F.col("id").alias("k"),
                F.lit(f"band{lo}").alias("v")),
            mode="append")
    base_version = S.snapshot_current_version(t)
    assert len(S._read_manifest(t, base_version)["files"]) == 3

    upd = spark.createDataFrame(
        [(150, "upd"), (151, "new")], ["k", "v"])  # 150 exists, 151 odd
    version, merged = S.snapshot_merge(spark, t, upd, "k")
    post = S._read_manifest(t, version)
    # exactly the two untouched band files carried forward, IDENTICAL;
    # the dirty band's file was rewritten (not carried)
    check_carried(t, base_version, version, 2, context="partial merge")
    # semantics: update applied, insert landed, every other row intact
    rows = {r.k: r.v for r in S.snapshot_read(spark, t).collect()}
    assert rows[150] == "upd" and rows[151] == "new"
    assert rows[148] == "band100" and rows[0] == "band0"
    assert rows[298] == "band200"
    assert len(rows) == 151
    acts = {r.k: r.merge_action for r in merged.collect()}
    assert acts[150] == "updated" and acts[151] == "inserted"
    assert acts[0] == "kept" and len(acts) == 151
    # the commit recorded its row-level change log
    assert post["cdf_key"] == "k"
    assert post["changes"], "merge must record a change log"


def test_snapshot_apply_cdc_row_deletes_and_cdf_replay(spark, tmp_path):
    """Row-level DELETE through the table (WHEN MATCHED DELETE) +
    change-data-feed replay: a CDC batch with upserts and deletes is
    applied copy-on-write; the recorded change log carries the deleted
    row's OLD values; replaying the full CDF over the base version with
    apply_cdc reproduces the final table exactly — including across a
    compaction (empty change log) in the range; a plain overwrite in
    the range still raises."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import snapshots as S
    from data_pipeline_stripe_spark.operators.snapshot_check import (
        check_replay)

    t = str(tmp_path / "snap_cdc")
    S.snapshot_commit(
        spark, t,
        spark.range(10).coalesce(1).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("val")),
        mode="append")

    changes = spark.createDataFrame(
        [(3, 0, 1, "D"), (5, 555, 1, "U"), (20, 200, 1, "U"),
         (9, 0, 1, "D")],
        ["k", "val", "seq", "op"])
    version, applied = S.snapshot_apply_cdc(spark, t, changes, "k")
    rows = {r.k: r.val for r in S.snapshot_read(spark, t).collect()}
    assert 3 not in rows and 9 not in rows          # deletes applied
    assert rows[5] == 555 and rows[20] == 200       # update + insert
    assert rows[0] == 0 and len(rows) == 9

    # the change log holds the deletes with their OLD values
    feed = S.snapshot_read_cdf(spark, t, 0)
    by = {(r.k, r._change_type): r for r in feed.collect()}
    assert by[(3, "D")].val == 30 and by[(9, "D")].val == 90
    assert by[(5, "U")].val == 555 and by[(20, "I")].val == 200
    assert len(by) == 4  # untouched rows never enter the feed

    # CDF crosses a compaction (zero change rows) and further appends
    S.snapshot_compact(spark, t, target_files=1)
    S.snapshot_commit(spark, t, spark.createDataFrame(
        [(30, 300)], ["k", "val"]), mode="append")
    feed = S.snapshot_read_cdf(spark, t, 0)
    assert feed.filter(F.col("_commit_version") == 2).count() == 0
    assert {r.k for r in feed.filter(
        F.col("_change_type") == "I").collect()} == {20, 30}

    # replay: base(v0) + feed == final table
    check_replay(spark, t, "k", 0, context="cdf replay")

    # a plain overwrite records no change log → the feed refuses it
    S.snapshot_commit(spark, t, S.snapshot_read(spark, t),
                      mode="overwrite")
    with pytest.raises(ValueError, match="no recorded change log"):
        S.snapshot_read_cdf(spark, t, 0)
    # ...but a range strictly after it works
    assert S.snapshot_read_cdf(
        spark, t, S.snapshot_current_version(t)).count() == 0


def test_snapshot_partial_compaction_carries_clean_files(spark, tmp_path):
    """snapshot_compact(predicates=...) rewrites ONLY the files whose
    stats may match — the hot-partition OPTIMIZE: clean entries carry
    forward identically, rows are globally unchanged, and the compacted
    band shrinks to the target file count."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import snapshots as S
    from data_pipeline_stripe_spark.operators.snapshot_check import (
        check_carried)

    t = str(tmp_path / "snap_pcompact")
    # band 0: one file; band 200+: four small files
    S.snapshot_commit(spark, t, spark.range(100).coalesce(1).select(
        F.col("id")), mode="append")
    for lo in (200, 210, 220, 230):
        S.snapshot_commit(spark, t,
                          spark.range(lo, lo + 10).coalesce(1).select(
                              F.col("id")), mode="append")
    base_v = S.snapshot_current_version(t)
    version, before, after = S.snapshot_compact(
        spark, t, target_files=1, predicates=[("id", ">=", 200)])
    assert (before, after) == (5, 2)
    # the band-0 file, untouched
    check_carried(t, base_v, version, 1, context="partial compaction")
    assert S.snapshot_read(spark, t).count() == 140
    assert sorted(r.id for r in S.snapshot_read(spark, t).collect()) == (
        list(range(100)) + list(range(200, 240)))


def test_snapshot_decimal_and_date_widening(spark, tmp_path):
    """r10 widening legs: decimal digit growth (precision AND scale,
    while both integer digits and scale grow-or-hold) and
    date→timestamp_ntz are lossless and read natively; a union past 38
    digits and date→timestamp-WITH-timezone stay rejected pre-publish."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.types import DecimalType

    from data_pipeline_stripe_spark.operators.snapshots import (
        snapshot_commit, snapshot_read)

    t = str(tmp_path / "snap_widen2")
    snapshot_commit(spark, t, spark.range(1).select(
        F.lit("12.34").cast(DecimalType(5, 2)).alias("amt"),
        F.lit("2024-01-02").cast("date").alias("d")))
    # decimal(5,2)→decimal(12,3): precision + scale growth, int digits
    # grow too; date→timestamp_ntz
    snapshot_commit(spark, t, spark.range(1).select(
        F.lit("123456789.567").cast(DecimalType(12, 3)).alias("amt"),
        F.lit("2024-02-03T04:05:06").cast("timestamp_ntz").alias("d")))
    head = snapshot_read(spark, t)
    assert [f.dataType.simpleString() for f in head.schema.fields] == [
        "decimal(12,3)", "timestamp_ntz"]
    vals = {str(r.amt): str(r.d) for r in head.collect()}
    # the narrow file's values re-scale exactly (12.34 → 12.340) and
    # its date reads as midnight
    assert vals["12.340"] == "2024-01-02 00:00:00"
    # scale growth alone, int digits shrinking, is NOT widenable both
    # ways — the union keeps max of each: (12,3) + (6,5) → (12-3=9,
    # 5) = decimal(14,5), still lossless
    snapshot_commit(spark, t, spark.range(1).select(
        F.lit("1.23456").cast(DecimalType(6, 5)).alias("amt"),
        F.lit("2024-03-04").cast("date").alias("d")))
    head = snapshot_read(spark, t)
    assert head.schema.fields[0].dataType.simpleString() == "decimal(14,5)"
    assert head.count() == 3
    # union past 38 digits: rejected, nothing published
    with pytest.raises(ValueError, match="not a lossless widening"):
        snapshot_commit(spark, t, spark.range(1).select(
            F.lit("0.1").cast(DecimalType(38, 37)).alias("amt"),
            F.lit("2024-01-01").cast("date").alias("d")))
    # date→timestamp WITH timezone: rejected (session-zone-dependent)
    with pytest.raises(ValueError, match="not a lossless widening"):
        snapshot_commit(spark, t, spark.range(1).select(
            F.lit("1.0").cast(DecimalType(14, 5)).alias("amt"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("d")))
    assert snapshot_read(spark, t).count() == 3


def test_snapshot_merge_not_matched_by_source_delete(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE: scoped to a key band it
    deletes exactly the in-scope unmatched rows (audited 'deleted',
    logged as CDF 'D' rows with pre-delete values) and carries files
    outside both bands forward untouched; unscoped it is O(table) and
    deletes every unmatched row; an empty source with the clause clears
    the scope band; bad arguments raise."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import snapshots as S
    from data_pipeline_stripe_spark.operators.snapshot_check import (
        check_carried)

    t = str(tmp_path / "snap_nmbs")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 21)], "k int, val string")
    for lo, hi in ((1, 7), (8, 14), (15, 20)):
        S.snapshot_commit(
            spark, t,
            base.filter((F.col("k") >= lo) & (F.col("k") <= hi))
            .coalesce(1), mode="append")
    base_v = S.snapshot_current_version(t)
    upd = spark.createDataFrame(
        [(8, "u8"), (10, "u10"), (12, "u12")], "k int, val string")
    v, audit = S.snapshot_merge(
        spark, t, upd, "k",
        not_matched_by_source="delete", source_scope=(8, 14))
    got = sorted((r.k, r.val)
                 for r in S.snapshot_read(spark, t, version=v).collect())
    assert got == sorted(
        [(i, f"v{i}") for i in [*range(1, 8), *range(15, 21)]]
        + [(8, "u8"), (10, "u10"), (12, "u12")])
    acts = {r.k: r.merge_action for r in audit.collect()}
    assert acts[9] == "deleted" and acts[14] == "deleted"
    assert acts[8] == "updated" and acts[1] == "kept" and acts[20] == "kept"
    # files outside both bands carried forward byte-identical
    check_carried(t, base_v, v, 2, context="scoped delete clause")
    # deletes ride the change feed with their OLD values
    drows = sorted(
        (r.k, r.val)
        for r in S.snapshot_read_cdf(spark, t, from_version=v - 1,
                                     to_version=v)
        .filter("_change_type = 'D'").collect())
    assert drows == [(9, "v9"), (11, "v11"), (13, "v13"), (14, "v14")]
    # unscoped: every unmatched row in the table deletes
    t2 = str(tmp_path / "snap_nmbs_unscoped")
    S.snapshot_commit(spark, t2, base, mode="append")
    v2, _ = S.snapshot_merge(spark, t2, upd, "k",
                             not_matched_by_source="delete")
    assert sorted(r.k for r in
                  S.snapshot_read(spark, t2, version=v2).collect()) \
        == [8, 10, 12]
    # empty source + scoped clause clears the band (NOT a no-op)
    t3 = str(tmp_path / "snap_nmbs_empty")
    S.snapshot_commit(spark, t3, base, mode="append")
    empty = spark.createDataFrame([], "k int, val string")
    v3, _ = S.snapshot_merge(spark, t3, empty, "k",
                             not_matched_by_source="delete",
                             source_scope=(5, 10))
    assert sorted(r.k for r in
                  S.snapshot_read(spark, t3, version=v3).collect()) \
        == [*range(1, 5), *range(11, 21)]
    # argument validation
    with pytest.raises(ValueError, match="pass 'delete'"):
        S.snapshot_merge(spark, t3, upd, "k",
                         not_matched_by_source="update")
    with pytest.raises(ValueError, match="source_scope only scopes"):
        S.snapshot_merge(spark, t3, upd, "k", source_scope=(1, 2))


def test_snapshot_history_reports_modes_rows_and_legacy_null(spark,
                                                             tmp_path):
    """snapshot_history: per-version mode/n_files/n_rows/n_change_files
    from manifests alone; a stream-epoch commit flags from_stream_epoch;
    a manifest written before footer row counts were recorded (entries
    without 'rows') reports n_rows NULL instead of a wrong sum."""
    import json as js
    import os

    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import snapshots as S

    t = str(tmp_path / "snap_hist")
    base = spark.range(10).select(F.col("id").alias("k"),
                                  (F.col("id") * 2).alias("v"))
    S.snapshot_commit(spark, t, base.coalesce(1), mode="append")
    S.snapshot_commit(spark, t, base.selectExpr("k + 10 as k", "v")
                      .coalesce(1), mode="append", epoch_key="7")
    upd = spark.createDataFrame([(3, 999)], "k long, v long")
    S.snapshot_merge(spark, t, upd, "k")
    hist = {r.version: r for r in
            S.snapshot_history(spark, t).collect()}
    assert hist[0].mode == "append" and hist[0].n_rows == 10
    assert hist[0].n_change_files is None  # appends synthesize I rows
    assert hist[1].n_rows == 20 and hist[1].from_stream_epoch
    assert hist[2].mode == "rewrite" and hist[2].n_rows == 20
    # the flag marks the epoch commit ITSELF, not every descendant of
    # one (last_epoch is the inherited idempotence high-water mark;
    # history reads the per-commit epoch_key instead)
    assert not hist[0].from_stream_epoch and not hist[2].from_stream_epoch
    assert hist[2].n_change_files >= 1
    assert hist[2].parent == 1 and hist[0].parent is None
    # legacy manifest without row counts (segment descriptor carries
    # rows=None) → n_rows NULL
    p = os.path.join(t, "_snapshots", "v2.json")
    m = js.load(open(p))
    for seg in m["segments"]:
        seg["rows"] = None
    js.dump(m, open(p, "w"))
    hist2 = {r.version: r for r in
             S.snapshot_history(spark, t).collect()}
    assert hist2[2].n_rows is None and hist2[1].n_rows == 20


def test_snapshot_restore_files_history_and_cdf(spark, tmp_path):
    """snapshot_restore: the restore commit re-references the target
    version's files verbatim (no data movement), records the exact
    reverse change log when a key is given (so CDF consumers ride
    through), serves under the UNION schema when columns were added
    since the target, refuses out-of-range and expired targets, and
    with key=None records no log (CDF raises across the restore)."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import snapshots as S

    t = str(tmp_path / "snap_restore")
    S.snapshot_commit(spark, t, spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")))   # v0
    # append WITH an added column (evolution after the restore target)
    S.snapshot_commit(spark, t, spark.range(5, 8).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v"),
        F.lit("x").alias("tag")), mode="append")                  # v1
    v = S.snapshot_restore(spark, t, 0, key="k")                  # v2
    assert v == 2
    m0 = S._read_manifest(t, 0)["files"]
    m2 = S._read_manifest(t, 2)["files"]
    assert sorted(e["path"] for e in m2) == sorted(e["path"] for e in m0)
    head = S.snapshot_read(spark, t)
    # union schema: 'tag' survives the restore, NULL for restored rows
    assert [f.name for f in head.schema.fields] == ["k", "v", "tag"]
    rows = {(r.k, r.v, r.tag) for r in head.collect()}
    assert rows == {(i, i * 10, None) for i in range(5)}
    # pre-restore head stays travelable
    assert S.snapshot_read(spark, t, version=1).count() == 8
    # the restore's change log: D rows for the removed appended keys
    feed = S.snapshot_read_cdf(spark, t, from_version=1, to_version=2)
    assert sorted(r.k for r in
                  feed.filter("_change_type = 'D'").collect()) == [5, 6, 7]
    # out-of-range raises
    with pytest.raises(ValueError, match="out of range"):
        S.snapshot_restore(spark, t, 99, key="k")
    # key=None: no log recorded — CDF refuses the range
    v3 = S.snapshot_restore(spark, t, 1, key=None)
    with pytest.raises(ValueError, match="no recorded change log"):
        S.snapshot_read_cdf(spark, t, from_version=2,
                            to_version=v3).collect()


def test_snapshot_merge_not_matched_by_source_update(spark, tmp_path):
    """The UPDATE SET form of the not-matched-by-source clause: in-scope
    unmatched rows get the SET expressions applied (audited
    'updated_unmatched', logged as U rows), matched/inserted/out-of-
    scope rows follow the plain merge rules; setting an unknown column
    or the merge key raises, as does an empty SET dict."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import snapshots as S

    t = str(tmp_path / "snap_nmbs_upd")
    base = spark.createDataFrame(
        [(i, f"v{i}", "live") for i in range(1, 13)],
        "k int, val string, status string")
    S.snapshot_commit(spark, t, base, mode="append")
    upd = spark.createDataFrame(
        [(4, "u4", "live"), (13, "i13", "live")],
        "k int, val string, status string")
    v, audit = S.snapshot_merge(
        spark, t, upd, "k",
        not_matched_by_source={"status": F.lit("stale")},
        source_scope=(3, 6))
    rows = {r.k: (r.val, r.status)
            for r in S.snapshot_read(spark, t, version=v).collect()}
    assert rows[4] == ("u4", "live")       # matched: full-row update
    assert rows[13] == ("i13", "live")     # inserted
    assert rows[3] == ("v3", "stale")      # in-scope unmatched: SET
    assert rows[5] == ("v5", "stale")
    assert rows[2] == ("v2", "live")       # out of scope: untouched
    assert rows[12] == ("v12", "live")
    acts = {r.k: r.merge_action for r in audit.collect()}
    assert acts[3] == "updated_unmatched" and acts[4] == "updated"
    assert acts[13] == "inserted" and acts[2] == "kept"
    # the staleness flips ride the feed as U rows with new values
    urows = {r.k: r.status for r in S.snapshot_read_cdf(
        spark, t, from_version=v - 1, to_version=v)
        .filter("_change_type = 'U'").collect()}
    assert urows[3] == "stale" and urows[5] == "stale"
    # validation
    with pytest.raises(ValueError, match="not in the table"):
        S.snapshot_merge(spark, t, upd, "k",
                         not_matched_by_source={"nope": F.lit(1)})
    with pytest.raises(ValueError, match="must not rewrite the merge"):
        S.snapshot_merge(spark, t, upd, "k",
                         not_matched_by_source={"k": F.lit(0)})
    with pytest.raises(ValueError, match="empty UPDATE SET"):
        S.snapshot_merge(spark, t, upd, "k", not_matched_by_source={})


def test_snapshot_restore_refuses_expired_target(spark, tmp_path):
    """Restoring to a version whose manifest was expired raises the
    retention ValueError instead of crashing on the missing file; the
    still-retained versions restore fine afterwards."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import snapshots as S

    t = str(tmp_path / "snap_restore_exp")
    for lo in (0, 10, 20):
        S.snapshot_commit(spark, t, spark.range(lo, lo + 10).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
            mode="append")
    S.snapshot_expire(t, keep_last=2, tmp_grace_seconds=0.0)
    with pytest.raises(ValueError, match="expired"):
        S.snapshot_restore(spark, t, 0, key="k")
    v = S.snapshot_restore(spark, t, 1, key="k")
    assert S.snapshot_read(spark, t, version=v).count() == 20


def test_snapshot_merge_and_cdc_reject_all_null_keys(spark, tmp_path):
    """Review fix (r10): an all-NULL-key batch must fail closed, not
    read as 'empty' through the NULL-ignoring min/max band probe and
    silently no-op."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import snapshots as S

    t = str(tmp_path / "snap_nullkeys")
    S.snapshot_commit(spark, t, spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")))
    nulls = spark.createDataFrame(
        [(None, 1), (None, 2)], "k long, v long")
    with pytest.raises(ValueError, match="NULL key column"):
        S.snapshot_merge(spark, t, nulls, "k")
    cdc = spark.createDataFrame(
        [(None, 1, 1, "U")], "k long, v long, seq int, op string")
    with pytest.raises(ValueError, match="NULL key"):
        S.snapshot_apply_cdc(spark, t, cdc, "k")
    # a genuinely empty batch is still the documented no-op
    empty = spark.createDataFrame([], "k long, v long")
    v, audit = S.snapshot_merge(spark, t, empty, "k")
    assert v == 0 and audit.count() == 5


# ---------------------------------------------------------------------------
# r11: composite merge keys, replaceWhere, new pruning forms, clustering
# lineage — unit legs beneath the gated parity queries.
# ---------------------------------------------------------------------------
def test_merge_ops_composite_keys_roundtrip(spark):
    """merge_upsert / snapshot_diff / apply_cdc agree on a composite
    key: diff(old, new) replayed over old reproduces new exactly, and
    merge_upsert classifies matched-vs-inserted on the key TUPLE (a
    row sharing only one key column must insert, not update)."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators.merge import (
        apply_cdc, merge_upsert, snapshot_diff)

    old = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "a", 30)],
        "k1 long, k2 string, v long")
    new = spark.createDataFrame(
        [(1, "a", 11), (2, "a", 30), (2, "b", 99)],
        "k1 long, k2 string, v long")
    diff = snapshot_diff(old, new, ["k1", "k2"])
    ops = {(r.k1, r.k2): r.op for r in diff.collect()}
    assert ops == {(1, "a"): "U", (1, "b"): "D", (2, "b"): "I"}

    changes = diff.select(
        "k1", "k2", "v", F.lit(1).alias("seq"),
        F.when(F.col("op") == "D", "D").otherwise("U").alias("op"))
    replayed = apply_cdc(old, changes, ["k1", "k2"]).drop("cdc_action")
    assert sorted(map(tuple, replayed.collect())) == sorted(
        map(tuple, new.collect()))

    upd = spark.createDataFrame(
        [(1, "a", 99), (1, "z", 1)], "k1 long, k2 string, v long")
    merged = merge_upsert(old, upd, ["k1", "k2"])
    acts = {(r.k1, r.k2): r.merge_action for r in merged.collect()}
    assert acts[(1, "a")] == "updated"
    assert acts[(1, "z")] == "inserted"  # shares k1=1 but not k2
    assert acts[(1, "b")] == "kept"


def test_merge_key_validation():
    from data_pipeline_stripe_spark.operators.merge import _key_cols

    import pytest

    assert _key_cols("k") == ["k"]
    assert _key_cols(["a", "b"]) == ["a", "b"]
    with pytest.raises(ValueError, match="non-empty"):
        _key_cols([])
    with pytest.raises(ValueError, match="duplicate"):
        _key_cols(["a", "a"])


_NONULL = {"stats": {"c": {"min": 1, "max": 9, "nulls": 0}}}
_ALL_NULL = {"rows": 10, "stats": {"c": {"min": None, "max": None,
                                         "nulls": 10}}}
_CONST = {"rows": 4, "stats": {"c": {"min": 7, "max": 7, "nulls": 0}}}
_SEG = {"partition_bands": {"day": ["2024-01-03", "2024-01-05"]}}
_SEG_POINT = {"partition_bands": {"day": ["d", "d"]}}
_ISEG = {"partition_bands": {"kb": [2, 5]}}
_TUPLE = {"partition": {"day": "2024-01-03", "b": "2"}}


def _vote_row(name, entry, term, want):
    return pytest.param(entry, term, want, id=name)


@pytest.mark.parametrize("entry,term,want", [
    # footer stats: False prunes, None keeps — stats never vote True
    # (min/max exclude NULLs). is_null prunes only on a complete zero
    # null count; is_not_null only on a provably all-NULL file.
    _vote_row("stats-is_null-no-nulls", _NONULL, ("c", "is_null", None),
              False),
    _vote_row("stats-is_null-nulls", {"stats": {"c": {
        "min": 1, "max": 9, "nulls": 3}}}, ("c", "is_null", None), None),
    _vote_row("stats-is_null-unknown", {"stats": {"c": {
        "min": 1, "max": 9, "nulls": None}}}, ("c", "is_null", None), None),
    _vote_row("stats-is_null-no-stats", {}, ("c", "is_null", None), None),
    _vote_row("stats-in-hit", _NONULL, ("c", "in", [0, 5]), None),
    _vote_row("stats-in-miss", _NONULL, ("c", "in", [0, 10]), False),
    _vote_row("stats-in-empty", _NONULL, ("c", "in", []), False),
    _vote_row("stats-or-hit", _NONULL, [("c", "<", 0), ("c", ">", 5)],
              None),
    _vote_row("stats-or-miss", _NONULL, [("c", "<", 0), ("c", ">", 9)],
              False),
    _vote_row("stats-not_null-all-null", _ALL_NULL,
              ("c", "is_not_null", None), False),
    _vote_row("stats-not_null-some-null", {"rows": 10, "stats": {"c": {
        "min": 1, "max": 5, "nulls": 3}}}, ("c", "is_not_null", None),
        None),
    _vote_row("stats-not_null-unknown", {"rows": 10, "stats": {"c": {
        "min": 1, "max": 5, "nulls": None}}}, ("c", "is_not_null", None),
        None),
    _vote_row("stats-not_null-no-rows", {"stats": {"c": {
        "min": None, "max": None, "nulls": 10}}},
        ("c", "is_not_null", None), None),
    _vote_row("stats-neq-const-equal", _CONST, ("c", "!=", 7), False),
    _vote_row("stats-neq-const-other", _CONST, ("c", "!=", 8), None),
    _vote_row("stats-neq-banded", {"rows": 4, "stats": {"c": {
        "min": 1, "max": 9, "nulls": 0}}}, ("c", "!=", 7), None),
    _vote_row("stats-or-null-forms", _ALL_NULL,
              [("c", "is_not_null", None), ("c", "is_null", None)], None),
    # segment partition bands: True = every member matches, False =
    # none can, None = mixed / undecidable / type-mismatched literal
    # (string bands vote on strings, int bands on non-bool ints)
    _vote_row("seg-eq-below", _SEG, ("day", "=", "2024-01-01"), False),
    _vote_row("seg-eq-inside", _SEG, ("day", "=", "2024-01-04"), None),
    _vote_row("seg-eq-point", _SEG_POINT, ("day", "=", "d"), True),
    _vote_row("seg-lt-none", _SEG, ("day", "<", "2024-01-03"), False),
    _vote_row("seg-lt-every", _SEG, ("day", "<", "2024-01-06"), True),
    _vote_row("seg-ge-every", _SEG, ("day", ">=", "2024-01-03"), True),
    _vote_row("seg-gt-none", _SEG, ("day", ">", "2024-01-05"), False),
    _vote_row("seg-neq-outside", _SEG, ("day", "!=", "2024-01-09"), True),
    _vote_row("seg-neq-point", _SEG_POINT, ("day", "!=", "d"), False),
    _vote_row("seg-in-miss", _SEG, ("day", "in", ["2024-01-01",
                                                  "2024-01-09"]), False),
    _vote_row("seg-in-inside", _SEG, ("day", "in", ["2024-01-04"]), None),
    _vote_row("seg-is_null", _SEG, ("day", "is_null", None), False),
    _vote_row("seg-is_not_null", _SEG, ("day", "is_not_null", None), True),
    _vote_row("seg-or-every", _SEG, [("day", "<", "2024-01-01"),
                                     ("day", ">=", "2024-01-02")], True),
    _vote_row("seg-or-none", _SEG, [("day", "<", "2024-01-01"),
                                    ("day", ">", "2024-01-09")], False),
    _vote_row("seg-or-mixed", _SEG, [("day", "<", "2024-01-01"),
                                     ("day", "=", "2024-01-04")], None),
    _vote_row("seg-other-col", _SEG, ("other", "=", "x"), None),
    _vote_row("seg-int-literal", _SEG, ("day", "=", 5), None),
    _vote_row("seg-no-bands", {}, ("day", "=", "x"), None),
    _vote_row("iseg-eq-outside", _ISEG, ("kb", "=", 9), False),
    _vote_row("iseg-eq-inside", _ISEG, ("kb", "=", 3), None),
    _vote_row("iseg-eq-point", {"partition_bands": {"kb": [4, 4]}},
              ("kb", "=", 4), True),
    _vote_row("iseg-lt-none", _ISEG, ("kb", "<", 2), False),
    _vote_row("iseg-ge-every", _ISEG, ("kb", ">=", 2), True),
    _vote_row("iseg-in-miss", _ISEG, ("kb", "in", [0, 1]), False),
    _vote_row("iseg-in-inside", _ISEG, ("kb", "in", [0, 3]), None),
    _vote_row("iseg-str-literal", _ISEG, ("kb", "=", "3"), None),
    _vote_row("iseg-bool-literal", _ISEG, ("kb", "=", True), None),
    # partition tuples: exact; an int literal compares with the parsed
    # value, a str literal with the string, anything else is undecided
    _vote_row("tuple-in-hit", _TUPLE, ("day", "in", ["2024-01-03", "x"]),
              True),
    _vote_row("tuple-in-miss", _TUPLE, ("day", "in", ["nope"]), False),
    _vote_row("tuple-int-in-hit", _TUPLE, ("b", "in", [2, 7]), True),
    _vote_row("tuple-int-in-miss", _TUPLE, ("b", "in", [3, 7]), False),
    _vote_row("tuple-bool-in", _TUPLE, ("b", "in", [True]), None),
    _vote_row("tuple-int-lt", _TUPLE, ("b", "<", 10), True),
    _vote_row("tuple-str-lt", _TUPLE, ("b", "<", "10"), False),
    _vote_row("tuple-float", _TUPLE, ("day", "=", 1.5), None),
    _vote_row("tuple-unparsed-int", _TUPLE, ("day", "=", 3), None),
    _vote_row("tuple-is_not_null", _TUPLE, ("day", "is_not_null", None),
              True),
    # malformed terms raise, whichever source would answer
    _vote_row("bad-is_null-value", _NONULL, ("c", "is_null", 5),
              "is_null takes"),
    _vote_row("bad-is_not_null-value", _ALL_NULL, ("c", "is_not_null", 1),
              "is_not_null takes"),
    _vote_row("bad-in-null", _NONULL, ("c", "in", [1, None]),
              "NULL inside an IN"),
    _vote_row("bad-empty-or", _NONULL, [], "empty OR"),
    _vote_row("bad-tuple-is_null-value", _TUPLE, ("day", "is_null", 5),
              "is_null takes"),
    _vote_row("bad-seg-is_not_null-value", _SEG,
              ("day", "is_not_null", "x"), "is_not_null takes"),
    _vote_row("bad-later-disjunct", _NONULL,
              [("c", ">", 5), ("c", "is_null", 5)], "is_null takes"),
])
def test_term_vote(entry, term, want):
    """The one pruning vote, as a truth table: True = every row of the
    entry matches, False = none can, None = undecided; a string is the
    error a malformed term raises."""
    from data_pipeline_stripe_spark.operators.snapshots import _term_vote

    if isinstance(want, str):
        with pytest.raises(ValueError, match=want):
            _term_vote(entry, term)
    else:
        assert _term_vote(entry, term) is want


def test_snapshot_overwrite_where_validation(spark, tmp_path):
    """replaceWhere fails closed: empty predicate refused (that is a
    plain overwrite), schema mismatch refused, and a replacement row
    outside the predicate (or evaluating it to NULL) refused BEFORE
    any data is written — the table must be untouched after each."""
    import pytest
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import snapshots as S

    t = str(tmp_path / "rw")
    base = spark.range(10).select(F.col("id").alias("k"),
                                  (F.col("id") * 2).alias("v"))
    S.snapshot_commit(spark, t, base)
    repl = spark.range(3, 5).select(F.col("id").alias("k"),
                                    F.lit(0).cast("long").alias("v"))
    with pytest.raises(ValueError, match="empty predicate"):
        S.snapshot_overwrite_where(spark, t, [], repl)
    with pytest.raises(ValueError, match="columns"):
        S.snapshot_overwrite_where(
            spark, t, [("k", ">=", 3)], repl.withColumnRenamed("v", "x"))
    with pytest.raises(ValueError, match="outside the predicate"):
        S.snapshot_overwrite_where(spark, t, [("k", ">=", 4)], repl)
    # NULL predicate value on a replacement row is also a stray
    null_repl = spark.createDataFrame([(None, 0)], "k long, v long")
    with pytest.raises(ValueError, match="outside the predicate"):
        S.snapshot_overwrite_where(spark, t, [("k", ">=", 3)], null_repl)
    assert S.snapshot_current_version(t) == 0  # nothing committed

    # the happy path keeps dirty-file rows that do NOT match (file
    # granularity straddles) and deletes exactly the matching ones
    v, stats = S.snapshot_overwrite_where(spark, t, [("k", ">=", 3),
                                                     ("k", "<", 5)], repl)
    got = {r.k: r.v for r in S.snapshot_read(spark, t).collect()}
    assert got[3] == 0 and got[4] == 0 and got[2] == 4 and got[9] == 18
    assert len(got) == 10


def test_snapshot_cluster_lineage_and_compact(spark, tmp_path):
    """Lineage rules: a clustered commit records cluster_cols; plain
    appends inherit it; a plain overwrite clears it; compaction follows
    the lineage (preserving the layout)."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import snapshots as S

    t = str(tmp_path / "lineage")
    df = spark.range(100).select(F.col("id").alias("k"),
                                 (F.col("id") % 3).alias("v"))
    S.snapshot_commit_clustered(spark, t, df, ["k"], 4)
    assert S._read_manifest(t, 0)["cluster_cols"] == ["k"]
    S.snapshot_commit(spark, t, df.withColumn("k", F.col("k") + 100))
    assert S._read_manifest(t, 1)["cluster_cols"] == ["k"]  # inherited

    # clustered compact: file k-spans stay disjoint -> band scan prunes
    v, before, after = S.snapshot_compact(spark, t, target_files=4)
    kept, total = S.snapshot_pruned_files(t, [("k", "<=", 20)])
    assert total == 4 and len(kept) < total
    assert S._read_manifest(t, v)["cluster_cols"] == ["k"]

    # plain overwrite clears the lineage
    S.snapshot_commit(spark, t, df, mode="overwrite")
    head = S.snapshot_current_version(t)
    assert S._read_manifest(t, head)["cluster_cols"] is None


def test_global_row_number_and_ntile_match_naive(spark):
    """The two-phase global rank is bit-identical to the naive global
    window on a multi-column ordering with a descending leg."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from data_pipeline_stripe_spark.operators.packing import (
        global_ntile, global_row_number)

    df = spark.range(1000).select(
        (F.col("id") % 97).alias("a"), F.col("id").alias("b"))
    order = [F.col("a").desc(), F.col("b")]
    w = W.orderBy(*order)
    naive = df.select("a", "b", F.row_number().over(w).alias("rn"),
                      F.ntile(7).over(w).alias("t"))
    two_phase = global_ntile(df, order, 7, n_buckets=16, out_col="t")
    two_phase = global_row_number(two_phase, order, n_buckets=16,
                                  out_col="rn")
    n = naive.select("a", "b", "rn", "t")
    g = two_phase.select("a", "b", "rn",
                         F.col("t").cast("int").alias("t"))
    assert n.exceptAll(g).isEmpty() and g.exceptAll(n).isEmpty()
    # and for N < tiles, each row is its own tile
    tiny = spark.range(3).select(F.col("id").alias("b"))
    tiled = global_ntile(tiny, ["b"], 10, n_buckets=4)
    assert sorted(r.tile for r in tiled.collect()) == [1, 2, 3]


def test_rewrite_verbs_preserve_clustered_layout(spark, tmp_path):
    """MERGE (and by the same _write_data path, CDC and replaceWhere)
    into a CLUSTERED table re-clusters the rewritten band under the
    recorded lineage, so the post-merge file stats still prune —
    without it every copy-on-write verb would slowly round-robin the
    layout away."""
    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.operators import snapshots as S

    t = str(tmp_path / "cl_merge")
    df = spark.range(1000).select(F.col("id").alias("k"),
                                  (F.col("id") * 2).alias("v"))
    S.snapshot_commit_clustered(spark, t, df, ["k"], 8)
    # merge touches the whole key span -> every file dirty -> full
    # rewrite; layout preservation is what keeps pruning alive
    upd = df.filter(F.col("k") % 100 == 0).withColumn("v", F.lit(0))
    v, _ = S.snapshot_merge(spark, t, upd, "k")
    kept, total = S.snapshot_pruned_files(t, [("k", "<", 100)])
    assert total >= 4 and len(kept) < total, (len(kept), total)
    assert S._read_manifest(t, v)["cluster_cols"] == ["k"]
    got = S.snapshot_read(spark, t)
    assert got.filter("v = 0").count() == 10
    assert got.count() == 1000


def test_manifest_segments_chunking_rollup_and_expire(spark, tmp_path):
    """r12 hierarchical manifests, the metadata-layer units:
    _write_segments chunks at _SEGMENT_MAX_ENTRIES and rolls up
    column stats under the same completeness rules as file stats
    (one statless member kills the band; one None null-count kills
    the null sum); snapshot_expire sweeps exactly the segment files
    no surviving manifest references; snapshot_restore ADOPTS the
    target's segments by reference (zero re-serialization)."""
    import os

    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "segs")
    os.makedirs(t)

    # chunking + rollup on synthetic entries (no parquet needed)
    entries = [{"path": f"data/x/{i}.parquet",
                "stats": {"k": {"min": i, "max": i + 1, "nulls": 0}},
                "rows": 10, "bytes": 100}
               for i in range(S._SEGMENT_MAX_ENTRIES + 3)]
    descs = S._write_segments(t, entries)
    assert [d["n_files"] for d in descs] == [S._SEGMENT_MAX_ENTRIES, 3]
    assert descs[0]["stats"]["k"]["min"] == 0
    assert descs[0]["stats"]["k"]["max"] == S._SEGMENT_MAX_ENTRIES
    assert descs[1]["rows"] == 30 and descs[1]["bytes"] == 300
    back = [e for d in descs for e in S._segment_entries(t, d)]
    assert back == entries

    # rollup completeness: a statless member kills the band, a None
    # null count kills the sum — never a wrong tighter rollup
    r = S._segment_rollup([
        {"stats": {"k": {"min": 1, "max": 2, "nulls": 3}}},
        {"stats": {"k": {"min": None, "max": None, "nulls": None}}},
    ])
    assert "k" not in r or (r["k"]["min"] is None
                            and r["k"]["nulls"] is None)
    r2 = S._segment_rollup([
        {"stats": {"k": {"min": 1, "max": 2, "nulls": 3}}},
        {"stats": {}},  # column absent entirely
    ])
    assert "k" not in r2 or (r2["k"]["min"] is None
                             and r2["k"]["nulls"] is None)

    # expire: segments of expired-only versions swept, survivors kept
    t2 = str(tmp_path / "table")
    df = spark.range(9).select(F.col("id").alias("k"))
    for i in range(3):
        S.snapshot_commit(spark, t2, df.filter(F.col("k") % 3 == i)
                          .coalesce(1))
    # an overwrite makes v0/v1's segments unreferenced by v3+
    S.snapshot_commit(spark, t2, df.coalesce(1), mode="overwrite")
    segs_before = set(os.listdir(os.path.join(t2, S._SEGMENT_DIR)))
    out = S.snapshot_expire(t2, keep_last=1, tmp_grace_seconds=0)
    head = S.snapshot_current_version(t2)
    live = {os.path.basename(s["path"]) for s in
            S._read_manifest_meta(t2, head)["segments"]}
    segs_after = set(os.listdir(os.path.join(t2, S._SEGMENT_DIR)))
    assert segs_after == live  # exactly the referenced ones survive
    assert out["deleted_segments"] and segs_before - segs_after
    assert S.snapshot_read(spark, t2).count() == 9

    # restore adopts the target's segment descriptors verbatim
    t3 = str(tmp_path / "restore")
    S.snapshot_commit(spark, t3, df.filter("k < 5").coalesce(1))
    S.snapshot_commit(spark, t3, df.filter("k >= 5").coalesce(1))
    target_segs = [s["path"] for s in S._read_manifest_meta(t3, 0)
                   ["segments"]]
    v = S.snapshot_restore(spark, t3, 0)
    restored = [s["path"] for s in S._read_manifest_meta(t3, v)
                ["segments"]]
    assert restored == target_segs
    assert S.snapshot_read(spark, t3).count() == 5


def test_deletion_vectors_merge_on_read(spark, tmp_path):
    """r12 deletion vectors, the unit legs under the gated query:
    byte-identity of every data file across deletes, supersession on
    overlapping deletes, plan-level anti-filtering through
    snapshot_scan, CDF D-rows, compaction materialization, and the
    empty-match no-op (no version burned)."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "dv")
    df = spark.range(100).select(F.col("id").alias("k"),
                                 (F.col("id") % 7).alias("v"))
    S.snapshot_commit(spark, t, df.filter("k < 50").coalesce(2))
    S.snapshot_commit(spark, t, df.filter("k >= 50").coalesce(2))

    def shas():
        out = {}
        for root, _, files in os.walk(os.path.join(t, "data")):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = hashlib.sha1(open(p, "rb").read()).hexdigest()
        return out

    pre = shas()
    v, info = S.snapshot_delete_where(
        spark, t, [("k", ">=", 10), ("k", "<", 20)], key="k")
    assert info["rows_deleted"] == 10 and info["files_rewritten"] == 0
    assert shas() == pre
    assert S.snapshot_read(spark, t).count() == 90
    assert S.snapshot_read(spark, t, version=1).count() == 100

    # overlapping second delete: superseded vector = old ∪ new
    v2, info2 = S.snapshot_delete_where(
        spark, t, [("k", ">=", 15), ("k", "<", 60)], key="k")
    assert info2["rows_deleted"] == 40
    assert S.snapshot_read(spark, t).count() == 50
    assert shas() == pre
    # an entry carries at most ONE vector
    for e in S._read_manifest(t, v2)["files"]:
        assert isinstance(e.get("dv"), (dict, type(None)))

    # scan applies vectors after stats pruning
    assert S.snapshot_scan(
        spark, t, [("k", ">=", 0), ("k", "<", 70)]).count() == 20

    # CDF: exactly the 50 deleted rows as D, old values, no re-logs
    feed = S.snapshot_read_cdf(spark, t, 1)
    assert feed.count() == 50
    assert feed.filter(F.col("_change_type") != "D").count() == 0
    assert {r.k for r in feed.collect()} == set(range(10, 60))

    # empty-match delete: no commit
    head = S.snapshot_current_version(t)
    v3, info3 = S.snapshot_delete_where(
        spark, t, [("k", ">=", 5000)], key="k")
    assert v3 == head and info3["rows_deleted"] == 0

    # compaction materializes the vectors away
    v4, _, _ = S.snapshot_compact(spark, t, target_files=2)
    assert all(not e.get("dv")
               for e in S._read_manifest(t, v4)["files"])
    assert S.snapshot_read(spark, t).count() == 50


def test_partition_spec_commit_prune_drop_and_gc(spark, tmp_path):
    """r12 partition specs: hidden-partitioning commit (source columns
    stay in data, derived __part_* dirs carry the tuple), exact scan
    pruning on partition fields (including bucket:<n>), metadata-only
    snapshot_drop_partitions, file-level expire GC, and the
    mixed-generation refusal."""
    import pytest
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "pt")
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.expr("timestamp'2024-01-01 00:00:00' + "
               "make_interval(0,0,0,CAST(id % 5 AS INT),0,0,0)")
        .alias("ts"),
        (F.col("id") % 7).alias("v"))
    spec = [{"name": "day", "source": "ts", "transform": "day"}]
    S.snapshot_commit_partitioned(spark, t, df.filter("k < 150"), spec)
    S.snapshot_commit_partitioned(spark, t, df.filter("k >= 150"),
                                  spec, mode="append")
    m = S._read_manifest(t, 1)
    assert m["partition_spec"] == spec
    # data files keep the source columns, not the derived one
    assert set(S.snapshot_read(spark, t).columns) == {"k", "ts", "v"}
    day3 = {e["path"] for e in m["files"]
            if e["partition"]["day"] == "2024-01-03"}
    kept, total = S.snapshot_pruned_files(t, [("day", "=",
                                               "2024-01-03")])
    assert set(kept) == day3 and len(kept) < total
    expect = df.filter(
        F.date_format("ts", "yyyy-MM-dd") == "2024-01-03").count()
    assert S.snapshot_scan(
        spark, t, [("day", "=", "2024-01-03")]).count() == expect
    # range terms are exact too (ISO day strings order)
    assert S.snapshot_scan(spark, t, [("day", ">=", "2024-01-04")]) \
        .count() == df.filter(
            F.date_format("ts", "yyyy-MM-dd") >= "2024-01-04").count()

    # metadata-only retirement + CDF + file-level GC
    v, info = S.snapshot_drop_partitions(
        spark, t, [("day", "<", "2024-01-03")], key="k")
    assert info["files_dropped"] > 0
    assert S.snapshot_read(spark, t).count() == df.filter(
        F.date_format("ts", "yyyy-MM-dd") >= "2024-01-03").count()
    assert S.snapshot_read(spark, t, version=1).count() == 300
    feed = S.snapshot_read_cdf(spark, t, 1)
    assert feed.count() == info["rows_dropped"]
    out = S.snapshot_expire(t, keep_last=1, tmp_grace_seconds=0)
    assert len(out["deleted_files"]) == info["files_dropped"]
    assert S.snapshot_read(spark, t).count() == df.filter(
        F.date_format("ts", "yyyy-MM-dd") >= "2024-01-03").count()

    # a plain (un-tupled) append makes the scan MIXED-GENERATION
    # (r13): tupled entries prune exactly, the un-tupled generation is
    # row-filtered through the spec's inverse on the source column
    S.snapshot_commit(spark, t, df.filter("k < 10").coalesce(1),
                      mode="append")
    mixed_expect = (df.filter(
        F.date_format("ts", "yyyy-MM-dd") == "2024-01-04").count()
        + df.filter((F.date_format("ts", "yyyy-MM-dd") == "2024-01-04")
                    & (F.col("k") < 10)).count())
    assert S.snapshot_scan(
        spark, t, [("day", "=", "2024-01-04")]).count() == mixed_expect
    # undecidable literal types still refuse
    with pytest.raises(ValueError, match="not decidable"):
        S.snapshot_scan(spark, t, [("day", "=", 1.5)]).count()
    # ... and drop never touches what it cannot prove: the TUPLED
    # day-04 rows all drop; the plain append's (duplicate, un-tupled)
    # day-04 rows survive
    v2, info2 = S.snapshot_drop_partitions(
        spark, t, [("day", "=", "2024-01-04")])
    all_day4 = df.filter(
        F.date_format("ts", "yyyy-MM-dd") == "2024-01-04").count()
    untupled_day4 = df.filter(
        (F.date_format("ts", "yyyy-MM-dd") == "2024-01-04")
        & (F.col("k") < 10)).count()
    assert info2["rows_dropped"] == all_day4
    assert S.snapshot_read(spark, t).filter(
        F.date_format("ts", "yyyy-MM-dd") == "2024-01-04"
    ).count() == untupled_day4

    # bucket transform: deterministic crc32 buckets, exact equality
    t2 = str(tmp_path / "ptb")
    S.snapshot_commit_partitioned(
        spark, t2, df, [{"name": "kb", "source": "k",
                         "transform": "bucket:4"}])
    kept2, total2 = S.snapshot_pruned_files(t2, [("kb", "=", 2)])
    assert 0 < len(kept2) < total2
    assert S.snapshot_scan(spark, t2, [("kb", "=", 2)]).count() == \
        df.filter(F.pmod(F.crc32(F.col("k").cast("string")),
                         F.lit(4)) == 2).count()


def test_segment_partition_bands_skip_unopened(spark, tmp_path):
    """r12 partition-band fast path: a partition-field scan must skip
    whole segments whose recorded tuple bands prove no member matches
    — counted by monkeypatching the segment reader — while numeric
    bucket fields stay undecidable at segment level (lexicographic
    strings) and open conservatively."""
    from unittest import mock

    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    # force one segment per small group of files
    t = str(tmp_path / "bands")
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.expr("timestamp'2024-01-01 00:00:00' + "
               "make_interval(0,0,0,CAST(id % 6 AS INT),0,0,0)")
        .alias("ts"))
    spec = [{"name": "day", "source": "ts", "transform": "day"}]
    day = F.date_format("ts", "yyyy-MM-dd")
    # three appends of two days each -> three segments with disjoint
    # day bands
    for lo, hi in (("2024-01-01", "2024-01-02"),
                   ("2024-01-03", "2024-01-04"),
                   ("2024-01-05", "2024-01-06")):
        S.snapshot_commit_partitioned(
            spark, t,
            df.filter(day.between(lo, hi)).repartition(2, day), spec)
    m = S._read_manifest_meta(t, 2)
    assert all("partition_bands" in s for s in m["segments"])

    opens = []
    real = S._segment_entries

    def count(table_dir, desc):
        opens.append(desc["path"])
        return real(table_dir, desc)

    with mock.patch.object(S, "_segment_entries", side_effect=count):
        stats = S.snapshot_plan_stats(t, [("day", "=", "2024-01-03")])
    assert stats["segments_opened"] == 1 and stats["segments_total"] == 3
    assert len(opens) == 1  # the two out-of-band segments never opened
    n = S.snapshot_scan(spark, t, [("day", "=", "2024-01-03")]).count()
    assert n == df.filter(day == "2024-01-03").count()

    # the metadata-only drop also skips unopened segments
    opens.clear()
    with mock.patch.object(S, "_segment_entries", side_effect=count):
        v, info = S.snapshot_drop_partitions(
            spark, t, [("day", "<", "2024-01-03")])
    assert info["files_dropped"] > 0
    assert len(opens) == 1, opens

    # numeric bucket fields: INT bands (r13) vote too — an
    # out-of-range bucket literal skips segments unopened
    t2 = str(tmp_path / "bandsb")
    S.snapshot_commit_partitioned(
        spark, t2, df, [{"name": "kb", "source": "k",
                         "transform": "bucket:4"}])
    assert S.snapshot_scan(spark, t2, [("kb", "=", 2)]).count() == \
        df.filter(F.pmod(F.crc32(F.col("k").cast("string")),
                         F.lit(4)) == 2).count()
    m2 = S._read_manifest_meta(t2, 0)
    assert all(isinstance(s["partition_bands"]["kb"][0], int)
               for s in m2["segments"])
    stats2 = S.snapshot_plan_stats(t2, [("kb", "=", 99)])
    assert stats2["segments_opened"] == 0 and stats2["files_kept"] == 0


def test_hidden_partitioning_source_predicate_derivation(spark, tmp_path):
    """r12 hidden partitioning: a SOURCE-column predicate implies a
    partition-field term. The decisive case is bucket:<n> — per-file
    key stats span the whole range (hash scatter), so ONLY the derived
    bucket term can prune — and the SQL surface gets it through
    pushFilters without ever naming the hidden field."""
    import zlib

    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S
    from data_pipeline_stripe_spark.sources.snapshot_source import \
        register_snapshot_source

    t = str(tmp_path / "hp")
    df = spark.range(400).select(F.col("id").alias("k"),
                                 (F.col("id") % 9).alias("v"))
    S.snapshot_commit_partitioned(
        spark, t, df, [{"name": "kb", "source": "k",
                        "transform": "bucket:8"}])
    target = 137
    bucket = zlib.crc32(str(target).encode()) % 8
    kept, total = S.snapshot_pruned_files(t, [("k", "=", target)])
    m = S._read_manifest(t, 0)
    bucket_files = {e["path"] for e in m["files"]
                    if e["partition"]["kb"] == str(bucket)}
    other_bucket_files = total - len(bucket_files)
    # the derived bucket term must drop EVERY other bucket's file
    # (k stats may prune further within the bucket — ids are
    # contiguous per task, so per-file bands are tight)
    assert set(kept) <= bucket_files and 0 < len(kept)
    assert len(kept) <= total - other_bucket_files
    got = S.snapshot_scan(spark, t, [("k", "=", target)]).collect()
    assert len(got) == 1 and got[0]["k"] == target
    # IN derives too
    kept_in, _ = S.snapshot_pruned_files(t, [("k", "in", [7, 137])])
    assert len(kept_in) < total
    assert S.snapshot_scan(spark, t, [("k", "in", [7, 137])]) \
        .count() == 2

    # day transform: ts range terms prune via the derived day band
    t2 = str(tmp_path / "hpday")
    df2 = spark.range(300).select(
        F.col("id").alias("k"),
        F.expr("timestamp'2024-01-01 00:00:00' + "
               "make_interval(0,0,0,CAST(id % 6 AS INT),0,0,0)")
        .alias("ts"))
    day = F.date_format("ts", "yyyy-MM-dd")
    S.snapshot_commit_partitioned(
        spark, t2, df2.repartition(6, day),
        [{"name": "day", "source": "ts", "transform": "day"}])
    kept2, total2 = S.snapshot_pruned_files(
        t2, [("ts", ">=", "2024-01-05T00:00:00")])
    assert 0 < len(kept2) < total2
    n = S.snapshot_scan(spark, t2,
                        [("ts", ">=", "2024-01-05T00:00:00")]).count()
    assert n == df2.filter(day >= "2024-01-05").count()

    # pure SQL on the bucket table: WHERE k = <target> plans only the
    # bucket's files through the pushdown reader
    register_snapshot_source(spark)
    from pyspark.sql.datasource import EqualTo

    from data_pipeline_stripe_spark.sources.snapshot_source import \
        SnapshotTablePushdownReader

    schema = S.snapshot_read(spark, t).schema
    probe = SnapshotTablePushdownReader({"path": t}, schema)
    list(probe.pushFilters([EqualTo(("k",), target)]))
    planned = {p.rel_path for p in probe.partitions()
               if p.abs_path is not None}
    assert planned and planned <= bucket_files
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW hp_sql USING snapshot_table "
        f"OPTIONS (path '{t}', pushdown 'true')")
    rows = spark.sql(
        f"SELECT k, v FROM hp_sql WHERE k = {target}").collect()
    assert len(rows) == 1 and rows[0]["k"] == target


def test_base_version_rebase_across_rewrite_verbs(spark, tmp_path):
    """r12 conflict narrowing through every rewrite verb's
    base_version API: a delete derived from a stale read rebases over
    a disjoint interleaved append (the appended rows survive, the
    deleted band drops), and an in-band interleave still aborts; a
    stale predicate-scoped compact rebases too."""
    import pytest
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "bv")
    df = spark.range(100).select(F.col("k") if False else
                                 F.col("id").alias("k"),
                                 (F.col("id") % 5).alias("v"))
    S.snapshot_commit(spark, t, df.filter("k < 50").coalesce(1))
    S.snapshot_commit(spark, t, df.filter("k >= 50").coalesce(1))
    read_v = S.snapshot_current_version(t)

    # disjoint append interleaves; the stale-read DV delete rebases
    S.snapshot_commit(
        spark, t,
        spark.range(1000, 1010).select(F.col("id").alias("k"),
                                       F.lit(9).alias("v")).coalesce(1))
    v, info = S.snapshot_delete_where(
        spark, t, [("k", ">=", 10), ("k", "<", 20)], key="k",
        base_version=read_v)
    assert v == read_v + 2 and info["rows_deleted"] == 10
    got = S.snapshot_read(spark, t)
    assert got.count() == 100  # 100 base - 10 deleted + 10 appended
    assert got.filter("k >= 1000").count() == 10

    # in-band interleave -> the stale delete aborts (the predicate is
    # dirty at its base — k >= 1000 matches the appended 1000s band —
    # AND the interleaved 2000s append falls inside it, so the serial
    # order cannot be reproduced by carrying it)
    stale = S.snapshot_current_version(t)
    S.snapshot_commit(
        spark, t,
        spark.range(2000, 2005).select(F.col("id").alias("k"),
                                       F.lit(8).alias("v")).coalesce(1))
    with pytest.raises(S.SnapshotConflictError):
        S.snapshot_delete_where(spark, t, [("k", ">=", 1000)],
                                key="k", base_version=stale)

    # stale predicate-scoped compact rebases over the disjoint append
    stale2 = S.snapshot_current_version(t)
    S.snapshot_commit(
        spark, t,
        spark.range(3000, 3005).select(F.col("id").alias("k"),
                                       F.lit(7).alias("v")).coalesce(1))
    v2, before, after = S.snapshot_compact(
        spark, t, target_files=2, predicates=[("k", "<", 100)],
        base_version=stale2)
    assert v2 == S.snapshot_current_version(t)
    assert S.snapshot_read(spark, t).filter("k >= 3000").count() == 5
    assert S.snapshot_read(spark, t).count() == 110


def test_compact_manifests_collapses_segments_without_touching_data(
        spark, tmp_path):
    """r12 rewrite-manifests: many tiny per-epoch segments collapse
    into full-size ones as a pure metadata commit — every data file
    byte-identical, the entry SET identical (dv refs and partition
    tuples carried), CDF passes through with zero rows, reads exact,
    and expire sweeps the orphaned tiny segment files."""
    import os

    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "cm")
    df = spark.range(120).select(F.col("id").alias("k"),
                                 (F.col("id") % 3).alias("v"))
    for i in range(12):  # 12 tiny band appends -> 12 tiny segments
        S.snapshot_commit(
            spark, t,
            df.filter((F.col("k") >= i * 10) & (F.col("k") < (i + 1) * 10))
            .coalesce(1), mode="append", epoch_key=str(i))
    # a DV so carried entries include a vector reference
    S.snapshot_delete_where(spark, t, [("k", ">=", 100)], key="k")
    head = S.snapshot_current_version(t)
    pre = S._read_manifest(t, head)

    def persisted(entries):
        # the transient _seq annotation coarsens to the group minimum
        # on re-chunk (delete-applicability classes, r13) — compare
        # the PERSISTED entry content
        return {e["path"]: {k: v for k, v in e.items() if k != "_seq"}
                for e in entries}

    pre_entries = persisted(pre["files"])
    n_segs_before = len(pre["segments"])
    assert n_segs_before >= 10  # tiny appends minus the delete's merge

    v = S.snapshot_compact_manifests(t)
    assert v == head + 1
    post = S._read_manifest(t, v)
    assert len(post["segments"]) < n_segs_before
    assert persisted(post["files"]) == pre_entries
    assert S.snapshot_read(spark, t).count() == 100  # 120 - 20 deleted
    # epoch idempotence high-water mark survives the metadata rewrite
    assert post["last_epoch"] == pre["last_epoch"]
    # CDF passes through with zero rows from the metadata commit
    assert S.snapshot_read_cdf(spark, t, head).count() == 0
    # re-running is a no-op (single full segment + remainder at most)
    assert S.snapshot_compact_manifests(t) in (v, v + 1)
    # expire sweeps the orphaned tiny segment files, keeps the new ones
    out = S.snapshot_expire(t, keep_last=1, tmp_grace_seconds=0)
    live = {os.path.basename(s["path"])
            for s in S._read_manifest_meta(
                t, S.snapshot_current_version(t))["segments"]}
    on_disk = set(os.listdir(os.path.join(t, S._SEGMENT_DIR)))
    assert on_disk == live and out["deleted_segments"]
    assert S.snapshot_read(spark, t).count() == 100


def test_check_constraints_enforced_across_verbs(spark, tmp_path):
    """r12 CHECK constraints (Delta ADD CONSTRAINT semantics): the add
    is a metadata-only commit that validates the existing head
    fail-closed; every data-adding verb then aborts on a FALSE row
    (NULL passes — SQL CHECK's unknown-passes rule); drop removes
    enforcement; constraints survive overwrites."""
    import pytest
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "ck")
    df = spark.range(50).select(F.col("id").alias("k"),
                                (F.col("id") * 10).alias("cents"))
    S.snapshot_commit(spark, t, df.coalesce(1))
    pre_segs = [s["path"] for s in S._read_manifest_meta(t, 0)["segments"]]
    v = S.snapshot_add_constraint(spark, t, "nonneg", "cents >= 0")
    m = S._read_manifest_meta(t, v)
    assert m["constraints"] == {"nonneg": "cents >= 0"}
    assert [s["path"] for s in m["segments"]] == pre_segs  # metadata-only
    assert S.snapshot_read_cdf(spark, t, 0).count() == 0

    # a violating append aborts BEFORE publication — no new version
    bad = spark.createDataFrame([(999, -5)], "k long, cents long")
    with pytest.raises(ValueError, match="nonneg"):
        S.snapshot_commit(spark, t, bad.coalesce(1))
    assert S.snapshot_current_version(t) == v
    # NULL passes (SQL CHECK unknown-passes)
    nullish = spark.createDataFrame([(1000, None)], "k long, cents long")
    v2 = S.snapshot_commit(spark, t, nullish.coalesce(1))
    assert v2 == v + 1

    # MERGE with a violating update aborts; a clean one passes
    with pytest.raises(ValueError, match="nonneg"):
        S.snapshot_merge(
            spark, t,
            spark.createDataFrame([(3, -1)], "k long, cents long"), "k")
    S.snapshot_merge(
        spark, t,
        spark.createDataFrame([(3, 777)], "k long, cents long"), "k")

    # a second constraint whose head already violates is refused
    with pytest.raises(ValueError, match="violates"):
        S.snapshot_add_constraint(spark, t, "small", "cents < 100")
    # duplicate name refused; unknown drop refused
    with pytest.raises(ValueError, match="already exists"):
        S.snapshot_add_constraint(spark, t, "nonneg", "cents >= 0")
    with pytest.raises(ValueError, match="no constraint"):
        S.snapshot_drop_constraint(t, "nope")

    # constraints survive a plain overwrite (table property) and
    # the overwrite itself is validated
    with pytest.raises(ValueError, match="nonneg"):
        S.snapshot_commit(spark, t, bad.coalesce(1), mode="overwrite")
    S.snapshot_commit(spark, t, df.coalesce(1), mode="overwrite")
    head_m = S._read_manifest_meta(t, S.snapshot_current_version(t))
    assert head_m["constraints"] == {"nonneg": "cents >= 0"}

    # drop -> the violating append now lands
    S.snapshot_drop_constraint(t, "nonneg")
    S.snapshot_commit(spark, t, bad.coalesce(1))
    assert S.snapshot_read(spark, t).filter("cents < 0").count() == 1


def test_delete_where_on_partitioned_table(spark, tmp_path):
    """Regression (ADVICE r12 high): deletion-vector path extraction
    must handle partitioned layouts, whose files live at
    data/<cid>/__part_x=v/part-*.parquet (4+ components). The old
    fixed-depth regex yielded '' there, recorded positions under path
    '', attached the vector to NO entry — and still published with
    rows_deleted > 0 and a D-row log while every row silently
    survived."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "pdv")
    df = spark.range(200).select(
        F.col("id").alias("k"),
        F.expr("timestamp'2024-01-01 00:00:00' + "
               "make_interval(0,0,0,CAST(id % 4 AS INT),0,0,0)")
        .alias("ts"),
        (F.col("id") * 10).alias("v"))
    spec = [{"name": "day", "source": "ts", "transform": "day"}]
    S.snapshot_commit_partitioned(spark, t, df, spec)
    v, info = S.snapshot_delete_where(
        spark, t, [("k", ">=", 50), ("k", "<", 80)], key="k")
    assert info["rows_deleted"] == 30
    assert info["files_rewritten"] == 0
    # rows are REALLY gone from every read path
    assert S.snapshot_read(spark, t).count() == 170
    assert S.snapshot_read(spark, t).filter(
        (F.col("k") >= 50) & (F.col("k") < 80)).count() == 0
    # the vector attached to real entries (not to path '')
    m = S._read_manifest(t, v)
    assert all(e["path"] for e in m["files"])
    dv_entries = [e for e in m["files"] if e.get("dv")]
    assert dv_entries
    # CDF D rows match, partition-field pruning still exact after
    feed = S.snapshot_read_cdf(spark, t, v - 1)
    assert feed.count() == 30
    assert set(feed.select("_change_type").distinct().toPandas()
               ["_change_type"]) == {"D"}
    # a second, overlapping delete supersedes cleanly on the same files
    v2, info2 = S.snapshot_delete_where(
        spark, t, [("k", ">=", 70), ("k", "<", 90)], key="k")
    assert info2["rows_deleted"] == 10  # 70..79 already gone
    assert S.snapshot_read(spark, t).count() == 160


def test_partition_term_match_in_reachable(spark, tmp_path):
    """Regression (ADVICE r12 medium): the IN branch of the partition
    tuple evaluation ran after a scalar-type guard that returned None
    for lists — so partition-field IN never pruned, never dropped, and
    snapshot_scan always raised the no-tuple error. The tuple votes
    themselves are rows of ``test_term_vote``."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "pin")
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.expr("timestamp'2024-01-01 00:00:00' + "
               "make_interval(0,0,0,CAST(id % 5 AS INT),0,0,0)")
        .alias("ts"))
    spec = [{"name": "day", "source": "ts", "transform": "day"}]
    S.snapshot_commit_partitioned(spark, t, df, spec)
    days = ["2024-01-02", "2024-01-04"]
    expect = df.filter(
        F.date_format("ts", "yyyy-MM-dd").isin(days)).count()
    assert expect > 0
    # scan with partition-field IN: exact files planned, exact rows
    kept, total = S.snapshot_pruned_files(t, [("day", "in", days)])
    assert 0 < len(kept) < total
    assert S.snapshot_scan(spark, t, [("day", "in", days)]) \
        .count() == expect
    # drop with IN retires exactly those partitions, metadata-only
    v, info = S.snapshot_drop_partitions(spark, t,
                                         [("day", "in", days)])
    assert info["rows_dropped"] == expect
    assert S.snapshot_read(spark, t).count() == 300 - expect


def test_eq_delete_reaches_column_shadowing_partition_field(
        spark, tmp_path):
    """A column may not shadow a partition field, whichever verb adds
    it: a term on the name is a partition-field term, so the column
    could not be queried (after compaction a pruned scan for
    day = 'x' found no row while the plain read found one). The plain
    append that adds ``day`` to a ``day(ts)`` table is refused and
    publishes nothing. An equality delete's key band still describes a
    DATA column, so only footer stats decide which entries it reaches:
    a tuple day=2024-01-02 must not stand in for the column's 'x'."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "shadow")
    ts = F.expr("timestamp'2024-01-01 00:00:00' + "
                "make_interval(0,0,0,CAST(id % 2 AS INT),0,0,0)")
    S.snapshot_commit_partitioned(
        spark, t, spark.range(4).select(F.col("id").alias("k"),
                                        ts.alias("ts")),
        [{"name": "day", "source": "ts", "transform": "day"}])
    with pytest.raises(ValueError, match="collide with data columns"):
        S.snapshot_commit(spark, t, spark.range(4, 5).select(
            F.col("id").alias("k"), ts.alias("ts"),
            F.lit("x").alias("day")))
    assert S.snapshot_current_version(t) == 0
    entry = {"path": "data/a/f.parquet",
             "partition": {"day": "2024-01-02"},
             "stats": {"day": {"min": "x", "max": "x", "nulls": 0}}}
    assert S._box_may_touch(entry, {"day": ("x", "x")})


def test_bucket_predicate_skips_unhashable_literals(spark, tmp_path):
    """Regression (ADVICE r12 low): bucket derivation hashed Python
    str(val) while the writer hashes Spark CAST(col AS STRING) — for
    booleans ('True' vs 'true') and floats the renderings differ, the
    derived bucket number is wrong, and exact tuple evaluation PRUNED
    the matching files. Such literals must not derive a bucket term at
    all (underivable -> no pruning -> correct rows)."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    # derivation: bool and float literals produce NO bucket term
    spec = [{"name": "bb", "source": "flag", "transform": "bucket:4"}]
    assert S._derived_partition_terms(spec, [("flag", "=", True)]) == []
    assert S._derived_partition_terms(spec, [("flag", "=", 1.5)]) == []
    assert S._derived_partition_terms(
        spec, [("flag", "in", [True, False])]) == []
    # str/int still derive
    assert S._derived_partition_terms(spec, [("flag", "=", "x")]) \
        == [("bb", "=", __import__("zlib").crc32(b"x") % 4)]

    t = str(tmp_path / "pbool")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 2 == 0).alias("flag"))
    S.snapshot_commit_partitioned(spark, t, df, spec)
    # equality on the SOURCE column with a bool literal: full rows back
    assert S.snapshot_scan(spark, t, [("flag", "=", True)]) \
        .count() == 50


def test_compact_preserves_partition_spec(spark, tmp_path):
    """Regression (ADVICE r12 low): OPTIMIZE on a partitioned table
    harvested entries without partition tuples, silently demoting the
    table to stats-only pruning and breaking snapshot_drop_partitions
    for compacted files. The rewrite now re-derives the transform
    columns, writes partitionBy, and records exact tuples — and
    UPGRADES un-tupled plain-append history on the way."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "pcomp")
    df = spark.range(240).select(
        F.col("id").alias("k"),
        F.expr("timestamp'2024-01-01 00:00:00' + "
               "make_interval(0,0,0,CAST(id % 3 AS INT),0,0,0)")
        .alias("ts"),
        (F.col("id") % 11).alias("v"))
    spec = [{"name": "day", "source": "ts", "transform": "day"}]
    S.snapshot_commit_partitioned(spark, t, df.filter("k < 100"), spec)
    S.snapshot_commit_partitioned(spark, t, df.filter("k >= 100"),
                                  spec, mode="append")
    # plain (un-tupled) append interleaves — compaction must ABSORB it
    S.snapshot_commit(spark, t, df.filter("k < 5").coalesce(1),
                      mode="append")
    v, before, after = S.snapshot_compact(spark, t, target_files=2)
    m = S._read_manifest(t, v)
    assert after < before
    # every compacted entry carries a complete tuple again
    assert all(e.get("partition", {}).get("day") for e in m["files"])
    assert m["partition_spec"] == spec
    total = 240 + 5
    assert S.snapshot_read(spark, t).count() == total
    # partition-field scans work again (no un-tupled survivors)
    day2 = df.filter(F.date_format("ts", "yyyy-MM-dd") == "2024-01-02")
    expect = day2.count() + day2.filter("k < 5").count()
    assert S.snapshot_scan(spark, t, [("day", "=", "2024-01-02")]) \
        .count() == expect
    # ... and metadata-only drops too
    v2, info = S.snapshot_drop_partitions(
        spark, t, [("day", "=", "2024-01-01")])
    d1 = df.filter(F.date_format("ts", "yyyy-MM-dd") == "2024-01-01")
    assert info["rows_dropped"] == d1.count() + d1.filter("k < 5").count()


@pytest.mark.parametrize("verb", ["merge", "apply_cdc",
                                  "overwrite_where"])
def test_rewrite_verbs_write_under_partition_spec(spark, tmp_path, verb):
    """A copy-on-write rewrite of a partitioned table's rows writes
    under the recorded spec: every non-empty rewritten file carries a
    complete tuple, so dropping one day retires all of that day's rows.
    Written without ``partitionBy``, the rewritten files carried no
    tuple and the drop left their rows of the day readable."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / verb)
    df = spark.range(40).select(
        F.col("id").alias("k"),
        F.expr("timestamp'2024-01-01 00:00:00' + "
               "make_interval(0,0,0,CAST(id % 4 AS INT),0,0,0)")
        .alias("ts"),
        (F.col("id") * 10).alias("v"))
    spec = [{"name": "day", "source": "ts", "transform": "day"}]
    S.snapshot_commit_partitioned(spark, t, df, spec)
    upd = df.filter("k < 8").withColumn("v", F.lit(0))
    if verb == "merge":
        v, _ = S.snapshot_merge(spark, t, upd, "k")
    elif verb == "apply_cdc":
        v, _ = S.snapshot_apply_cdc(spark, t, upd.withColumns(
            {"seq": F.lit(1), "op": F.lit("U")}), "k")
    else:
        v, _ = S.snapshot_overwrite_where(spark, t, [("k", "<", 8)], upd,
                                          key="k")
    m = S._read_manifest(t, v)
    assert m["partition_spec"] == spec
    assert all(e.get("partition", {}).get("day")
               for e in m["files"] if e["rows"])
    S.snapshot_drop_partitions(spark, t, [("day", "=", "2024-01-01")])
    out = S.snapshot_read(spark, t)
    assert out.filter(
        F.date_format("ts", "yyyy-MM-dd") == "2024-01-01").count() == 0
    assert out.count() == 30
    assert out.filter("v = 0").count() == 6


def test_rebase_segments_accumulate_across_retries(spark, tmp_path):
    """Regression (ADVICE r12 medium): in _publish_commit's retry
    loop, a SECOND conflict narrowing (after a FileNotFoundError
    retry) overwrote the first narrowing's carried segments instead of
    accumulating — a lost update of committed rows. Injected race:
    append A lands before a merge's publish (narrowing #1), the
    prev-manifest read is forced to fail once while append B lands
    (narrowing #2 on retry); the final manifest must carry BOTH."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "acc")
    base = spark.range(100).select(
        F.col("id").alias("k"), F.lit(1).alias("v"))
    a = spark.range(1000, 1100).select(
        F.col("id").alias("k"), F.lit(2).alias("v"))
    b = spark.range(2000, 2100).select(
        F.col("id").alias("k"), F.lit(3).alias("v"))
    S.snapshot_commit(spark, t, base.coalesce(1))          # v0
    S.snapshot_commit(spark, t, a.coalesce(1), mode="append")  # v1

    real = S._read_manifest_meta
    state = {"v1_reads": 0, "fired": False, "armed": True}

    def wrapper(td, v):
        if (td == t and v == 1 and state["armed"]
                and not state["fired"]):
            state["v1_reads"] += 1
            # 1st v1 read: the narrowing chain walk; 2nd: the loop's
            # prev_manifest read — fire there
            if state["v1_reads"] == 2:
                state["fired"] = True
                state["armed"] = False
                S.snapshot_commit(spark, t, b.coalesce(1),
                                  mode="append")  # v2 lands mid-race
                state["armed"] = True
                raise FileNotFoundError("injected: expired between "
                                        "listing and read")
        return real(td, v)

    updates = spark.range(10, 20).select(
        F.col("id").alias("k"), F.lit(99).alias("v"))
    try:
        S._read_manifest_meta = wrapper
        # derived from v0: append A (already at v1) is narrowing #1's
        # carry; append B (landing mid-retry) is narrowing #2's — the
        # buggy overwrite would drop A's segments from the manifest
        S.snapshot_merge(spark, t, updates, "k", base_version=0)
    finally:
        S._read_manifest_meta = real
    assert state["fired"], "the injected race never fired"
    out = S.snapshot_read(spark, t)
    # both interleaved appends survived the double narrowing
    assert out.filter("v = 2").count() == 100
    assert out.filter("v = 3").count() == 100
    assert out.filter("v = 99").count() == 10
    assert out.count() == 300


def test_constraint_landing_mid_append_aborts_violating_commit(
        spark, tmp_path):
    """Metadata-conflict detection (r13, VERDICT r12 item 1a): a CHECK
    constraint landing between an append's data write (validated
    against the OLD constraint set) and its publish must be re-enforced
    on the written files — the violating append ABORTS instead of
    silently escaping the contract (the race the r12 docstring only
    documented)."""
    import pytest
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "mc")
    df = spark.range(50).select(F.col("id").alias("k"),
                                (F.col("id") * 10).alias("v"))
    S.snapshot_commit(spark, t, df.coalesce(1))

    real_enf = S._enforce_constraints
    state = {"fired": False}

    def wrapper(spark_, td, c, entries, sj, verb):
        real_enf(spark_, td, c, entries, sj, verb)
        if not state["fired"]:
            # the append just validated its written files against the
            # PRE-ADD constraint set; land the constraint now, inside
            # the write->publish window
            state["fired"] = True
            S.snapshot_add_constraint(spark_, td, "nonneg", "v >= 0")

    bad = spark.createDataFrame([(900, -5)], "k long, v long")
    try:
        S._enforce_constraints = wrapper
        with pytest.raises(ValueError, match="nonneg"):
            S.snapshot_commit(spark, t, bad.coalesce(1), mode="append")
    finally:
        S._enforce_constraints = real_enf
    assert state["fired"]
    # no version published beyond the constraint add itself
    head = S.snapshot_current_version(t)
    m = S._read_manifest_meta(t, head)
    assert m["constraints"] == {"nonneg": "v >= 0"}
    assert S.snapshot_read(spark, t).filter("v < 0").count() == 0

    # the same race with a CLEAN batch publishes (revalidation passes)
    state["fired"] = False

    def wrapper2(spark_, td, c, entries, sj, verb):
        real_enf(spark_, td, c, entries, sj, verb)
        if not state["fired"]:
            state["fired"] = True
            S.snapshot_add_constraint(spark_, td, "small", "v < 10000")

    good = spark.createDataFrame([(901, 7)], "k long, v long")
    try:
        S._enforce_constraints = wrapper2
        v = S.snapshot_commit(spark, t, good.coalesce(1), mode="append")
    finally:
        S._enforce_constraints = real_enf
    assert state["fired"]
    m2 = S._read_manifest_meta(t, v)
    assert set(m2["constraints"]) == {"nonneg", "small"}
    assert S.snapshot_read(spark, t).filter("k = 901").count() == 1


@pytest.mark.parametrize("verb", ["merge", "apply_cdc",
                                  "overwrite_where"])
def test_rewrite_rebases_through_constraint_add(spark, tmp_path, verb):
    """Metadata-conflict detection (r13, VERDICT r12 item 1b): a
    copy-on-write rewrite (merge, CDC apply, replaceWhere) derived from
    a pre-add read must REBASE through the interleaved metadata-only
    constraint commit (previously: unconditional SnapshotConflictError)
    — and enforce the new constraint on its own rewritten files: the
    violating rewrite aborts, the clean one publishes with the
    constraint recorded."""
    import pytest
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "mrc")
    df = spark.range(100).select(F.col("id").alias("k"),
                                 (F.col("id") * 10).alias("v"))
    S.snapshot_commit(spark, t, df.coalesce(1))
    stale = S.snapshot_current_version(t)
    S.snapshot_add_constraint(spark, t, "nonneg", "v >= 0")

    def rewrite(upd):
        if verb == "merge":
            return S.snapshot_merge(spark, t, upd, "k", base_version=stale)
        if verb == "apply_cdc":
            return S.snapshot_apply_cdc(
                spark, t, upd.withColumns({"seq": F.lit(1),
                                           "op": F.lit("U")}),
                "k", base_version=stale)
        return S.snapshot_overwrite_where(
            spark, t, [("k", "=", 5)], upd, key="k", base_version=stale)

    bad_upd = spark.createDataFrame([(5, -1)], "k long, v long")
    with pytest.raises(ValueError, match="nonneg"):
        rewrite(bad_upd)
    good_upd = spark.createDataFrame([(5, 777)], "k long, v long")
    v = rewrite(good_upd)[0]
    m = S._read_manifest_meta(t, v)
    assert m["constraints"] == {"nonneg": "v >= 0"}
    out = S.snapshot_read(spark, t)
    assert out.filter("k = 5").first()["v"] == 777
    assert out.count() == 100


def test_rewrite_rebases_through_manifest_compaction(spark, tmp_path):
    """r13: REWRITE MANIFESTS re-chunks the same entries into new
    segments — a rewrite derived from a pre-compaction read must
    rebase through it (the entry set is byte-identical), not abort."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "mrm")
    df = spark.range(60).select(F.col("id").alias("k"),
                                (F.col("id") * 10).alias("v"))
    for lo in range(0, 60, 10):  # six tiny segments
        S.snapshot_commit(
            spark, t, df.filter((F.col("k") >= lo)
                                & (F.col("k") < lo + 10)).coalesce(1),
            mode="append" if lo else "overwrite")
    stale = S.snapshot_current_version(t)
    vc = S.snapshot_compact_manifests(t)
    assert vc == stale + 1
    upd = spark.createDataFrame([(7, 999)], "k long, v long")
    v = S.snapshot_merge(spark, t, upd, "k", base_version=stale)[0]
    out = S.snapshot_read(spark, t)
    assert out.count() == 60
    assert out.filter("k = 7").first()["v"] == 999
    # a DELETE interleaved the same way still aborts (not metadata-only)
    import pytest

    stale2 = v
    S.snapshot_delete_where(spark, t, [("k", ">=", 50)], key="k")
    upd2 = spark.createDataFrame([(8, 111)], "k long, v long")
    with pytest.raises(S.SnapshotConflictError):
        S.snapshot_merge(spark, t, upd2, "k", base_version=stale2)


def test_equality_delete_commit_opens_no_data_files(spark, tmp_path):
    """snapshot_delete_keys (r13): the commit is O(keys) — it never
    calls the entry reader (tripwired) and never touches a data file
    (mtimes/atimes aside, pinned via a _read_entries tripwire plus a
    wall-clock-free check that the verb's only parquet I/O is the key
    sidecar write-and-validate)."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S
    from data_pipeline_stripe_spark.operators.snapshot_check import \
        no_entry_reads

    t = str(tmp_path / "eq0")
    df = spark.range(5000).select(F.col("id").alias("k"),
                                  (F.col("id") * 10).alias("v"))
    S.snapshot_commit(spark, t, df.repartition(8))
    keys = spark.createDataFrame([(i,) for i in range(0, 50, 7)],
                                 "k long")
    with no_entry_reads("snapshot_delete_keys"):
        v, info = S.snapshot_delete_keys(spark, t, keys, "k")
    assert info["keys"] == len(range(0, 50, 7))
    m = S._read_manifest_meta(t, v)
    assert len(m["eq_deletes"]) == 1
    d = m["eq_deletes"][0]
    assert d["cols"] == ["k"] and d["seq"] == v
    assert S.snapshot_read(spark, t).count() == 5000 - 8


def test_equality_delete_semantics(spark, tmp_path):
    """Sequence-number semantics: the delete applies to data OLDER
    than it (including interleaved appends that land before its
    publish), never to re-inserts after it; merges do not resurrect;
    composite keys work; NULL keys and unknown columns are refused."""
    import pytest
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "eq1")
    df = spark.range(100).select(F.col("id").alias("k"),
                                 (F.col("id") % 3).alias("g"),
                                 (F.col("id") * 10).alias("v"))
    S.snapshot_commit(spark, t, df.coalesce(1))
    v_del, _ = S.snapshot_delete_keys(
        spark, t, spark.createDataFrame([(7,), (8,)], "k long"), "k")
    # re-insert 7 after the delete: survives
    S.snapshot_commit(spark, t,
                      spark.createDataFrame([(7, 0, 777)],
                                            "k long, g long, v long")
                      .coalesce(1), mode="append")
    out = S.snapshot_read(spark, t)
    assert out.count() == 99
    assert out.filter("k = 7").first()["v"] == 777
    assert out.filter("k = 8").count() == 0
    # snapshot_scan honors the delete too
    assert S.snapshot_scan(spark, t, [("k", "<=", 10)]).count() == 10
    # a merge over the deleted band does NOT resurrect k=8
    S.snapshot_merge(spark, t,
                     spark.createDataFrame([(9, 0, 999)],
                                           "k long, g long, v long"),
                     "k")
    out2 = S.snapshot_read(spark, t)
    assert out2.filter("k = 8").count() == 0
    assert out2.filter("k = 9").first()["v"] == 999
    # composite key delete
    v2, info2 = S.snapshot_delete_keys(
        spark, t,
        spark.createDataFrame([(10, 1), (11, 2)], "k long, g long"),
        ["k", "g"])
    out3 = S.snapshot_read(spark, t)
    assert out3.filter("k in (10, 11)").count() == 0
    # interleaved append BEFORE a delete's publish is still deleted
    # (serial order: append then delete) — via base_version
    stale = S.snapshot_current_version(t)
    S.snapshot_commit(spark, t,
                      spark.createDataFrame([(500, 0, 1)],
                                            "k long, g long, v long")
                      .coalesce(1), mode="append")
    S.snapshot_delete_keys(
        spark, t, spark.createDataFrame([(500,)], "k long"), "k",
        base_version=stale)
    assert S.snapshot_read(spark, t).filter("k = 500").count() == 0
    # refusals
    with pytest.raises(ValueError, match="NULL key"):
        S.snapshot_delete_keys(
            spark, t,
            spark.createDataFrame([(None,)], "k long"), "k")
    with pytest.raises(ValueError, match="not in the"):
        S.snapshot_delete_keys(
            spark, t, spark.createDataFrame([(1,)], "nope long"),
            "nope")


def test_history_reports_pending_equality_deletes(spark, tmp_path):
    """snapshot_history under active equality deletes (r13 carry-over):
    n_rows stays the honest PHYSICAL count while n_eq_deletes /
    n_pending_delete_keys expose that exactness is pending — and both
    drop to 0 after OPTIMIZE materializes the deletes (n_rows becomes
    live again). History still opens zero data files."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "histeq")
    df = spark.range(100).select(F.col("id").alias("k"))
    S.snapshot_commit(spark, t, df.coalesce(1))
    S.snapshot_delete_keys(
        spark, t, spark.createDataFrame([(i,) for i in range(7)],
                                        "k long"), "k")
    S.snapshot_compact(spark, t, target_files=1)
    hist = {r.version: r for r in S.snapshot_history(spark, t).collect()}
    assert hist[0].n_eq_deletes == 0
    assert hist[1].n_eq_deletes == 1
    assert hist[1].n_pending_delete_keys == 7
    assert hist[1].n_rows == 100  # physical, documented
    assert hist[2].n_eq_deletes == 0  # OPTIMIZE materialized
    assert hist[2].n_pending_delete_keys == 0
    assert hist[2].n_rows == 93  # exact again


def test_upsert_keys_merge_on_read(spark, tmp_path):
    """snapshot_upsert_keys (r13 second half — Iceberg v2's streaming
    CDC upsert): one commit = new rows + an equality-delete descriptor
    for exactly their keys. Pins: zero band read (tripwire), read
    parity with the copy-on-write apply_cdc twin, CDF serves the delta
    as U (batch AND streaming hash-match; replay reproduces the head),
    epoch idempotence, NULL key refusal, chained upserts dedupe, and
    OPTIMIZE materializes the descriptor away."""
    import pytest
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S
    from data_pipeline_stripe_spark.operators.snapshot_check import (
        check_replay, no_entry_reads)
    from data_pipeline_stripe_spark.sources.snapshot_source import \
        register_snapshot_source

    register_snapshot_source(spark)
    t = str(tmp_path / "upsert")
    twin = str(tmp_path / "upsert_twin")
    base = spark.range(100).select(F.col("id").alias("k"),
                                   (F.col("id") * 10).alias("v"))
    for d in (t, twin):
        S.snapshot_commit(spark, d, base.filter("k < 50").coalesce(1),
                          mode="append")
        S.snapshot_commit(spark, d, base.filter("k >= 50").coalesce(1),
                          mode="append")
    # upsert: update keys 40..59 (spans both files), insert 100..119
    up = spark.range(40, 120).filter(
        (F.col("id") < 60) | (F.col("id") >= 100)).select(
        F.col("id").alias("k"), (F.col("id") * 1000).alias("v"))
    with no_entry_reads("snapshot_upsert_keys"):
        v_up, info = S.snapshot_upsert_keys(spark, t, up, "k",
                                            epoch_key="e1")
    assert info["rows"] == 40 and info["keys"] == 40
    # epoch replay: no-op
    v_again, info2 = S.snapshot_upsert_keys(spark, t, up, "k",
                                            epoch_key="e1")
    assert v_again == v_up and info2 == {"rows": 0, "keys": 0}

    # copy-on-write twin via apply_cdc
    S.snapshot_apply_cdc(
        spark, twin,
        up.select("k", "v", F.lit(1).alias("seq"),
                  F.lit("U").alias("op")), "k")
    a = S.snapshot_read(spark, t)
    b = S.snapshot_read(spark, twin)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() == 120
    assert a.filter("k = 45").first()["v"] == 45000

    # batch CDF: the upsert version is its delta as U rows
    feed = S.snapshot_read_cdf(spark, t, v_up - 1, to_version=v_up)
    assert feed.count() == 40
    assert feed.filter(F.col("_change_type") != "U").count() == 0
    # streaming CDF hash-matches the batch feed over the full range
    out = str(tmp_path / "out")
    q = (spark.readStream.format("snapshot_table")
         .option("cdf", "true").option("startingVersion", "1").load(t)
         .writeStream.outputMode("append").format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    # ...and replayed from version 0's state reproduces the head
    check_replay(spark, t, "k", 0, v_up, feed=spark.read.parquet(out),
                 context="upsert_keys stream")

    # chained upsert of an overlapping key: latest wins
    S.snapshot_upsert_keys(
        spark, t, spark.createDataFrame([(45, 7)], "k long, v long"),
        "k")
    assert S.snapshot_read(spark, t).filter("k = 45").first()["v"] == 7
    assert S.snapshot_read(spark, t).count() == 120

    # NULL keys refused; the failed write leaves no committed version
    head = S.snapshot_current_version(t)
    with pytest.raises(ValueError, match="NULL key"):
        S.snapshot_upsert_keys(
            spark, t,
            spark.createDataFrame([(None, 1)], "k long, v long"), "k")
    assert S.snapshot_current_version(t) == head

    # OPTIMIZE materializes: descriptors gone, reads identical
    before = sorted(tuple(r) for r in S.snapshot_read(spark, t)
                    .collect())
    S.snapshot_compact(spark, t, target_files=1)
    m = S._read_manifest_meta(t, S.snapshot_current_version(t))
    assert not m.get("eq_deletes")
    after = sorted(tuple(r) for r in S.snapshot_read(spark, t)
                   .collect())
    assert before == after


def test_apply_cdc_mor_merge_on_read(spark, tmp_path):
    """snapshot_apply_cdc_mor (r13 second half): the full I/U/D CDC
    batch as ONE O(batch) commit — upserts appended + covered
    descriptor, final-D keys in an uncovered descriptor. Pins: zero
    band read (tripwire), latest-wins within the batch (unique seq per
    key), head parity with the copy-on-write snapshot_apply_cdc twin,
    CDF = delta as U plus lazy D rows for the delete keys (batch ==
    streaming; replay reproduces the head), epoch idempotence,
    delete-of-absent no-op, pure-delete and empty batches."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S
    from data_pipeline_stripe_spark.operators.snapshot_check import (
        check_replay, no_entry_reads)
    from data_pipeline_stripe_spark.sources.snapshot_source import \
        register_snapshot_source

    register_snapshot_source(spark)
    t = str(tmp_path / "cdcmor")
    twin = str(tmp_path / "cdcmor_twin")
    base = spark.range(100).select(F.col("id").alias("k"),
                                   (F.col("id") * 10).alias("v"))
    for d in (t, twin):
        S.snapshot_commit(spark, d, base.filter("k < 50").coalesce(1),
                          mode="append")
        S.snapshot_commit(spark, d, base.filter("k >= 50").coalesce(1),
                          mode="append")
    # batch: update 10..19, delete 40..44 and 90..94 (spans both
    # files), delete-of-absent 500, insert 200..204; key 10 gets TWO
    # changes (seq 1 U loses to seq 2 U), key 40 U@1 then D@2
    changes = (
        spark.range(10, 20).select(
            F.col("id").alias("k"), (F.col("id") * 100).alias("v"),
            F.lit(1).alias("seq"), F.lit("U").alias("op"))
        .unionByName(spark.createDataFrame(
            [(10, 777, 2, "U"), (40, 1, 1, "U"), (40, 0, 2, "D"),
             (500, 0, 1, "D")],
            "k long, v long, seq long, op string"))
        .unionByName(spark.range(41, 45).unionByName(
            spark.range(90, 95)).unionByName(spark.range(205, 206))
            .select(F.col("id").alias("k"), F.lit(0).alias("v"),
                    F.lit(1).alias("seq"), F.lit("D").alias("op")))
        .unionByName(spark.range(200, 205).select(
            F.col("id").alias("k"), (F.col("id") + 5).alias("v"),
            F.lit(1).alias("seq"), F.lit("U").alias("op"))))
    with no_entry_reads("snapshot_apply_cdc_mor"):
        v_mor, info = S.snapshot_apply_cdc_mor(spark, t, changes, "k",
                                               epoch_key="e1")
    assert info == {"upserts": 15, "deletes": 12}, info
    # epoch replay no-op
    assert S.snapshot_apply_cdc_mor(
        spark, t, changes, "k", epoch_key="e1") \
        == (v_mor, {"upserts": 0, "deletes": 0})

    # copy-on-write twin
    S.snapshot_apply_cdc(spark, twin, changes, "k")
    a, b = S.snapshot_read(spark, t), S.snapshot_read(spark, twin)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    assert a.count() == 100 - 10 + 5  # 10 deleted present, 5 inserted
    assert a.filter("k = 10").first()["v"] == 777
    assert a.filter("k = 40").count() == 0

    # CDF: U rows = the 15 upserts; D rows = the 10 PRESENT deletes
    # (absent keys 500/205 produce no D) with pre-delete values
    feed = S.snapshot_read_cdf(spark, t, v_mor - 1, to_version=v_mor)
    by_type = {r["_change_type"]: r["n"] for r in
               feed.groupBy("_change_type").agg(
                   F.count("*").alias("n")).collect()}
    assert by_type == {"U": 15, "D": 10}, by_type
    assert feed.filter("_change_type = 'D' and k = 41").first()["v"] \
        == 410

    # streaming CDF hash-matches batch over the full range
    out = str(tmp_path / "out")
    q = (spark.readStream.format("snapshot_table")
         .option("cdf", "true").option("startingVersion", "1").load(t)
         .writeStream.outputMode("append").format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    # ...and replayed from version 0 reproduces the head
    check_replay(spark, t, "k", 0, v_mor, feed=spark.read.parquet(out),
                 context="apply_cdc_mor stream")

    # pure-delete batch → uncovered descriptor only, no data files
    v2, info2 = S.snapshot_apply_cdc_mor(
        spark, t, spark.createDataFrame(
            [(20, 0, 1, "D")], "k long, v long, seq long, op string"),
        "k")
    assert info2 == {"upserts": 0, "deletes": 1}
    assert S.snapshot_read(spark, t).filter("k = 20").count() == 0
    # empty batch → no-op, no version burned
    head = S.snapshot_current_version(t)
    v3, info3 = S.snapshot_apply_cdc_mor(
        spark, t, changes.filter("k < 0"), "k")
    assert v3 == head and info3 == {"upserts": 0, "deletes": 0}
    assert S.snapshot_current_version(t) == head


def test_compact_only_files_with_deletes(spark, tmp_path):
    """OPTIMIZE only_with_deletes (r13 second half — Iceberg's
    rewrite-files-with-deletes): three one-file appends; a DV lands on
    file b (position delete) and an equality delete's key band touches
    only file a. The debt-scoped compaction rewrites a and b, carries
    c UNTOUCHED (same manifest path), and the post-state reads
    exactly; the surviving descriptor (c's segment is older) is inert
    — band-pruned for every remaining file."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "debt")
    df = spark.range(60).select(F.col("id").alias("k"))
    for lo, hi in ((0, 20), (20, 40), (40, 60)):
        S.snapshot_commit(
            spark, t,
            df.filter((F.col("k") >= lo) & (F.col("k") < hi))
            .coalesce(1), mode="append")
    S.snapshot_delete_where(spark, t, [("k", "=", 25)], key="k")  # DV on b
    S.snapshot_delete_keys(
        spark, t, spark.createDataFrame([(5,)], "k long"), "k")  # band→a
    head_m = S._read_manifest_meta(t, S.snapshot_current_version(t))
    before = {e["path"] for e in S._manifest_files(t, head_m)}
    # the clean segment (file c) must be skipped WITHOUT opening its
    # descriptor file: its n_dv is 0 and the eq band cannot touch it
    c_seg = next(s["path"] for s in head_m["segments"]
                 if (s.get("stats", {}).get("k") or {}).get("min") == 40)
    opened = []
    real_seg = S._segment_entries

    def counting_seg(table_dir, seg):
        opened.append(seg["path"])
        return real_seg(table_dir, seg)

    S._segment_entries = counting_seg
    try:
        v, n_before, n_after = S.snapshot_compact(
            spark, t, target_files=1, only_with_deletes=True)
    finally:
        S._segment_entries = real_seg
    assert c_seg not in opened, "clean segment was opened"
    assert (n_before, n_after) == (3, 2), (n_before, n_after)
    m = S._read_manifest_meta(t, v)
    after = {e["path"] for e in S._manifest_files(t, m)}
    # exactly one original file (c) survived by reference
    assert len(after & before) == 1
    # the DV and the matched eq debt are materialized
    entries = S._manifest_files(t, m)
    assert not any(e.get("dv") for e in entries)
    got = sorted(r.k for r in S.snapshot_read(spark, t).collect())
    assert got == sorted(set(range(60)) - {5, 25})
    # a second pass is a no-op (no debt file remains — the surviving
    # descriptor is inert for every file by band/seq)
    v2, b2, a2 = S.snapshot_compact(spark, t, target_files=1,
                                    only_with_deletes=True)
    assert (v2, b2, a2) == (v, 2, 2)


def test_snapshot_read_cdf_refuses_negative_from_version(spark, tmp_path):
    """-1 is the CDF stream's initial-load start, not a batch range: the
    batch feed used to serve (0, head] without version 0's rows. It is
    refused, naming the initial load's equivalent."""
    import data_pipeline_stripe_spark.operators.snapshots as S

    t = _mor_table(spark, str(tmp_path / "t"))
    S.snapshot_delete_keys(spark, t, spark.createDataFrame(
        [(3,)], "k long"), "k")
    with pytest.raises(ValueError, match=r"initial load is version 0's "
                       r"snapshot_read as 'I' rows plus "
                       r"snapshot_read_cdf\(0, to\)"):
        S.snapshot_read_cdf(spark, t, -1)
    assert S.snapshot_read_cdf(spark, t, 0).count() == 1


def test_trickle_cdc_verbs_rederive_on_interleaved_rewrite(
        spark, tmp_path, caplog):
    """Lock-free trickle writers (r13 second half — the re-derive loop
    in _mor_commit): an UNPINNED snapshot_delete_keys /
    snapshot_upsert_keys whose publish loses the race to an
    interleaved REWRITE (here: another equality delete, injected
    between the manifest read and the publish) re-derives on the
    moved head and lands — BOTH changes applied, the serial order —
    and logs one line naming the verb, the table and the moved head.
    A PINNED base_version keeps strict read-validation and aborts."""
    import logging

    import pytest
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "trickle")
    df = spark.range(50).select(F.col("id").alias("k"),
                                (F.col("id") * 10).alias("v"))
    S.snapshot_commit(spark, t, df.coalesce(1))

    real_publish = S._publish_commit
    fired = {"n": 0}

    def racy_publish(*a, **kw):
        # on the OUTER verb's first publish, interleave a competing
        # eq-delete (which itself publishes through the real path)
        if fired["n"] == 0:
            fired["n"] = 1
            S.snapshot_delete_keys(
                spark, t, spark.createDataFrame([(7,)], "k long"), "k")
        return real_publish(*a, **kw)

    S._publish_commit = racy_publish
    try:
        with caplog.at_level(logging.INFO, logger=S.__name__):
            v, info = S.snapshot_delete_keys(
                spark, t, spark.createDataFrame([(3,)], "k long"), "k")
    finally:
        S._publish_commit = real_publish
    assert fired["n"] == 1
    assert [r.getMessage() for r in caplog.records
            if "re-deriving" in r.getMessage()] == [
        f"snapshot_delete_keys: {t} moved to version 1 under the "
        "commit; re-deriving it on the new head"]
    got = {r.k for r in S.snapshot_read(spark, t).collect()}
    assert got == set(range(50)) - {3, 7}  # BOTH deletes applied

    # upsert re-derives too: the interleaved delete kills k=9, the
    # upsert (racing it) re-inserts k=9 at publish — serially after
    fired["n"] = 0

    def racy_publish2(*a, **kw):
        if fired["n"] == 0:
            fired["n"] = 1
            S.snapshot_delete_keys(
                spark, t, spark.createDataFrame([(9,)], "k long"), "k")
        return real_publish(*a, **kw)

    S._publish_commit = racy_publish2
    try:
        S.snapshot_upsert_keys(
            spark, t,
            spark.createDataFrame([(9, 999)], "k long, v long"), "k")
    finally:
        S._publish_commit = real_publish
    assert fired["n"] == 1
    assert S.snapshot_read(spark, t).filter("k = 9").first()["v"] == 999

    # a PINNED base aborts on the same race (strict read-validation)
    head = S.snapshot_current_version(t)
    fired["n"] = 0
    S._publish_commit = racy_publish
    try:
        with pytest.raises(S.SnapshotConflictError,
                           match="concurrent|moved"):
            S.snapshot_delete_keys(
                spark, t, spark.createDataFrame([(11,)], "k long"),
                "k", base_version=head)
    finally:
        S._publish_commit = real_publish


def test_rewrite_that_loses_the_link_race_rebases(spark, tmp_path):
    """A commit that read the head and then loses the ``os.link`` to a
    concurrent publish goes round the publish loop again, so the
    version check classifies the winner: a rebase or a conflict. The
    race is staged through ``_enforce_constraints``, which the loop
    calls between reading the head and linking: its first call
    publishes one append. An upsert rebases over a disjoint append; a
    merge rebases over an append outside its key band and still aborts,
    with a plain conflict, on one inside it."""
    import pytest

    import data_pipeline_stripe_spark.operators.snapshots as S

    real_enforce = S._enforce_constraints

    def frame(rows):
        return spark.createDataFrame(rows, "k long, v string").coalesce(1)

    def racing(t, rows):
        fired = []

        def enforce(*a, **kw):
            if not fired:
                fired.append(1)
                S.snapshot_commit(spark, t, frame(rows))
            return real_enforce(*a, **kw)
        return fired, enforce

    base = {k: "base" for k in range(20)}

    def run(name, verb, raced_rows):
        t = str(tmp_path / name)
        S.snapshot_commit(spark, t, frame(list(base.items())))
        fired, S._enforce_constraints = racing(t, raced_rows)
        try:
            verb(t)
        finally:
            S._enforce_constraints = real_enforce
        assert fired
        return t, {r.k: r.v for r in S.snapshot_read(spark, t).collect()}

    t, rows = run("upsert", lambda t: S.snapshot_upsert_keys(
        spark, t, frame([(3, "up")]), "k"), [(100, "raced")])
    assert S.snapshot_current_version(t) == 2
    assert rows == {**base, 3: "up", 100: "raced"}

    t, rows = run("merge_out", lambda t: S.snapshot_merge(
        spark, t, frame([(3, "up")]), "k"), [(100, "raced")])
    assert S.snapshot_current_version(t) == 2
    assert rows == {**base, 3: "up", 100: "raced"}

    with pytest.raises(S.SnapshotConflictError,
                       match="inside the band") as exc:
        run("merge_in", lambda t: S.snapshot_merge(
            spark, t, frame([(3, "up")]), "k"), [(3, "raced")])
    assert type(exc.value) is S.SnapshotConflictError


def _spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn submitted), from the DAG
    scheduler's job-id counter."""
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    before = scheduler.nextJobId()
    out = fn()
    return out, scheduler.nextJobId() - before


def _mor_table(spark, path, spec=None):
    """A one-file snapshot table (k, v) over k in 0..99; under a
    partition ``spec``, one file per partition."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")).coalesce(1)
    if spec:
        S.snapshot_commit_partitioned(spark, path, df, spec)
    else:
        S.snapshot_commit(spark, path, df)
    return path


def _cdc(spark, ks, op):
    """CDC changes (k, v, seq=1, op) for k in range(*ks)."""
    from pyspark.sql import functions as F

    return spark.range(*ks).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v"),
        F.lit(1).alias("seq"), F.lit(op).alias("op"))


def _stream_cdc(spark, ks, path):
    """CDC changes shaped like a stream's micro-batch: a file scan whose
    op comes from the data (every third key deleted), so the optimizer
    cannot prove either side of the apply empty. Read under its known
    schema: opening it runs no job."""
    from pyspark.sql import functions as F

    df = _cdc(spark, ks, "U").withColumn(
        "op", F.when(F.col("k") % 3 == 0, "D").otherwise("U"))
    df.write.parquet(path)
    return spark.read.schema(df.schema).parquet(path)


@pytest.mark.parametrize("verb, budget", [
    ("upsert_keys", 3),
    ("delete_keys", 1),
    ("apply_cdc_mor_upserts", 2),
    ("apply_cdc_mor_deletes", 1),
    ("apply_cdc_mor_both", 4),
    ("apply_cdc_mor_stream", 4),
])
def test_trickle_cdc_verb_job_budget(spark, tmp_path, verb, budget):
    """Spark jobs per call of the merge-on-read verbs stay within their
    budget. An apply whose literal ops let the optimizer prove one side
    empty writes only the other side; one with both sides evaluates its
    winners once (a local checkpoint) for the two writes. The written
    rows are read back under their known schema (no inference job)."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = _mor_table(spark, str(tmp_path / "t"))
    stream = (_stream_cdc(spark, (10, 40), str(tmp_path / "changes"))
              if verb == "apply_cdc_mor_stream" else None)
    calls = {
        "upsert_keys": lambda: S.snapshot_upsert_keys(
            spark, t, _cdc(spark, (10, 20), "U").select("k", "v"), "k"),
        "delete_keys": lambda: S.snapshot_delete_keys(
            spark, t, spark.range(5).select(F.col("id").alias("k")), "k"),
        "apply_cdc_mor_upserts": lambda: S.snapshot_apply_cdc_mor(
            spark, t, _cdc(spark, (10, 20), "U"), "k"),
        "apply_cdc_mor_deletes": lambda: S.snapshot_apply_cdc_mor(
            spark, t, _cdc(spark, (0, 5), "D"), "k"),
        "apply_cdc_mor_both": lambda: S.snapshot_apply_cdc_mor(
            spark, t, _cdc(spark, (10, 20), "U").unionByName(
                _cdc(spark, (50, 55), "D")), "k"),
        "apply_cdc_mor_stream": lambda: S.snapshot_apply_cdc_mor(
            spark, t, stream, "k"),
    }
    (version, _), jobs = _spark_jobs(spark, calls[verb])
    assert version == 1
    assert jobs <= budget, f"{verb} ran {jobs} Spark jobs > {budget}"
    # every sidecar directory left behind is referenced by the commit
    m = S._read_manifest_meta(t, version)
    assert sorted(os.path.join("eqdel", d)
                  for d in os.listdir(os.path.join(t, "eqdel"))) \
        == sorted(d["path"] for d in m["eq_deletes"])


def test_apply_cdc_mor_evaluates_its_changes_once(spark, tmp_path):
    """The U write and the D-key sidecar of a two-sided apply read one
    evaluation of the change input: a Python UDF on the key counts each
    input row once (three times before the winners were checkpointed),
    and the replica holds the applied changes."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = _mor_table(spark, str(tmp_path / "t"))
    seen = spark.sparkContext.accumulator(0)

    def count(k):
        seen.add(1)
        return k

    changes = _stream_cdc(
        spark, (10, 40), str(tmp_path / "changes")).withColumn(
        "k", F.udf(count, LongType())("k"))
    version, info = S.snapshot_apply_cdc_mor(spark, t, changes, "k")
    assert seen.value == 30
    assert (version, info) == (1, {"upserts": 20, "deletes": 10})
    got = {r.k: r.v for r in S.snapshot_read(spark, t).collect()}
    assert got == {k: (k * 10 if k < 10 or k >= 40 else k * 7)
                   for k in range(100) if not (10 <= k < 40 and k % 3 == 0)}


def test_snapshot_read_plans_eq_deletes_without_jobs(spark, tmp_path):
    """Planning a read over equality-delete sidecars runs no Spark job:
    each sidecar is opened under the schema its own footer records, not
    inferred. A sidecar written before the key column widened keeps its
    narrower type and still deletes."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "t")
    S.snapshot_commit(spark, t, spark.range(100).select(
        F.col("id").cast("int").alias("k")).coalesce(1))
    for k in range(5):
        S.snapshot_delete_keys(spark, t, spark.createDataFrame(
            [(k,)], "k int"), "k")
    df, jobs = _spark_jobs(spark, lambda: S.snapshot_read(spark, t))
    assert jobs == 0
    assert sorted(r.k for r in df.collect()) == list(range(5, 100))

    S.snapshot_commit(spark, t, spark.createDataFrame(
        [(2**40,)], "k long"))  # widens k to long
    S.snapshot_delete_keys(spark, t, spark.createDataFrame(
        [(99,)], "k long"), "k")
    df, jobs = _spark_jobs(spark, lambda: S.snapshot_read(spark, t))
    assert jobs == 0
    assert sorted(r.k for r in df.collect()) == list(range(5, 99)) + [2**40]


def test_snapshot_read_cdf_plans_change_logs_without_jobs(spark, tmp_path):
    """Planning the change feed over a copy-on-write merge runs no Spark
    job: the merge's recorded change log is opened under the schema its
    own footer records, not inferred."""
    import data_pipeline_stripe_spark.operators.snapshots as S

    t = _mor_table(spark, str(tmp_path / "t"))
    S.snapshot_merge(spark, t, spark.createDataFrame(
        [(3, 0), (200, 2000)], "k long, v long"), "k")
    feed, jobs = _spark_jobs(spark, lambda: S.snapshot_read_cdf(spark, t, 0))
    assert jobs == 0
    assert sorted((r._change_type, r.k, r.v, r._commit_version)
                  for r in feed.collect()) == [("I", 200, 2000, 1),
                                               ("U", 3, 0, 1)]


@pytest.mark.parametrize("constrained", [False, True])
@pytest.mark.parametrize("verb, budget, constrained_budget", [
    ("append", 1, 2),
    ("merge", 8, 9),
    ("merge_partitioned", 9, 10),
    ("apply_cdc", 8, 9),
    ("overwrite_where", 6, 7),
    ("delete_where", 7, 7),
    ("compact", 2, 2),
])
def test_copy_on_write_verb_job_budget(spark, tmp_path, verb, budget,
                                       constrained_budget, constrained):
    """Spark jobs per call of the copy-on-write verbs over the one-file
    table and a 10-key band, without and with one CHECK constraint (the
    constraint costs the data-adding verbs one enforcement job). On a
    table partitioned into two buckets of ``k``, the merge pays one job
    more: the rewrite co-locates each partition's rows before writing
    them ``partitionBy`` (``_write_data``)."""
    import data_pipeline_stripe_spark.operators.snapshots as S

    spec = [{"name": "kb", "source": "k", "transform": "bucket:2"}]
    t = _mor_table(spark, str(tmp_path / "t"),
                   spec if verb == "merge_partitioned" else None)
    if verb == "compact":  # a second file to compact with the first
        S.snapshot_commit(spark, t, _cdc(spark, (100, 110), "U")
                          .select("k", "v").coalesce(1))
    if constrained:
        S.snapshot_add_constraint(spark, t, "nonneg", "v >= 0")
    head = S.snapshot_current_version(t)
    band = [("k", ">=", 10), ("k", "<", 20)]
    rows = _cdc(spark, (10, 20), "U")
    calls = {
        "append": lambda: S.snapshot_commit(
            spark, t, _cdc(spark, (100, 110), "U").select("k", "v")),
        "merge": lambda: S.snapshot_merge(
            spark, t, rows.select("k", "v"), "k")[0],
        "merge_partitioned": lambda: S.snapshot_merge(
            spark, t, rows.select("k", "v"), "k")[0],
        "apply_cdc": lambda: S.snapshot_apply_cdc(spark, t, rows, "k")[0],
        "overwrite_where": lambda: S.snapshot_overwrite_where(
            spark, t, band, rows.select("k", "v"), key="k")[0],
        "delete_where": lambda: S.snapshot_delete_where(
            spark, t, band, key="k")[0],
        "compact": lambda: S.snapshot_compact(spark, t)[0],
    }
    version, jobs = _spark_jobs(spark, calls[verb])
    assert version == head + 1
    limit = constrained_budget if constrained else budget
    assert jobs <= limit, f"{verb} ran {jobs} Spark jobs > {limit}"


@pytest.mark.parametrize("verb", ["delete_keys", "upsert_keys",
                                  "apply_cdc_mor"])
def test_trickle_cdc_verbs_empty_input_commits_nothing(
        spark, tmp_path, verb):
    """No input rows means no commit for every merge-on-read verb: the
    head is returned with zero counts, no version is burned, and no
    data or sidecar directory is left behind."""
    import data_pipeline_stripe_spark.operators.snapshots as S

    t = _mor_table(spark, str(tmp_path / "t"))
    empty = _cdc(spark, (0, 0), "U")
    calls = {
        "delete_keys": (lambda: S.snapshot_delete_keys(
            spark, t, empty.select("k"), "k"), {"keys": 0}),
        "upsert_keys": (lambda: S.snapshot_upsert_keys(
            spark, t, empty.select("k", "v"), "k"),
            {"rows": 0, "keys": 0}),
        "apply_cdc_mor": (lambda: S.snapshot_apply_cdc_mor(
            spark, t, empty, "k"), {"upserts": 0, "deletes": 0}),
    }
    fn, zero = calls[verb]
    assert fn() == (0, zero)
    assert S.snapshot_current_version(t) == 0
    eqdel = os.path.join(t, "eqdel")
    assert not os.path.isdir(eqdel) or not os.listdir(eqdel)
    assert len(os.listdir(os.path.join(t, "data"))) == 1


def test_apply_cdc_mor_refuses_key_column_the_table_lacks(spark, tmp_path):
    """Like its two siblings, snapshot_apply_cdc_mor refuses a key the
    table schema lacks: a 'D' on it could never match the older rows
    (their value is NULL), so the delete would silently do nothing —
    and the upsert would schema-evolve the key column in."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = _mor_table(spark, str(tmp_path / "t"))
    changes = _cdc(spark, (0, 3), "D").unionByName(
        _cdc(spark, (200, 201), "U")).withColumn("zz", F.col("k"))
    with pytest.raises(ValueError, match="not in the"):
        S.snapshot_apply_cdc_mor(spark, t, changes, "zz")
    assert S.snapshot_current_version(t) == 0
    assert "zz" not in S.snapshot_read(spark, t).columns


def test_equality_delete_cdf_restore_expire(spark, tmp_path):
    """Lazy CDF D rows, RESTORE adopting the target's delete list, and
    expire GC of unreferenced eqdel sidecars."""
    import os

    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "eq2")
    df = spark.range(60).select(F.col("id").alias("k"),
                                (F.col("id") * 10).alias("v"))
    S.snapshot_commit(spark, t, df.coalesce(1))          # v0
    v_del, _ = S.snapshot_delete_keys(
        spark, t, spark.createDataFrame([(1,), (2,)], "k long"), "k")
    feed = S.snapshot_read_cdf(spark, t, v_del - 1)
    rows = {(r["k"], r["_change_type"]) for r in feed.collect()}
    assert rows == {(1, "D"), (2, "D")}
    # restore to pre-delete: deleted keys come back, delete list reset
    v_r = S.snapshot_restore(spark, t, 0, key="k")
    assert S.snapshot_read(spark, t).count() == 60
    assert S._read_manifest_meta(t, v_r)["eq_deletes"] == []
    # the restore's CDF records the resurrections as I rows
    feed2 = S.snapshot_read_cdf(spark, t, v_del)
    assert {(r["k"], r["_change_type"]) for r in feed2.collect()} \
        == {(1, "I"), (2, "I")}
    # delete again, then compact away and expire: the sidecar dir GCs
    S.snapshot_delete_keys(
        spark, t, spark.createDataFrame([(3,)], "k long"), "k")
    S.snapshot_compact(spark, t, target_files=1)
    out = S.snapshot_expire(t, keep_last=1, tmp_grace_seconds=0)
    assert any(d.startswith("eqdel") for d in out["deleted_dirs"])
    assert S.snapshot_read(spark, t).count() == 59
    assert not os.path.isdir(os.path.join(t, "eqdel")) or \
        not os.listdir(os.path.join(t, "eqdel"))


def test_equality_delete_datasource_read(spark, tmp_path):
    """The batch Python DataSource (SQL surface) anti-filters equality
    deletes with the same sequence scoping as snapshot_read."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S
    from data_pipeline_stripe_spark.sources.snapshot_source import (
        register_snapshot_source)

    t = str(tmp_path / "eq3")
    df = spark.range(80).select(F.col("id").alias("k"),
                                (F.col("id") * 10).alias("v"))
    S.snapshot_commit(spark, t, df.coalesce(1))
    S.snapshot_delete_keys(
        spark, t, spark.createDataFrame([(4,), (5,)], "k long"), "k")
    S.snapshot_commit(spark, t,
                      spark.createDataFrame([(4, 444)], "k long, v long")
                      .coalesce(1), mode="append")
    register_snapshot_source(spark)
    got = (spark.read.format("snapshot_table").load(t)
           .orderBy("k").collect())
    assert len(got) == 79
    vals = {r["k"]: r["v"] for r in got}
    assert 5 not in vals and vals[4] == 444


def test_current_version_uses_hint_not_listing(spark, tmp_path):
    """r13 O(1) head probe: after a publish, snapshot_current_version
    answers from the verified _latest hint without listing the
    _snapshots directory; a stale or missing hint falls back (never a
    wrong answer); a lagging hint walks forward to the true head."""
    import os

    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "hint")
    df = spark.range(30).select(F.col("id").alias("k"))
    S.snapshot_commit(spark, t, df.coalesce(1))
    S.snapshot_commit(spark, t, df.coalesce(1), mode="append")

    real = S._all_manifest_versions
    calls = {"n": 0}

    def counting(td):
        calls["n"] += 1
        return real(td)

    try:
        S._all_manifest_versions = counting
        assert S.snapshot_current_version(t) == 1
        assert calls["n"] == 0, "hint path still paid a listing"
        # lagging hint (a racing writer's hint write lost): walk fwd
        with open(os.path.join(t, "_snapshots", "_latest"), "w") as fh:
            fh.write("0")
        assert S.snapshot_current_version(t) == 1
        assert calls["n"] == 0
        # corrupt hint: fallback to listing, still correct
        with open(os.path.join(t, "_snapshots", "_latest"), "w") as fh:
            fh.write("nonsense")
        assert S.snapshot_current_version(t) == 1
        assert calls["n"] == 1
        # dangling hint (points past the head): fallback
        with open(os.path.join(t, "_snapshots", "_latest"), "w") as fh:
            fh.write("99")
        assert S.snapshot_current_version(t) == 1
        assert calls["n"] == 2
    finally:
        S._all_manifest_versions = real


def test_compact_manifests_consolidates_dv_sidecars(spark, tmp_path):
    """r13 DV consolidation: three trickle deletes leave three tiny
    sidecar dirs; REWRITE MANIFESTS unions each entry's live vector
    rows into one sidecar (stale superseded rows excluded), reads are
    unchanged, and expire sweeps the old dirs."""
    import os

    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "dvc")
    df = spark.range(300).select(F.col("id").alias("k"),
                                 (F.col("id") * 10).alias("v"))
    S.snapshot_commit(spark, t, df.filter("k < 100").coalesce(1))
    S.snapshot_commit(spark, t,
                      df.filter("k >= 100 AND k < 200").coalesce(1),
                      mode="append")
    S.snapshot_commit(spark, t, df.filter("k >= 200").coalesce(1),
                      mode="append")
    # three deletes; the third OVERLAPS the first file band so its
    # entry supersedes (old dv rows for that path become stale)
    S.snapshot_delete_where(spark, t, [("k", "<", 10)], key="k")
    S.snapshot_delete_where(spark, t, [("k", ">=", 100),
                                       ("k", "<", 110)], key="k")
    S.snapshot_delete_where(spark, t, [("k", ">=", 5), ("k", "<", 20)],
                            key="k")
    head = S.snapshot_current_version(t)
    entries = S._read_manifest(t, head)["files"]
    dv_dirs = {e["dv"]["path"] for e in entries if e.get("dv")}
    assert len(dv_dirs) > 1
    before = S.snapshot_read(spark, t)
    expect = 300 - 20 - 10  # k<20 and 100<=k<110
    assert before.count() == expect

    v = S.snapshot_compact_manifests(t)
    post = S._read_manifest(t, v)
    post_dirs = {e["dv"]["path"] for e in post["files"] if e.get("dv")}
    assert len(post_dirs) == 1
    # per-entry dv row counts preserved; reads identical
    pre_rows = {e["path"]: e["dv"]["rows"] for e in entries
                if e.get("dv")}
    assert {e["path"]: e["dv"]["rows"] for e in post["files"]
            if e.get("dv")} == pre_rows
    after = S.snapshot_read(spark, t)
    assert after.count() == expect
    assert after.exceptAll(before).count() == 0
    # stale-exclusion: the consolidated sidecar holds exactly the live
    # union (sum of per-entry counts)
    import pyarrow.parquet as pq

    (only_dir,) = post_dirs
    n = sum(pq.read_table(os.path.join(t, only_dir, f)).num_rows
            for f in os.listdir(os.path.join(t, only_dir))
            if f.endswith(".parquet"))
    assert n == sum(pre_rows.values())
    # old sidecar dirs GC once unreferenced
    out = S.snapshot_expire(t, keep_last=1, tmp_grace_seconds=0)
    swept = {d for d in out["deleted_dirs"] if d.startswith("dv")}
    assert dv_dirs <= swept  # superseded intermediates sweep too
    assert S.snapshot_read(spark, t).count() == expect


def test_branch_write_audit_publish(spark, tmp_path):
    """WAP (r13): a branch commit is invisible to main; a failed
    audit (drop_branch) leaves main untouched; a fast-forward of an
    append-only branch publishes as one ordinary APPEND (CDF and
    incremental consumers ride through); a moved main refuses the
    fast-forward; tags pin versions against expire."""
    import os

    import pytest
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "wap")
    df = spark.range(100).select(F.col("id").alias("k"),
                                 (F.col("id") * 10).alias("v"))
    S.snapshot_commit(spark, t, df.coalesce(1))          # main v0
    fork_v = S.snapshot_current_version(t)

    bdir = S.snapshot_create_branch(t, "audit")
    # every verb works on the branch dir unchanged
    add = spark.range(100, 150).select(F.col("id").alias("k"),
                                       (F.col("id") * 10).alias("v"))
    S.snapshot_commit(spark, bdir, add.coalesce(1), mode="append")
    assert S.snapshot_read(spark, bdir).count() == 150
    # invisible to main
    assert S.snapshot_read(spark, t).count() == 100
    assert S.snapshot_current_version(t) == fork_v

    # failed audit: drop the branch; main untouched
    S.snapshot_drop_branch(t, "audit")
    assert not os.path.isdir(bdir)
    assert S.snapshot_read(spark, t).count() == 100

    # WAP round 2: audit passes, fast-forward as an APPEND
    bdir = S.snapshot_create_branch(t, "audit2")
    S.snapshot_commit(spark, bdir, add.coalesce(1), mode="append")
    v = S.snapshot_fast_forward(t, "audit2")
    assert v == fork_v + 1
    m = S._read_manifest_meta(t, v)
    assert m["mode"] == "append"
    out = S.snapshot_read(spark, t)
    assert out.count() == 150
    # CDF across the fast-forward: one plain append delta
    feed = S.snapshot_read_cdf(spark, t, fork_v)
    assert feed.count() == 50
    assert feed.filter(F.col("_change_type") != "I").count() == 0
    # incremental consumers too
    assert S.snapshot_read_incremental(spark, t, fork_v).count() == 50

    # a moved main refuses the stale branch
    bdir3 = S.snapshot_create_branch(t, "stale")
    S.snapshot_commit(spark, bdir3,
                      spark.createDataFrame([(999, 1)],
                                            "k long, v long")
                      .coalesce(1), mode="append")
    S.snapshot_commit(spark, t,
                      spark.createDataFrame([(500, 5)],
                                            "k long, v long")
                      .coalesce(1), mode="append")
    with pytest.raises(S.SnapshotConflictError, match="forked from"):
        S.snapshot_fast_forward(t, "stale")
    S.snapshot_drop_branch(t, "stale")

    # a NON-append branch fast-forwards as a rewrite (CDF raises)
    bdir4 = S.snapshot_create_branch(t, "fix")
    S.snapshot_merge(spark, bdir4,
                     spark.createDataFrame([(0, 12345)],
                                           "k long, v long"), "k")
    head_before = S.snapshot_current_version(t)
    v2 = S.snapshot_fast_forward(t, "fix")
    assert v2 == head_before + 1
    assert S.snapshot_read(spark, t).filter("k = 0").first()["v"] \
        == 12345
    with pytest.raises(ValueError, match="no recorded change log"):
        S.snapshot_read_cdf(spark, t, head_before).count()

    # tags: name-addressed time travel + retention pin
    S.snapshot_create_tag(t, "prod", version=fork_v)
    assert S.snapshot_tag_version(t, "prod") == fork_v
    assert S.snapshot_read(spark, t, tag="prod").count() == 100
    S.snapshot_expire(t, keep_last=1, tmp_grace_seconds=0)
    # the tagged version survives keep_last=1
    assert S.snapshot_read(
        spark, t, version=fork_v).count() == 100
    with pytest.raises(ValueError, match="already exists"):
        S.snapshot_create_tag(t, "prod")
    # expire refuses branch dirs
    bdir5 = S.snapshot_create_branch(t, "guard")
    with pytest.raises(ValueError, match="BRANCH directory"):
        S.snapshot_expire(bdir5, keep_last=1)


def test_branch_commit_files_survive_parent_expire(spark, tmp_path):
    """A branch's commit dirs live in the SHARED storage — the
    parent's expire must count branch manifests as references and
    never sweep a branch commit's files."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "wexp")
    df = spark.range(50).select(F.col("id").alias("k"))
    S.snapshot_commit(spark, t, df.coalesce(1))
    bdir = S.snapshot_create_branch(t, "b")
    S.snapshot_commit(spark, bdir,
                      spark.range(50, 80).select(F.col("id").alias("k"))
                      .coalesce(1), mode="append")
    # main churns a few versions, then expires aggressively
    for i in range(3):
        S.snapshot_commit(spark, t,
                          spark.range(100 + i, 101 + i)
                          .select(F.col("id").alias("k")).coalesce(1),
                          mode="append")
    S.snapshot_expire(t, keep_last=1, tmp_grace_seconds=0)
    # the branch still reads completely
    assert S.snapshot_read(spark, bdir).count() == 80


def test_branch_equality_delete_covers_adopted_segments(spark, tmp_path):
    """Regression (r13): sequence numbers are a TABLE-LEVEL monotonic
    counter, not the (branch-local) version. A branch adopts its
    parent's segments with parent seqs up to the fork; a branch
    equality delete stamped with the branch-local version (1) was <=
    the second adopted segment's seq (1), so the delete silently
    skipped keys living there — verified failing before the last_seq
    counter landed."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "bseq")
    df = spark.range(10).select(F.col("id").alias("k"))
    S.snapshot_commit(spark, t, df.filter(F.col("k") < 5).coalesce(1))
    S.snapshot_commit(spark, t, df.filter(F.col("k") >= 5).coalesce(1),
                      mode="append")
    bdir = S.snapshot_create_branch(t, "audit")
    # k=2 lives in the seq-0 segment, k=7 in the seq-1 segment — both
    # must die on the branch
    S.snapshot_delete_keys(
        spark, bdir, spark.createDataFrame([(2,), (7,)], "k long"), "k")
    got = sorted(r.k for r in S.snapshot_read(spark, bdir).collect())
    assert got == [0, 1, 3, 4, 5, 6, 8, 9], got
    # re-insert on the branch: newer than the delete, must survive
    S.snapshot_commit(spark, bdir,
                      spark.createDataFrame([(7,)], "k long"),
                      mode="append")
    assert sorted(r.k for r in S.snapshot_read(spark, bdir).collect()) \
        == [0, 1, 3, 4, 5, 6, 7, 8, 9]


def test_branch_cherry_pick_onto_moved_main(spark, tmp_path):
    """snapshot_cherry_pick (r13): an append-only branch lands on a
    main that MOVED past the fork point — where the strict
    fast-forward aborts — as one ordinary append: branch delta
    adopted by reference, re-stamped to the pick's sequence number
    (so a main equality delete committed while the branch was open
    does NOT apply to the cherry-picked rows — serial order), rows
    re-validated against main's CURRENT constraints, CDF riding
    through. Non-append branches and branches that changed table
    metadata abort."""
    import pytest
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    t = str(tmp_path / "cpick")
    df = spark.range(100).select(F.col("id").alias("k"),
                                 (F.col("id") * 10).alias("v"))
    S.snapshot_commit(spark, t, df.coalesce(1))          # main v0
    bdir = S.snapshot_create_branch(t, "feature")
    # branch appends rows 100..149 — k=120 will ALSO be eq-deleted on
    # main while the branch is open (the pick's rows must survive it)
    S.snapshot_commit(spark, bdir,
                      spark.range(100, 150)
                      .select(F.col("id").alias("k"),
                              (F.col("id") * 10).alias("v"))
                      .coalesce(1), mode="append")
    # main moves: an append AND an equality delete of {50, 120}
    S.snapshot_commit(spark, t,
                      spark.createDataFrame([(500, 5000)],
                                            "k long, v long"),
                      mode="append")
    S.snapshot_delete_keys(
        spark, t, spark.createDataFrame([(50,), (120,)], "k long"), "k")
    head_before = S.snapshot_current_version(t)

    with pytest.raises(S.SnapshotConflictError, match="forked from"):
        S.snapshot_fast_forward(t, "feature")
    v = S.snapshot_cherry_pick(spark, t, "feature")
    assert v == head_before + 1
    m = S._read_manifest_meta(t, v)
    assert m["mode"] == "append"
    got = {r.k for r in S.snapshot_read(spark, t).collect()}
    # main's 100 minus eq-deleted 50, plus 500, plus branch 100..149
    # INCLUDING 120 (the pick is serially AFTER the delete)
    expect = (set(range(100)) - {50}) | {500} | set(range(100, 150))
    assert got == expect
    # CDF rides through: the pick version serves 50 I rows
    feed = S.snapshot_read_cdf(spark, t, head_before)
    assert feed.count() == 50
    assert feed.filter(F.col("_change_type") != "I").count() == 0
    S.snapshot_drop_branch(t, "feature")

    # a constraint that lands on main AFTER the fork re-validates the
    # picked rows: a violating branch aborts before publication
    bdir2 = S.snapshot_create_branch(t, "bad")
    S.snapshot_commit(spark, bdir2,
                      spark.createDataFrame([(9000, 9999)],
                                            "k long, v long"),
                      mode="append")
    # head max v is 5000, so the add passes — only the branch violates
    S.snapshot_add_constraint(spark, t, "v_cap", "v <= 5000")
    with pytest.raises(ValueError, match="v_cap"):
        S.snapshot_cherry_pick(spark, t, "bad")
    S.snapshot_drop_branch(t, "bad")
    S.snapshot_drop_constraint(t, "v_cap")

    # a non-append branch refuses the pick
    bdir3 = S.snapshot_create_branch(t, "rw")
    S.snapshot_merge(spark, bdir3,
                     spark.createDataFrame([(0, 111)], "k long, v long"),
                     "k")
    with pytest.raises(S.SnapshotConflictError, match="append-only"):
        S.snapshot_cherry_pick(spark, t, "rw")
    S.snapshot_drop_branch(t, "rw")

    # a branch that changed table metadata refuses the pick (the
    # constraint add is itself a rewrite commit, so the append-only
    # guard fires first; the explicit metadata diff stays as
    # belt-and-braces behind it)
    bdir4 = S.snapshot_create_branch(t, "meta")
    S.snapshot_add_constraint(spark, bdir4, "k_pos", "k >= 0")
    with pytest.raises(S.SnapshotConflictError, match="append-only"):
        S.snapshot_cherry_pick(spark, t, "meta")
    S.snapshot_drop_branch(t, "meta")


def _checked_table(spark, path):
    """Three one-key-band appends of (k, v) over k in 0..29 (versions
    0-2), then a copy-on-write apply_cdc that deletes k 3 and updates
    k 5 in the first band (version 3)."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S

    for lo in (0, 10, 20):
        S.snapshot_commit(spark, path, spark.range(lo, lo + 10).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
            .coalesce(1), mode="append")
    S.snapshot_apply_cdc(spark, path, spark.createDataFrame(
        [(3, 0, 1, "D"), (5, 55, 1, "U")],
        "k long, v long, seq long, op string"), "k")
    return path


def test_check_refuses_fails_when_the_call_returns():
    """``check_refuses`` raises when the call returns normally, even
    when ``what`` contains the needle and ``exc_type`` would catch a
    RuntimeError; it returns a matching refusal, and wraps one whose
    message lacks the needle."""
    from data_pipeline_stripe_spark.operators.snapshot_check import (
        check_refuses)

    def refuse(msg):
        def fn():
            raise ValueError(msg)
        return fn

    with pytest.raises(RuntimeError, match="^gate: metadata did not"):
        check_refuses(lambda: None, Exception, "metadata", context="gate",
                      what="metadata did not refuse")
    exc = check_refuses(refuse("bad metadata"), ValueError, "metadata",
                        context="gate", what="x")
    assert str(exc) == "bad metadata"
    with pytest.raises(RuntimeError, match="naming 'metadata'"):
        check_refuses(refuse("other"), ValueError, "metadata",
                      context="gate", what="x")
    with pytest.raises(KeyError):
        check_refuses(lambda: {}["k"], ValueError, context="gate",
                      what="x")


@pytest.mark.parametrize("defect", ["replay", "stream", "feed", "carried",
                                    "sink_lost_row",
                                    "sink_reserved_version"])
def test_snapshot_checks_raise_on_seeded_defect(spark, tmp_path,
                                                monkeypatch, defect):
    """Each change-feed check passes on a sound table and raises, naming
    its context, on one seeded defect: the feed lost its D row (the
    replay no longer reproduces the head; a streamed feed no longer
    equals the batch feed), an expectation off by one, a rewrite that
    dropped a file it should have carried, and a plain stream's sink
    that lost a row or served a version twice."""
    from pyspark.sql import functions as F

    import data_pipeline_stripe_spark.operators.snapshots as S
    from data_pipeline_stripe_spark.operators import snapshot_check as C

    t = _checked_table(spark, str(tmp_path / "t"))

    def lose_d(feed):
        return feed.filter(F.col("_change_type") != "D")

    if defect == "replay":
        C.check_replay(spark, t, "k", 2, context="ctx")
        real = C.snapshot_read_cdf
        monkeypatch.setattr(C, "snapshot_read_cdf",
                            lambda *a, **kw: lose_d(real(*a, **kw)))
        with pytest.raises(RuntimeError, match=r"ctx: replaying the "
                           r"change feed over \(2, 3\] does not"):
            C.check_replay(spark, t, "k", 2, context="ctx")
    elif defect == "stream":
        feed = S.snapshot_read_cdf(spark, t, 2)
        C.check_replay(spark, t, "k", 2, feed=feed, context="ctx")
        with pytest.raises(RuntimeError, match=r"ctx: the streamed change "
                           r"feed over \(2, 3\] differs"):
            C.check_replay(spark, t, "k", 2, feed=lose_d(feed),
                           context="ctx")
    elif defect == "sink_lost_row":
        from data_pipeline_stripe_spark.sources.snapshot_source import \
            register_snapshot_source
        from data_pipeline_stripe_spark.streaming import drain

        register_snapshot_source(spark)
        out, bad = str(tmp_path / "out"), str(tmp_path / "bad")
        drain(spark.readStream.format("snapshot_table").load(t),
              lambda b, _: b.write.mode("append").parquet(out),
              str(tmp_path / "ckpt"))
        sink = C.check_stream(spark, t, out, -1, context="ctx")
        sink.filter(F.col("k") != 7).write.parquet(bad)
        with pytest.raises(RuntimeError, match=r"ctx: the streamed read "
                           r"over \(-1, 3\] differs"):
            C.check_stream(spark, t, bad, -1, context="ctx")
    elif defect == "sink_reserved_version":
        out, bad = str(tmp_path / "out"), str(tmp_path / "bad")
        S.snapshot_read_incremental(spark, t, 0, 2).write.parquet(out)
        C.check_stream(spark, t, out, 0, 2, context="ctx")
        # a sink that was never written holds 0 rows: right for an
        # empty range
        C.check_stream(spark, t, str(tmp_path / "none"), 2, 2,
                       context="ctx")
        spark.read.parquet(out).unionByName(
            S.snapshot_read_incremental(spark, t, 1, 2)).write.parquet(bad)
        with pytest.raises(RuntimeError, match=r"ctx: the streamed read "
                           r"over \(0, 2\] differs"):
            C.check_stream(spark, t, bad, 0, 2, context="ctx")
    elif defect == "feed":
        C.check_feed(spark, t, 2, 3, {"D": 1, "U": 1}, context="ctx")
        with pytest.raises(RuntimeError,
                           match=r"ctx: the change feed over \(2, 3\] has"):
            C.check_feed(spark, t, 2, 3, {"D": 1, "U": 2}, context="ctx")
    else:
        C.check_carried(t, 2, 3, 2, context="ctx")
        real = C._read_manifest
        base = {e["path"] for e in real(t, 2)["files"]}

        def dropped_carried(table_dir, version):
            m = real(table_dir, version)
            if version == 3:
                lost = next(e for e in m["files"] if e["path"] in base)
                m = dict(m, files=[e for e in m["files"] if e is not lost])
            return m

        monkeypatch.setattr(C, "_read_manifest", dropped_carried)
        with pytest.raises(RuntimeError,
                           match="ctx: expected exactly 2 of the 3 files"):
            C.check_carried(t, 2, 3, 2, context="ctx")


def test_snapshot_check_job_counts(spark, tmp_path):
    """check_feed counts by change type in one Spark job (the feed of
    appends builds without one); check_carried is a manifest diff with
    none."""
    from data_pipeline_stripe_spark.operators import snapshot_check as C

    t = _checked_table(spark, str(tmp_path / "t"))
    _, n_feed = _spark_jobs(spark, lambda: C.check_feed(
        spark, t, 0, 2, {"I": 20}, context="ctx"))
    _, n_carried = _spark_jobs(spark, lambda: C.check_carried(
        t, 2, 3, 2, context="ctx"))
    assert (n_feed, n_carried) == (1, 0)



def test_commit_verbs_inherit_unset_table_properties(spark, tmp_path):
    """One table of what each committing verb SETS among the table
    properties and the schema; every property it does not set equals
    its parent's (the Iceberg rule: properties carry from snapshot to
    snapshot unless a commit sets them). Each row runs on a fresh copy
    of a table whose head holds a value for every property. An
    overwrite clears the clustering lineage and the partition spec; its
    inherited equality delete drops off because no segment is older."""
    import json
    import shutil

    from data_pipeline_stripe_spark.operators import snapshots as S

    def frame(rows, ddl="k long, v string"):
        return spark.createDataFrame(rows, ddl).coalesce(1)

    # v0-v3: a head with a partition spec, a clustering lineage, a CHECK
    # constraint and an equality delete
    base = str(tmp_path / "base")
    spec = [{"name": "kb", "source": "k", "transform": "bucket:2"}]
    S.snapshot_commit_partitioned(
        spark, base, frame([(k, "a") for k in range(20)]), spec)
    S.snapshot_commit_clustered(
        spark, base, frame([(k, "b") for k in range(20, 40)]), ["k"], 1)
    S.snapshot_add_constraint(spark, base, "k_nonneg", "k >= 0")
    S.snapshot_delete_keys(spark, base, frame([(5,)], "k long"), "k")
    head = S._read_manifest_meta(base, 3)
    assert head["cluster_cols"] == ["k"] and head["partition_spec"] == spec
    assert head["constraints"] == {"k_nonneg": "k >= 0"}
    assert len(head["eq_deletes"]) == 1
    spec3 = [{"name": "kb3", "source": "k", "transform": "bucket:3"}]
    wide = frame([(50, "c", 1)], "k long, v string, w long")
    kvw = ["k", "v", "w"]
    added = object()  # eq_deletes: the parent's list plus one new one
    both = {"k_nonneg": "k >= 0", "v_set": "v is not null"}

    def branch(t, on_branch):
        on_branch(S.snapshot_create_branch(t, "b"))
        return "b"

    cases = [
        ("append", lambda t: S.snapshot_commit(spark, t, wide),
         {"schema": kvw}),
        ("overwrite", lambda t: S.snapshot_commit(
            spark, t, frame([(50, "c")]), mode="overwrite"),
         {"cluster_cols": None, "partition_spec": None, "eq_deletes": []}),
        ("partitioned overwrite", lambda t: S.snapshot_commit_partitioned(
            spark, t, frame([(50, "c")]), spec3, mode="overwrite"),
         {"cluster_cols": None, "partition_spec": spec3,
          "eq_deletes": []}),
        ("clustered overwrite", lambda t: S.snapshot_commit_clustered(
            spark, t, frame([(50, "c")]), ["v"], 1, mode="overwrite"),
         {"cluster_cols": ["v"], "partition_spec": None,
          "eq_deletes": []}),
        ("merge", lambda t: S.snapshot_merge(
            spark, t, frame([(25, "m"), (60, "n")]), "k"), {}),
        ("delete_where", lambda t: S.snapshot_delete_where(
            spark, t, [("k", "=", 25)]), {}),
        ("drop_partitions", lambda t: S.snapshot_drop_partitions(
            spark, t, [("kb", "=", 0)]), {}),
        ("delete_keys", lambda t: S.snapshot_delete_keys(
            spark, t, frame([(7,)], "k long"), "k"), {"eq_deletes": added}),
        ("upsert_keys", lambda t: S.snapshot_upsert_keys(
            spark, t, frame([(7, "u")]), "k"), {"eq_deletes": added}),
        ("add_constraint", lambda t: S.snapshot_add_constraint(
            spark, t, "v_set", "v is not null"), {"constraints": both}),
        ("drop_constraint", lambda t: S.snapshot_drop_constraint(
            t, "k_nonneg"), {"constraints": {}}),
        ("compact_manifests", S.snapshot_compact_manifests, {}),
        ("restore", lambda t: S.snapshot_restore(spark, t, 1),
         {"eq_deletes": []}),
        ("fast_forward append", lambda t: S.snapshot_fast_forward(
            t, branch(t, lambda b: S.snapshot_commit(spark, b, wide))),
         {"schema": kvw}),
        ("fast_forward rewrite", lambda t: S.snapshot_fast_forward(
            t, branch(t, lambda b: S.snapshot_add_constraint(
                spark, b, "v_set", "v is not null"))),
         {"constraints": both}),
        ("cherry_pick", lambda t: (
            branch(t, lambda b: S.snapshot_commit(spark, b, wide)),
            S.snapshot_commit(spark, t, frame([(60, "d")])),
            S.snapshot_cherry_pick(spark, t, "b")),
         {"schema": kvw}),
    ]
    for name, run, sets in cases:
        t = str(tmp_path / name.replace(" ", "_"))
        shutil.copytree(base, t, symlinks=True)
        run(t)
        m = S._read_manifest_meta(t, S.snapshot_current_version(t))
        parent = S._read_manifest_meta(t, m["parent"])
        for prop in ("cluster_cols", "partition_spec", "constraints",
                     "eq_deletes"):
            want = sets.get(prop, parent.get(prop))
            if want is added:
                assert m[prop][:-1] == parent[prop], (name, prop)
                assert len(m[prop]) == len(parent[prop]) + 1, (name, prop)
            else:
                assert m.get(prop) == want, (name, prop, m.get(prop))
        if "schema" in sets:
            names = [f["name"] for f in json.loads(m["schema"])["fields"]]
            assert names == sets["schema"], (name, names)
        else:
            assert m["schema"] == parent["schema"], name
