"""Skew benchmark: the hot-key machinery against a genuinely skewed
fixture (generated by tools/make_skewed_fixture.py — run it first, or
this script will).

Three head-to-heads, each capped/salted vs naive on the SAME input:

1. MinHash-LSH near-dup pairs: bucket cap 64 ON vs OFF against a
   1,000-doc boilerplate cluster (uncapped: ~500k candidate pairs per
   band on one shuffle key).
2. N-gram Jaccard pairs: shingle document-frequency cap 128 ON vs OFF
   (uncapped: each of ~38 cluster shingles contributes ~1M
   inverted-index pairs).
3. events ⋈ users on a 50%-hot user_id: salted_join (16 salts) vs the
   plain sort-merge join, broadcast + AQE skew-join disabled so the
   physical skew is actually visible (at 100 TB the dim outgrows
   broadcast range; this models that regime).

Prints ONE JSON line with wall times and result cardinalities; the
companion numbers live in BENCH_DIFF.md §skew.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKEW_DIR = os.path.join(REPO, ".scratch", "skewed")


def main() -> None:
    if not os.path.exists(os.path.join(SKEW_DIR, "events.parquet")):
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools",
                                          "make_skewed_fixture.py")],
            check=True,
        )

    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.llm import dedup
    from data_pipeline_stripe_spark.operators.skew import salted_join
    from data_pipeline_stripe_spark.session import (default_parallelism,
                                                    get_session)

    cpus = default_parallelism()
    spark = get_session(app_name="bench_skew", master=f"local[{cpus}]",
                        shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{SKEW_DIR}/documents.parquet")
    events = spark.read.parquet(f"{SKEW_DIR}/events.parquet")
    users = spark.read.parquet(f"{SKEW_DIR}/users.parquet")

    def timed(df) -> tuple[float, int]:
        t0 = time.time()
        n = df.count()
        return round(time.time() - t0, 3), n

    results: dict[str, dict] = {}

    # --- 1. LSH bucket cap -------------------------------------------------
    sigs = dedup.minhash_signatures(docs)
    sigs.cache().count()  # shared input: isolate the band-join cost
    t_cap, n_cap = timed(
        dedup.minhash_lsh_pairs(docs, signatures=sigs, max_bucket_size=64))
    t_uncap, n_uncap = timed(
        dedup.minhash_lsh_pairs(docs, signatures=sigs, max_bucket_size=None))
    sigs.unpersist()
    results["minhash_lsh_bucket_cap"] = {
        "capped_sec": t_cap, "capped_pairs": n_cap,
        "uncapped_sec": t_uncap, "uncapped_pairs": n_uncap,
        "speedup": round(t_uncap / t_cap, 2),
    }

    # --- 2. shingle document-frequency cap ---------------------------------
    t_cap, n_cap = timed(dedup.ngram_jaccard_pairs(docs, max_doc_freq=128))
    t_uncap, n_uncap = timed(
        dedup.ngram_jaccard_pairs(docs, max_doc_freq=None))
    results["jaccard_doc_freq_cap"] = {
        "capped_sec": t_cap, "capped_pairs": n_cap,
        "uncapped_sec": t_uncap, "uncapped_pairs": n_uncap,
        "speedup": round(t_uncap / t_cap, 2),
    }

    # --- 3. salted join on the hot user_id ---------------------------------
    # Model the 100 TB regime where the dim is past broadcast range and
    # AQE's skew splitter is not available (it only splits sort-merge
    # partitions post-shuffle; the salt moves the work BEFORE the shuffle).
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    try:
        plain = (
            events.join(users, "user_id")
            .groupBy("country").count()
        )
        t_plain, n_plain = timed(plain)
        salted = (
            salted_join(events, users, "user_id", n_salts=16)
            .groupBy("country").count()
        )
        t_salt, n_salt = timed(salted)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    assert n_plain == n_salt, "salted join changed the result"
    results["salted_join_hot_key"] = {
        "plain_sec": t_plain, "salted_sec": t_salt,
        "rows": n_plain, "speedup": round(t_plain / t_salt, 2),
    }

    # --- 4. CMS heavy hitters vs exact full-universe count -----------------
    # Find every user holding >= 1% of the 20M-row stream. Exact = groupBy
    # the FULL key universe then filter; CMS = probe the 4x256 counter
    # table and exact-count only the sketch's candidates. MEASURED
    # NEGATIVE at this fixture's 10k-key universe (CMS ~12x slower,
    # BENCH_DIFF.md §skew): exact's partial aggregation collapses 20M
    # rows to ~10k combiner entries per task, while CMS pays a x4 row
    # explode before ITS combine. The sketch's regime is a key universe
    # too large for partial-agg state (billions of keys: exact shuffles
    # |keys| partials and spills; CMS still shuffles 1024 counters per
    # task) — kept here as the honest boundary of the trade, and because
    # the answer-set equality assertion is the correctness story.
    from data_pipeline_stripe_spark.operators.sketches import (
        cms_heavy_hitters)

    t0 = time.time()
    exact_hh = (
        events.groupBy("user_id").count()
        .withColumn("_tot", F.lit(events.count()))
        .filter(F.col("count") * 100 >= F.col("_tot"))
    )
    n_exact_hh = exact_hh.count()
    t_exact = round(time.time() - t0, 3)
    t0 = time.time()
    cms_hh = cms_heavy_hitters(events.select("user_id"), "user_id",
                               support_ppm=10_000)
    n_cms = cms_hh.count()
    t_cms = round(time.time() - t0, 3)
    assert n_cms == n_exact_hh, (n_cms, n_exact_hh)
    results["cms_heavy_hitters"] = {
        "exact_sec": t_exact, "cms_sec": t_cms,
        "hitters": n_cms, "speedup": round(t_exact / t_cms, 2),
    }

    # --- 5. royalties under orderkey skew ----------------------------------
    # The flagship's own join under a viral key: 60% of the ×10
    # fixture's lineitem rows remapped onto ONE orderkey (deterministic
    # hash pick), then the REAL royalties report tree measured three
    # ways — naive SMJ (AQE skew splitter off), AQE skew-join on (the
    # engine default this repo ships), and the pre-shuffle salted join.
    # Also the bucketed layout, honestly: bucketing PINS the hot key to
    # one bucket's single task and removes the exchange AQE would need
    # to split, so co-location (the uniform-key winner) is the WRONG
    # layout for a pathological key — the number makes the trade
    # concrete next to BENCH_DIFF §scaling's bucketed win.
    from data_pipeline_stripe_spark.operators.layout import (
        write_bucketed_table)
    from data_pipeline_stripe_spark.queries.stripe import (
        _royalties_rates_dim, _royalties_report)
    from data_pipeline_stripe_spark.sources import load_table

    x10 = os.path.join(REPO, ".scratch", "sf0.1x10")
    if not os.path.exists(os.path.join(x10, "lineitem.parquet")):
        subprocess.run(
            [sys.executable,
             os.path.join(REPO, "tools", "make_scaled_fixture.py"),
             "10", x10],
            check=True,
        )
    li = load_table(spark, x10, "lineitem")
    orders = load_table(spark, x10, "orders")
    hot = orders.select(F.min("o_orderkey")).first()[0]
    li_skew = li.withColumn(
        "l_orderkey",
        F.when(F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(10))
               < 6, F.lit(hot).cast("long")).otherwise(F.col("l_orderkey")),
    )
    li_skew.cache().count()

    def timed_full(df) -> tuple[float, tuple]:
        """Time through the noop sink (count() would let the optimizer
        prune the royalty aggregate's arithmetic out of the measured
        plan), then collect the sorted rows so equality across the four
        plans is asserted on VALUES, not just cardinality."""
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        wall = round(time.time() - t0, 3)
        return wall, tuple(sorted(tuple(r) for r in df.collect()))

    def royalties_over(li_frame, orders_frame) -> tuple[float, tuple]:
        return timed_full(_royalties_report(spark, x10, li_frame,
                                            orders_frame))

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    try:
        t_naive, r_naive = royalties_over(li_skew, orders)
    finally:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    t_aqe, r_aqe = royalties_over(li_skew, orders)

    # salted: same report shape, fact join pre-salted (orders is the
    # replicated side — it is the smaller fact)
    from data_pipeline_stripe_spark.operators.skew import salted_join
    sup = load_table(spark, x10, "supplier")
    nat = load_table(spark, x10, "nation")
    reg = load_table(spark, x10, "region")
    dim = F.broadcast(
        sup.join(nat, sup.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .join(_royalties_rates_dim(spark),
              F.col("r_name") == F.col("region_name"))
        .select("s_suppkey", "n_name", "rate")
    )
    amount = (
        F.when(F.col("l_returnflag") == "R", F.lit(0.0))
        .otherwise(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                   * F.col("l_tax"))
    )
    salted = (
        salted_join(li_skew,
                    orders.withColumnRenamed("o_orderkey", "l_orderkey")
                    .select("l_orderkey", "o_orderdate"),
                    "l_orderkey")
        .join(dim, F.col("l_suppkey") == dim.s_suppkey)
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"),
                 F.col("n_name").alias("provider"))
        .agg(F.round(
            F.sum(F.round(amount * F.col("rate") * 1e7).cast("bigint"))
            / 1e7, 2).alias("royalty_usd"))
    )
    t_salt, r_salt = timed_full(salted)

    # bucketed layout under the same skew (hot key pinned to 1 bucket)
    write_bucketed_table(spark, li_skew, "skew_roy_li", "l_orderkey",
                         buckets=32)
    write_bucketed_table(
        spark, orders.select("o_orderkey", "o_orderdate"),
        "skew_roy_o", "o_orderkey", buckets=32)
    t_buck, r_buck = royalties_over(spark.table("skew_roy_li"),
                                    spark.table("skew_roy_o"))
    for t in ("skew_roy_li", "skew_roy_o"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    li_skew.unpersist()
    assert r_naive == r_aqe == r_salt == r_buck, "skew plans disagree"
    results["royalties_orderkey_skew"] = {
        "hot_fraction": 0.6, "rows": len(r_naive),
        "naive_smj_sec": t_naive,
        "aqe_skew_join_sec": t_aqe,
        "salted_join_sec": t_salt,
        "bucketed_layout_sec": t_buck,
        "aqe_speedup_vs_naive": round(t_naive / t_aqe, 2),
        "salted_speedup_vs_naive": round(t_naive / t_salt, 2),
    }

    print(json.dumps({"metric": "skew_bench", "fixture": SKEW_DIR,
                      "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
