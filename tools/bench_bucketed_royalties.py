"""Quantify the bucketed-layout fix for the measured worst scaler.

BENCH_DIFF.md §scaling shows plain ``royalties_monthly_usd`` growing
~10× in wall-clock for 100× data — all of it the lineitem⋈orders
fact-fact shuffle. ``royalties_monthly_usd_bucketed`` removes that
shuffle by bucketing both facts on the order key. This tool separates
the two costs that decision trades:

- ``layout_s``   — the ONE-TIME bucketed write of both facts
  (amortized across every orderkey-joining query the warehouse runs);
- ``bucketed_query_s`` — the recurring report over the pre-built
  tables (best-of-2, noop sink);
- ``plain_query_s``    — the recurring report over plain parquet
  (best-of-2, noop sink).

Usage: python tools/bench_bucketed_royalties.py [fixture_dir]
(default .scratch/sf0.1x100). Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    fixture = sys.argv[1] if len(sys.argv) > 1 else ".scratch/sf0.1x100"

    from data_pipeline_stripe_spark.operators.layout import (
        write_bucketed_table,
    )
    from data_pipeline_stripe_spark.queries.stripe import _royalties_report
    from data_pipeline_stripe_spark.session import (default_parallelism,
                                                    get_session)
    from data_pipeline_stripe_spark.sources import load_table

    cpus = default_parallelism()
    spark = get_session(app_name="bench_bucketed_royalties",
                        master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def timed(fn) -> float:
        t0 = time.time()
        fn()
        return time.time() - t0

    def to_noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def plain():
        to_noop(_royalties_report(
            spark, fixture,
            load_table(spark, fixture, "lineitem"),
            load_table(spark, fixture, "orders"),
        ))

    timed(plain)  # JVM/codegen warmup, not timed
    plain_s = min(timed(plain) for _ in range(2))

    li_t, o_t = "bench_roy_li", "bench_roy_o"

    def layout():
        li_cols = ["l_orderkey", "l_suppkey", "l_returnflag",
                   "l_extendedprice", "l_discount", "l_tax"]
        write_bucketed_table(
            spark, load_table(spark, fixture, "lineitem").select(*li_cols),
            li_t, "l_orderkey", buckets=32,
        )
        write_bucketed_table(
            spark,
            load_table(spark, fixture, "orders")
            .select("o_orderkey", "o_orderdate"),
            o_t, "o_orderkey", buckets=32,
        )

    layout_s = timed(layout)

    def bucketed():
        to_noop(_royalties_report(spark, fixture, spark.table(li_t),
                                  spark.table(o_t)))

    bucketed_s = min(timed(bucketed) for _ in range(2))

    for t in (li_t, o_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

    delta = plain_s - bucketed_s
    print(json.dumps({
        "metric": "bucketed_royalties",
        "fixture": fixture,
        "cpus": cpus,
        "plain_query_s": round(plain_s, 3),
        "layout_s": round(layout_s, 3),
        "bucketed_query_s": round(bucketed_s, 3),
        "query_speedup": round(plain_s / bucketed_s, 2),
        # None = the bucketed query was not faster here, so the layout
        # never amortizes (expected on tiny fixed-overhead fixtures)
        "breakeven_runs": round(layout_s / delta, 1) if delta > 0 else None,
    }))


if __name__ == "__main__":
    main()
