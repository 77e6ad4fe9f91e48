"""Profile one registry query end-to-end (driver-side attribution).

Usage: python tools/profile_query.py <name> [sf_dir] [--profile] [--runs N]

Runs the named query through the same noop-sink methodology as bench.py.
With --profile, wraps the run in cProfile and prints the top call sites by
cumulative time — for multi-action gates this attributes wall time to the
specific commit/read/count sites (py4j socket waits charge to the caller).

Each run also prints the generated classes Janino compiled during it (the
``CodegenMetrics`` compile-count delta) and the driver JVM's JIT compile
time (the ``CompilationMXBean`` total-time delta), so a run that misses
the codegen cache shows as compiles > 0.
"""

from __future__ import annotations

import cProfile
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    name = args[0]
    sf_dir = args[1] if len(args) > 1 else "/root/testdata/sf0.1"
    runs = 1
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
    do_profile = "--profile" in sys.argv

    from data_pipeline_stripe_spark.queries import REGISTRY
    from data_pipeline_stripe_spark.session import (default_parallelism,
                                                    get_session)

    cpus = default_parallelism()
    spark = get_session(app_name=f"profile-{name}", master=f"local[{cpus}]",
                        shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    jvm = spark._jvm
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    def run() -> str:
        c0 = codegen.METRIC_COMPILATION_TIME().getCount()
        j0 = jit.getTotalCompilationTime()
        t0 = time.time()
        df = REGISTRY[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        return (f"{dt:.3f}s, codegen compiles "
                f"{codegen.METRIC_COMPILATION_TIME().getCount() - c0}, "
                f"JIT compile {jit.getTotalCompilationTime() - j0} ms")

    # warmup (JVM codegen)
    from pyspark.sql import functions as F  # noqa: F401
    spark.range(1000).groupBy((F.col("id") % 10).alias("g")).count() \
        .write.format("noop").mode("overwrite").save()

    for i in range(runs):
        if do_profile and i == runs - 1:
            prof = cProfile.Profile()
            prof.enable()
            stats = run()
            prof.disable()
            print(f"{name} run{i}: {stats}")
            st = pstats.Stats(prof)
            st.sort_stats("cumulative")
            st.print_stats(45)
        else:
            print(f"{name} run{i}: {run()}")
    spark.stop()


if __name__ == "__main__":
    main()
