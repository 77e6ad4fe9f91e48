"""Scale the sf0.1 fixture ×N by replication with key shifts — the
input for tools/bench_scaling.py's measured scale-up curve.

Replication keeps value distributions and join fan-outs representative
while growing row counts exactly ×N:

- orders / lineitem: order keys shift per replica (joins stay 1:N);
  part/supp/cust keys unchanged (dims do not scale — more fact rows
  per dim key, the usual warehouse growth shape).
- events: event_id shifts; user_id/ts/value unchanged (more events per
  user and per hour — window and sessionization load grows ×N).
- documents: doc_id shifts; replicas i>0 append a replica token so the
  corpus becomes a near-duplicate-heavy one (clusters of N near-dups —
  exactly the shape the LSH bucket caps exist for) instead of N exact
  copies of everything.
- embeddings: vec_id shifts; the first coordinate gets a small
  deterministic per-replica perturbation so ANN candidate generation
  sees N distinct near-neighbors per original, not N bit-identical
  vectors (exact duplicates would quadratically explode every
  signature bucket).
- region/nation/customer/supplier/part copy unchanged.

Usage: python tools/make_scaled_fixture.py <N> [out_dir]
(default out_dir .scratch/sf0.1x<N>)
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = "/root/testdata/sf0.1"

KEY_SHIFTS = {
    "orders": [("o_orderkey", 10_000_000)],
    "lineitem": [("l_orderkey", 10_000_000)],
    "events": [("event_id", 10_000_000)],
    "documents": [("doc_id", 1_000_000)],
    "embeddings": [("vec_id", 1_000_000)],
}
COPY_AS_IS = ["region", "nation", "customer", "supplier", "part"]


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out_dir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        REPO, ".scratch", f"sf0.1x{n}")
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F

    from data_pipeline_stripe_spark.session import (default_parallelism,
                                                    get_session)

    cpus = default_parallelism()
    spark = get_session(app_name="make_scaled_fixture",
                        master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    for t in COPY_AS_IS:
        shutil.copy(f"{SRC}/{t}.parquet", f"{out_dir}/{t}.parquet")

    for t, shifts in KEY_SHIFTS.items():
        base = spark.read.parquet(f"{SRC}/{t}.parquet")
        parts = []
        for i in range(n):
            rep = base
            for col, off in shifts:
                rep = rep.withColumn(col, F.col(col) + F.lit(i * off))
            if t == "documents" and i > 0:
                rep = rep.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" zrep{i}")))
            if t == "embeddings" and i > 0:
                # perturb coordinate 0 deterministically per replica
                rep = rep.withColumn(
                    "embedding",
                    F.expr(
                        f"transform(embedding, (x, j) -> CASE WHEN j = 0 "
                        f"THEN CAST(x + {i} * 0.01 AS FLOAT) ELSE x END)"
                    ),
                )
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
        print(f"{t}: x{n} written")
    spark.stop()
    print(out_dir)


if __name__ == "__main__":
    main()
