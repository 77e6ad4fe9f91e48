"""Skew mitigation: salted joins and two-phase aggregation.

AQE's skew-join handles moderate skew at runtime; salting is the explicit
tool when one key dominates (a viral resourceId, an empty-string country).
Both operators here preserve exact semantics — they only change the
physical key distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(left: DataFrame, right: DataFrame, on: str,
                n_salts: int = 16, how: str = "inner") -> DataFrame:
    """Equi-join where the LEFT side is large and skewed on ``on`` and the
    right side is small-ish: left rows get a random salt in [0, n_salts),
    the right side is replicated n_salts times, and the join key becomes
    (key, salt) — a hot key's rows spread over n_salts reducers instead
    of one straggler.

    The salt is derived from a hash of the full left row (not rand()) so
    the operator stays deterministic and retry-safe. pmod, not abs(...)%n:
    abs(Long.MIN_VALUE) stays negative on the JVM, and a negative salt
    would match no replicated right-side salt — silently dropping the row
    from an inner join.

    Only LEFT-family joins are accepted: the right side is replicated
    n_salts times, so a right/full outer join would emit every unmatched
    right REPLICA as its own null-extended row (n_salts duplicates) —
    salting the other side is a different operator, and failing loudly
    beats silently corrupted outer results.
    """
    safe = {"inner", "left", "left_outer", "leftouter", "left_semi",
            "leftsemi", "semi", "left_anti", "leftanti", "anti", "cross"}
    if how.lower() not in safe - {"cross"}:
        raise ValueError(
            f"salted_join supports inner/left-family joins only, got "
            f"{how!r} — right/full outer would duplicate unmatched right "
            f"rows once per salt replica")
    left_cols = left.columns
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left_cols]), F.lit(n_salts))
    l = left.withColumn("_salt", salt.cast("int"))
    r = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return l.join(r, [on, "_salt"], how).drop("_salt")


def two_phase_agg(df: DataFrame, key: str, value: str,
                  n_salts: int = 16) -> DataFrame:
    """Sum on a skewed key in two shuffles: first on (key, salt) —
    partial sums spread across reducers — then on key alone over the
    tiny partial table; a sum of partial sums is exact. (Spark's
    map-side partial aggregation usually makes this unnecessary; it
    matters when the hot key's partials themselves overflow one
    reducer.) Returns (key, <value>_sum)."""
    # salt by the input PARTITION, not by hash(key, value): a hot key
    # with a constant value (count columns, boolean flags) would hash to
    # ONE salt and still funnel into a single reducer. Partition-derived
    # salts spread a hot key across reducers by construction. The refold
    # of partial sums is grouping-insensitive EXACTLY (so the result is
    # partitioning-independent) for integral values — the repo's
    # quantize-to-integer-cents policy; for floating double sums the
    # per-salt grouping changes fp addition order, so results are only
    # deterministic up to fp association (quantize first if
    # bit-reproducibility matters).
    salt = F.pmod(F.spark_partition_id(), F.lit(n_salts)).cast("int")
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(F.sum(value).alias("_partial"))
    )
    return partial.groupBy(key).agg(F.sum("_partial").alias(f"{value}_sum"))
