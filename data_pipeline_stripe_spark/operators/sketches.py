"""Mergeable distinct-count sketches: the pre-aggregated HLL table
pattern.

At 100 TB you do not re-scan the lake to answer "distinct users per
month/region/total" — you maintain a SMALL per-(fine-grain-key) table of
HyperLogLog sketch blobs and answer every coarser rollup by UNIONING
sketches (`hll_union_agg`), never touching raw data again. Spark ships
the Apache DataSketches HLL family as SQL functions (hll_sketch_agg /
hll_union_agg / hll_sketch_estimate), so the partial state is an
ordinary binary column: persistable to parquet, mergeable across days,
engines, and ingest batches — the sketch twin of the exact
partial-state merge in ivm_merge_revenue_by_month.

DataSketches HLL is deterministic for a given input set and lgK, so
rolling up merged partials gives the BIT-IDENTICAL estimate the direct
coarse-grain sketch gives — pinned by tests/test_operators.py.

Reference parity: the reference's reports recount distincts from raw
events on every run (reference platform_usage.py full re-reads); this
is the operator that makes those counters incremental.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Deterministic HLL geometry (det_hll_estimate): md5 → 60-bit value,
# top P bits pick the register, the first-1-bit position of the low
# REM_BITS caps at RHO_CAP. Fixed across engines and rounds — changing
# any of these changes every estimate.
_HLL_P = 10
_HLL_M = 1 << _HLL_P            # 1024 registers
_HLL_REM_BITS = 50              # 60-bit hash minus P bucket bits
_HLL_RHO_CAP = 40               # harmonic terms stay exact in BIGINT
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
# alpha * m^2 * 2^RHO_CAP, the numerator of the raw estimator at the
# fixed-point scale. repr() is shortest-round-trip, so the embedded SQL
# literal parses to the bit-identical double on any engine.
_HLL_NUM = _HLL_ALPHA * _HLL_M * _HLL_M * float(1 << _HLL_RHO_CAP)


def det_hll_estimate(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """Cross-engine-deterministic HyperLogLog distinct estimate.

    Same sketch as ``hll_partials``/``hll_rollup`` conceptually, but the
    hash is md5 (defined identically in every engine) instead of an
    engine-private murmur, and the harmonic mean runs in fixed-point
    integers (terms ``2^(RHO_CAP - M_j)``, all < 2^40; sum < 2^50 —
    exact in BIGINT, so the fold is associative and partitioning-proof).
    The only float steps are one constant/integer division and, in the
    small range (raw < 2.5m with empty registers), linear counting
    ``m·ln(m/V)`` — both rounded to 4 digits on every engine, so the
    estimate is reproducible bit-for-bit across Spark, DuckDB, and any
    SQL engine with md5/bin. Two shuffles, both map-side combinable:
    (keys, bucket) register max, then the per-key fold over ≤1024 rows.
    At 100 TB the register table IS the persistable partial state —
    merge by max(m_j), exactly like hll_merge_partials.

    Accuracy: standard HLL ~1.04/sqrt(m) ≈ 3.3% relative error at
    m=1024; rho capped at 40 saturates only past ~2^40 distincts per
    register (~10^15 total) — beyond any single-key cardinality here.

    NULLs in ``col`` are ignored, matching approx_count_distinct /
    COUNT(DISTINCT) semantics — without the filter a NULL row would
    land in a NULL register that the occupancy count sees but the
    harmonic sum skips, silently shifting the estimate (and the oracle's
    '0x'||md5(NULL) cast would error instead).
    """
    return det_hll_fold(det_hll_registers(df, keys, col), keys)


def det_hll_registers(df: DataFrame, keys: list[str], col: str) -> DataFrame:
    """The deterministic-HLL register table (keys, bucket, m_j) — the
    persistable/mergeable partial state behind :func:`det_hll_estimate`.
    Merge across batches (or UNION sets across keys) by max(m_j) per
    bucket; re-estimate any merged state with :func:`det_hll_fold`."""
    df = df.filter(F.col(col).isNotNull())
    rem = F.conv(
        F.substring(F.md5(F.col(col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    bucket = F.shiftright(rem, _HLL_REM_BITS)
    low = rem.bitwiseAND(F.lit((1 << _HLL_REM_BITS) - 1))
    rho = F.when(low == 0, F.lit(_HLL_RHO_CAP)).otherwise(
        F.least(
            F.lit(_HLL_REM_BITS + 1) - F.length(F.bin(low)),
            F.lit(_HLL_RHO_CAP),
        )
    )
    return (
        df.select(*keys, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*keys, "bucket")
        .agg(F.max("rho").alias("m_j"))
    )


def det_hll_fold(reg: DataFrame, keys: list[str]) -> DataFrame:
    """Fold a register table into the per-key estimate (see
    det_hll_estimate for the numeric-determinism contract)."""
    fold = reg.groupBy(*keys).agg(
        # DSL shiftleft() only takes a literal bit count; the SQL form
        # accepts an expression.
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RHO_CAP} - m_j)"))
        .alias("s_occ"),
        F.count("*").alias("occ"),
    )
    v = F.lit(_HLL_M) - F.col("occ")
    s = F.col("s_occ") + v * F.lit(1 << _HLL_RHO_CAP).cast("long")
    raw = F.lit(_HLL_NUM) / s.cast("double")
    est = F.when(
        (raw < F.lit(2.5 * _HLL_M)) & (v > 0),
        F.round(F.lit(float(_HLL_M)) * F.log(F.lit(float(_HLL_M)) / v.cast("double")), 4),
    ).otherwise(F.round(raw, 4))
    return fold.select(*keys, est.alias("approx_distinct"))


def det_hll_pairwise_overlap(df: DataFrame, key: str,
                             col: str) -> DataFrame:
    """Pairwise audience overlap between every two values of ``key`` by
    HLL SET ALGEBRA — no join of the raw sets: the union sketch of two
    sets is the register-wise MAX of their sketches, so
    ``|A∩B| ≈ est(A) + est(B) − est(A∪B)`` (inclusion–exclusion).
    This is what makes sketch tables more than counters at 100 TB:
    cross-segment overlap questions (users who both click and purchase)
    answer from the KB-scale register tables alone, never re-scanning
    or joining the fact. All arithmetic rides det_hll's deterministic
    estimates, so the result is engine-exact; overlaps clamp at 0 (the
    estimator can go slightly negative on near-disjoint sets).

    Shape: one register build over the fact (two map-side-combinable
    shuffles), a tiny distinct-key self-join for the pair list, keyed
    joins everywhere else. Returns (key_a, key_b, approx_a, approx_b,
    approx_union, approx_overlap) for key_a < key_b.
    """
    reg = det_hll_registers(df, [key], col)
    singles = det_hll_fold(reg, [key])
    ks = reg.select(F.col(key)).distinct()
    pairs = (
        ks.select(F.col(key).alias("key_a"))
        .join(ks.select(F.col(key).alias("key_b")),
              F.col("key_a") < F.col("key_b"))
    )
    a = reg.select(F.col(key).alias("key_a"), "bucket", "m_j")
    b = reg.select(F.col(key).alias("key_b"), "bucket", "m_j")
    union_regs = (
        pairs.join(a, "key_a").select("key_a", "key_b", "bucket", "m_j")
        .unionByName(
            pairs.join(b, "key_b").select("key_a", "key_b", "bucket", "m_j"))
        .groupBy("key_a", "key_b", "bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    est_union = det_hll_fold(union_regs, ["key_a", "key_b"]).select(
        "key_a", "key_b", F.col("approx_distinct").alias("approx_union"))
    ea = singles.select(F.col(key).alias("key_a"),
                        F.col("approx_distinct").alias("approx_a"))
    eb = singles.select(F.col(key).alias("key_b"),
                        F.col("approx_distinct").alias("approx_b"))
    return (
        est_union.join(ea, "key_a").join(eb, "key_b")
        .select(
            "key_a", "key_b", "approx_a", "approx_b", "approx_union",
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.col("approx_a") + F.col("approx_b")
                    - F.col("approx_union"),
                ), 4,
            ).alias("approx_overlap"),
        )
    )


def _hll_fold_est_sql() -> str:
    """The estimate expression over (s_occ, occ) columns — shared by
    every fold in the oracle generators (must stay identical or the
    single and union estimates silently diverge)."""
    cap, m = _HLL_RHO_CAP, _HLL_M
    raw = (f"({_HLL_NUM!r} / CAST(s_occ + ({m} - occ)"
           f" * (CAST(1 AS BIGINT) << {cap}) AS DOUBLE))")
    return f"""CAST(CASE WHEN {raw} < {2.5 * m!r} AND ({m} - occ) > 0
                     THEN ROUND({float(m)!r} * ln({float(m)!r}
                              / CAST({m} - occ AS DOUBLE)), 4)
                     ELSE ROUND({raw}, 4)
                END AS DOUBLE)"""


def det_hll_overlap_oracle_sql(table: str, key: str, col: str) -> str:
    """DuckDB transcription of :func:`det_hll_pairwise_overlap`."""
    cap, rb = _HLL_RHO_CAP, _HLL_REM_BITS
    est = _hll_fold_est_sql()
    return f"""
    WITH hv AS (
        SELECT {key},
               CAST(CONCAT('0x', substring(md5(CAST({col} AS VARCHAR)),
                                           1, 15)) AS BIGINT) AS h
        FROM {table}
        WHERE {col} IS NOT NULL
    ), br AS (
        SELECT {key}, (h >> {rb}) AS bucket,
               CASE WHEN (h & ((CAST(1 AS BIGINT) << {rb}) - 1)) = 0
                    THEN {cap}
                    ELSE LEAST({rb + 1} - LENGTH(bin(
                             h & ((CAST(1 AS BIGINT) << {rb}) - 1))), {cap})
               END AS rho
        FROM hv
    ), reg AS (
        SELECT {key}, bucket, MAX(rho) AS m_j FROM br GROUP BY ALL
    ), single_fold AS (
        SELECT {key},
               CAST(SUM(CAST(1 AS BIGINT) << ({cap} - m_j)) AS BIGINT)
                   AS s_occ,
               CAST(COUNT(*) AS BIGINT) AS occ
        FROM reg GROUP BY ALL
    ), singles AS (
        SELECT {key}, {est} AS approx_distinct FROM single_fold
    ), ks AS (SELECT DISTINCT {key} FROM reg
    ), pairs AS (
        SELECT a.{key} AS key_a, b.{key} AS key_b
        FROM ks a JOIN ks b ON a.{key} < b.{key}
    ), union_regs AS (
        SELECT key_a, key_b, bucket, MAX(m_j) AS m_j FROM (
            SELECT p.key_a, p.key_b, r.bucket, r.m_j
            FROM pairs p JOIN reg r ON r.{key} = p.key_a
            UNION ALL
            SELECT p.key_a, p.key_b, r.bucket, r.m_j
            FROM pairs p JOIN reg r ON r.{key} = p.key_b
        ) GROUP BY ALL
    ), union_fold AS (
        SELECT key_a, key_b,
               CAST(SUM(CAST(1 AS BIGINT) << ({cap} - m_j)) AS BIGINT)
                   AS s_occ,
               CAST(COUNT(*) AS BIGINT) AS occ
        FROM union_regs GROUP BY ALL
    ), unions AS (
        SELECT key_a, key_b, {est} AS approx_union FROM union_fold
    )
    SELECT u.key_a, u.key_b,
           ea.approx_distinct AS approx_a,
           eb.approx_distinct AS approx_b,
           u.approx_union,
           ROUND(GREATEST(0.0, ea.approx_distinct + eb.approx_distinct
                               - u.approx_union), 4) AS approx_overlap
    FROM unions u
    JOIN singles ea ON ea.{key} = u.key_a
    JOIN singles eb ON eb.{key} = u.key_b
    """


def det_hll_oracle_sql(table: str, keys: str, col: str) -> str:
    """The DuckDB transcription of ``det_hll_estimate`` — same geometry
    constants, same fixed-point fold, same 4-digit rounding."""
    cap, rb, m = _HLL_RHO_CAP, _HLL_REM_BITS, _HLL_M
    return f"""
    WITH hv AS (
        SELECT {keys},
               CAST(CONCAT('0x', substring(md5(CAST({col} AS VARCHAR)),
                                           1, 15)) AS BIGINT) AS h
        FROM {table}
        WHERE {col} IS NOT NULL
    ), br AS (
        SELECT {keys}, (h >> {rb}) AS bucket,
               CASE WHEN (h & ((CAST(1 AS BIGINT) << {rb}) - 1)) = 0
                    THEN {cap}
                    ELSE LEAST({rb + 1} - LENGTH(bin(
                             h & ((CAST(1 AS BIGINT) << {rb}) - 1))), {cap})
               END AS rho
        FROM hv
    ), reg AS (
        SELECT {keys}, bucket, MAX(rho) AS m_j FROM br GROUP BY ALL
    ), fold AS (
        SELECT {keys},
               CAST(SUM(CAST(1 AS BIGINT) << ({cap} - m_j)) AS BIGINT)
                   AS s_occ,
               CAST(COUNT(*) AS BIGINT) AS occ
        FROM reg GROUP BY ALL
    )
    SELECT {keys},
           CAST(CASE WHEN ({_HLL_NUM!r} / CAST(s_occ + ({m} - occ)
                          * (CAST(1 AS BIGINT) << {cap}) AS DOUBLE))
                          < {2.5 * m!r}
                      AND ({m} - occ) > 0
                     THEN ROUND({float(m)!r} * ln({float(m)!r}
                              / CAST({m} - occ AS DOUBLE)), 4)
                     ELSE ROUND({_HLL_NUM!r} / CAST(s_occ + ({m} - occ)
                              * (CAST(1 AS BIGINT) << {cap}) AS DOUBLE), 4)
                END AS DOUBLE) AS approx_distinct
    FROM fold
    """


def hll_partials(df: DataFrame, keys: list[str], col: str,
                 lgk: int = 12) -> DataFrame:
    """Per-key HLL sketch partials — the persisted incremental state.
    One row per key tuple with a binary ``hll`` sketch column (~2^lgk
    bytes max, independent of input size)."""
    return df.groupBy(*keys).agg(
        F.expr(f"hll_sketch_agg({col}, {lgk})").alias("hll")
    )


def hll_rollup(partials: DataFrame, keys: list[str]) -> DataFrame:
    """Roll sketch partials up to a coarser grain by sketch union —
    no raw-data rescan. ``keys`` may be any subset of the partials'
    grouping (empty list = grand total)."""
    agg = F.expr(
        "hll_sketch_estimate(hll_union_agg(hll))"
    ).alias("approx_distinct")
    if keys:
        return partials.groupBy(*keys).agg(agg)
    return partials.agg(agg)


def hll_merge_partials(a: DataFrame, b: DataFrame,
                       keys: list[str]) -> DataFrame:
    """Merge two partial-sketch tables (e.g. yesterday's state + today's
    batch) into one — the incremental-ingest step. Union + one sketch
    union per key; output schema matches ``hll_partials``."""
    return (
        a.unionByName(b)
        .groupBy(*keys)
        .agg(F.expr("hll_union_agg(hll)").alias("hll"))
    )


def histogram_percentiles(df: DataFrame, keys: list[str], col: str,
                          quantiles: list[tuple[str, int, int]],
                          scale: int = 100) -> DataFrame:
    """Quantized-histogram percentiles — the deterministic, mergeable
    approximate-quantile sketch (grid error ≤ 1/scale, zero rank error).

    ``percentile_approx``'s KLL-style sketch is engine-private and
    non-deterministic under merge order; this is the fixed-grid
    alternative whose state is an ordinary (key, bin, count) table:
    map-side combinable, mergeable across batches by adding counts, and
    bit-identical on any engine. ``quantiles`` is a list of
    (alias, num, den) rank fractions; the value reported for q = num/den
    is the smallest bin value whose cumulative count reaches
    ceil(q * n) — pure integer arithmetic (cum * den >= num * n), no
    float rank interpolation, so ties and boundaries resolve identically
    everywhere.

    Plan: one shuffle for the (keys, bin) histogram (partial agg does
    the heavy lifting: post-shuffle rows = distinct bins, not input
    rows), then windows over the compacted histogram. At 100 TB the
    full sort an exact percentile needs is the thing this avoids; the
    histogram is O(distinct bins) per key.
    """
    from pyspark.sql.window import Window as W

    from ._names import reject_reserved

    reject_reserved(
        [*keys, *(alias for alias, _, _ in quantiles)],
        ["bin", "n", "cum", "tot"], "histogram_percentiles")
    binned = (
        df.select(
            *keys,
            F.round(F.col(col) * scale).cast("long").alias("bin"),
        )
        .groupBy(*keys, "bin")
        .agg(F.count("*").alias("n"))
    )
    cum_w = (
        W.partitionBy(*keys).orderBy("bin")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tot_w = W.partitionBy(*keys)
    t = binned.select(
        *keys, "bin",
        F.sum("n").over(cum_w).alias("cum"),
        F.sum("n").over(tot_w).alias("tot"),
    )
    aggs = [
        F.min(F.when(F.col("cum") * den >= F.lit(num) * F.col("tot"),
                     F.col("bin"))).alias(alias)
        for alias, num, den in quantiles
    ]
    return t.groupBy(*keys).agg(*aggs)


def histogram_percentiles_oracle_sql(table: str, keys: str, col: str,
                                     quantiles: list[tuple[str, int, int]],
                                     scale: int = 100) -> str:
    """DuckDB transcription of ``histogram_percentiles``."""
    sels = ",\n           ".join(
        f"CAST(MIN(CASE WHEN cum * {den} >= {num} * tot THEN bin END)"
        f" AS BIGINT) AS {alias}"
        for alias, num, den in quantiles
    )
    return f"""
    WITH q AS (
        SELECT {keys}, CAST(ROUND({col} * {scale}) AS BIGINT) AS bin
        FROM {table}
    ), c AS (
        SELECT {keys}, bin, COUNT(*) AS n FROM q GROUP BY ALL
    ), t AS (
        SELECT {keys}, bin,
               SUM(n) OVER (PARTITION BY {keys} ORDER BY bin) AS cum,
               SUM(n) OVER (PARTITION BY {keys}) AS tot
        FROM c
    )
    SELECT {keys},
           {sels}
    FROM t GROUP BY ALL
    """


def mad_stats(df: DataFrame, keys: list[str], col: str, k: int = 5,
              scale: int = 100) -> DataFrame:
    """Median-absolute-deviation robust outlier stats — the
    breakdown-point-0.5 alternative to the 3-sigma gate
    (relational4.py's sigma outliers): one extreme sensor can drag a
    mean and stddev arbitrarily far, but the median and the MAD ignore
    up to half the data being corrupt. Reports, per key group, the
    cent-grid discrete median, the MAD (median of |x − med|), the group
    size, and how many rows sit beyond ``k`` MADs from the median.

    Everything is integer arithmetic on the cent grid (the winsorize
    lesson: float-interpolated percentiles must never feed a
    comparison), so the DuckDB oracle (``mad_stats_oracle_sql``) is a
    transcription. ``k`` is an integer multiplier rather than the
    textbook 1.4826·sigma scaling — the float constant would put a
    comparison on an ulp boundary; k=5 MADs ≈ 3.37 sigma for normal
    data.

    Plan shape: raw data is scanned exactly ONCE (the value histogram —
    map-side combinable, post-shuffle rows = distinct cents per key);
    the median is attached to every histogram row by a partition window
    (never a join-back, which would re-plan the scan subtree), the
    DEVIATION histogram |c − med| is derived FROM the value histogram,
    and the MAD and outlier count fold out of it the same way. One scan,
    zero joins, every post-scan shuffle O(distinct bins) — the same
    mergeable-sketch scaling story as histogram_percentiles.
    """
    from pyspark.sql.window import Window as W

    from ._names import reject_reserved

    reject_reserved(keys, ["_c", "n", "cum", "tot", "med", "d", "mad",
                           "n_total", "med_cents", "mad_cents",
                           "n_outliers"], "mad_stats")
    grp = W.partitionBy(*keys)
    cum_c = grp.orderBy("_c").rowsBetween(W.unboundedPreceding,
                                          W.currentRow)
    h = (
        df.select(*keys,
                  F.round(F.col(col) * scale).cast("long").alias("_c"))
        .groupBy(*keys, "_c").agg(F.count("*").alias("n"))
        .select(*keys, "_c", "n",
                F.sum("n").over(cum_c).alias("cum"),
                F.sum("n").over(grp).alias("tot"))
        .withColumn("med", F.min(
            F.when(F.col("cum") * 2 >= F.col("tot"), F.col("_c")))
            .over(grp))
    )
    cum_d = grp.orderBy("d").rowsBetween(W.unboundedPreceding,
                                         W.currentRow)
    dh = (
        h.groupBy(*keys, F.col("med"), F.col("tot").alias("n_total"),
                  F.abs(F.col("_c") - F.col("med")).alias("d"))
        .agg(F.sum("n").alias("n"))
        .withColumn("cum", F.sum("n").over(cum_d))
        .withColumn("mad", F.min(
            F.when(F.col("cum") * 2 >= F.col("n_total"), F.col("d")))
            .over(grp))
    )
    return (
        dh.groupBy(*keys)
        .agg(F.max("med").alias("med_cents"),
             F.max("mad").alias("mad_cents"),
             F.max("n_total").alias("n_total"),
             F.sum(F.when(F.col("d") > k * F.col("mad"), F.col("n"))
                   .otherwise(F.lit(0))).cast("long").alias("n_outliers"))
        .select(*keys, "med_cents", "mad_cents", "n_total", "n_outliers")
    )


def mad_stats_oracle_sql(table: str, keys: str, col: str, k: int = 5,
                         scale: int = 100) -> str:
    """DuckDB transcription of ``mad_stats`` (same integer rank rule
    cum·2 ≥ tot as histogram_percentiles_oracle_sql)."""
    return f"""
    WITH q AS (
        SELECT {keys}, CAST(ROUND({col} * {scale}) AS BIGINT) AS c
        FROM {table}
    ), h AS (
        SELECT {keys}, c, COUNT(*) AS n FROM q GROUP BY ALL
    ), med AS (
        SELECT {keys}, MIN(CASE WHEN cum * 2 >= tot THEN c END) AS med
        FROM (
            SELECT {keys}, c,
                   SUM(n) OVER (PARTITION BY {keys} ORDER BY c) AS cum,
                   SUM(n) OVER (PARTITION BY {keys}) AS tot
            FROM h
        ) GROUP BY {keys}
    ), dh AS (
        SELECT q.{keys}, ABS(c - med) AS d, COUNT(*) AS n
        FROM q JOIN med USING ({keys}) GROUP BY ALL
    ), mad AS (
        SELECT {keys},
               MIN(CASE WHEN cum * 2 >= tot THEN d END) AS mad,
               MAX(tot) AS n_total
        FROM (
            SELECT {keys}, d,
                   SUM(n) OVER (PARTITION BY {keys} ORDER BY d) AS cum,
                   SUM(n) OVER (PARTITION BY {keys}) AS tot
            FROM dh
        ) GROUP BY {keys}
    )
    SELECT med.{keys},
           CAST(med AS BIGINT) AS med_cents,
           CAST(mad AS BIGINT) AS mad_cents,
           CAST(n_total AS BIGINT) AS n_total,
           CAST(COALESCE(SUM(CASE WHEN d > {k} * mad THEN n END), 0)
                AS BIGINT) AS n_outliers
    FROM med
    JOIN mad USING ({keys})
    JOIN dh USING ({keys})
    GROUP BY ALL
    """


# Count-min sketch geometry: D independent md5-derived hash rows over W
# counters. Width bounds the overestimate (eps ~ e/W of total count),
# depth bounds its probability (delta ~ e^-D). Fixed so every engine
# regenerates the identical sketch.
_CMS_DEPTH = 4
_CMS_WIDTH = 256


def _cms_slot(row_col: str, key_col: str):
    """The ONE slot derivation both the sketch build and the probe use:
    md5("<row>:<key>") first 8 hex chars → int mod W. Shared so the two
    sides can never drift apart — mismatched slots would make probes
    miss counters and return arbitrary wrong minima with no error (the
    same drift class _band_rows guards against in llm/dedup.py)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(row_col).cast("string"), F.lit(":"),
                               F.col(key_col).cast("string"))),
                1, 8), 16, 10,
        ).cast("long") % _CMS_WIDTH
    )


def cms_table(df: DataFrame, key_col: str) -> DataFrame:
    """Count-min sketch as an ordinary DataFrame — the mergeable
    frequency-sketch state (row, slot, n): for each of D=4 hash rows,
    slot = md5("<row>:<key>") parsed to an int mod W=256, counters are
    plain counts. Deterministic on any engine with md5 (same hash-slice
    pattern as the MinHash slots); mergeable across batches by summing
    n per (row, slot); total size D·W rows regardless of input size.
    One map-side-combinable shuffle. NULL keys are ignored (a NULL is
    not a frequency class; it would also land in a NULL slot the probe
    join can never match, silently inflating totals)."""
    rows = F.explode(F.array(*[F.lit(d) for d in range(_CMS_DEPTH)]))
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(F.col(key_col), rows.alias("row"))
        .select("row", _cms_slot("row", key_col).alias("slot"))
        .groupBy("row", "slot")
        .agg(F.count("*").alias("n"))
    )


def cms_heavy_hitters(df: DataFrame, key_col: str,
                      support_ppm: int) -> DataFrame:
    """Heavy hitters via count-min: candidate keys whose CMS estimate
    (min over the D row counters the key hashes to) reaches the support
    threshold ``support_ppm`` parts-per-million of the total row
    count, verified with exact counts — the standard two-phase
    frequent-items shape at 100 TB: the sketch probe joins the D·W-row
    sketch (broadcastable), and the exact verify re-counts ONLY the
    few candidates (semi-join pushdown), never the key universe. CMS
    never undercounts, so the verified result is the exact answer set.
    The threshold compare is pure integer arithmetic (est·1e6 >=
    total·ppm — no division), so the cut is engine-exact.
    Returns (key_col, est_count, n_exact).

    When to use (measured, BENCH_DIFF.md §skew): NOT for small key
    universes — on a 10k-key 20M-row fixture the exact groupBy is ~12×
    FASTER (its partial aggregation collapses to ~|keys| combiner
    entries per task; the sketch pays a ×D row explode first). The
    sketch's regime is a key universe too large for partial-agg state:
    exact shuffles |keys| partial rows and spills, CMS still shuffles
    D·W counters per task regardless of cardinality."""
    sketch = cms_table(df, key_col)
    # total = sum of any one sketch row (each row counts every input
    # exactly once) — no second scan of the input
    totals = (
        sketch.filter(F.col("row") == 0)
        .agg(F.sum("n").alias("_total"))
    )
    rows = F.explode(F.array(*[F.lit(d) for d in range(_CMS_DEPTH)]))
    probes = (
        df.filter(F.col(key_col).isNotNull())
        .select(key_col).distinct()
        .select(key_col, rows.alias("row"))
        .withColumn("slot", _cms_slot("row", key_col))
    )
    est = (
        probes.join(sketch, ["row", "slot"])
        .groupBy(key_col)
        .agg(F.min("n").alias("est_count"))
        .join(F.broadcast(totals))
        .filter(F.col("est_count") * 1_000_000
                >= F.col("_total") * support_ppm)
    )
    exact = (
        df.join(est.select(key_col), [key_col], "left_semi")
        .groupBy(key_col)
        .agg(F.count("*").alias("n_exact"))
    )
    return (
        est.join(exact, [key_col])
        .filter(F.col("n_exact") * 1_000_000 >= F.col("_total") * support_ppm)
        .select(key_col, "est_count", "n_exact")
    )


def cms_oracle_sql(table: str, key_col: str, support_ppm: int) -> str:
    """DuckDB transcription of ``cms_heavy_hitters``. NULL keys are
    filtered, mirroring cms_table."""
    d, w = _CMS_DEPTH, _CMS_WIDTH
    return f"""
    WITH hashed AS (
        SELECT {key_col}, r.row,
               CAST(CONCAT('0x', substring(md5(CAST(r.row AS VARCHAR)
                    || ':' || CAST({key_col} AS VARCHAR)), 1, 8))
                    AS BIGINT) % {w} AS slot
        FROM {table}
        CROSS JOIN (SELECT unnest(range(0, {d})) AS row) r
        WHERE {key_col} IS NOT NULL
    ), sketch AS (
        SELECT row, slot, COUNT(*) AS n
        FROM hashed GROUP BY ALL
    ), tot AS (
        SELECT SUM(n) AS total FROM sketch WHERE row = 0
    ), probes AS (
        SELECT DISTINCT {key_col}, row, slot FROM hashed
    ), est AS (
        SELECT {key_col}, CAST(MIN(n) AS BIGINT) AS est_count
        FROM probes JOIN sketch USING (row, slot)
        GROUP BY {key_col}
        HAVING MIN(n) * 1000000 >= (SELECT total FROM tot) * {support_ppm}
    ), exact AS (
        SELECT {key_col}, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM {table}
        WHERE {key_col} IN (SELECT {key_col} FROM est)
        GROUP BY {key_col}
    )
    SELECT est.{key_col}, est.est_count, exact.n_exact
    FROM est JOIN exact USING ({key_col})
    WHERE exact.n_exact * 1000000
          >= (SELECT total FROM tot) * {support_ppm}
    """
