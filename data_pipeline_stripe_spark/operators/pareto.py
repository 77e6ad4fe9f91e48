"""Pareto frontier (skyline): the rows not dominated by any other row,
where s dominates r iff s is >= r in both criteria and > in at least
one. The textbook formulation is a NOT EXISTS self-join — O(n²) and a
nested-loop plan, unusable past a few thousand rows per group. This is
the O(n log n) single-sort form: after ordering by the first criterion
descending, a row survives iff no earlier row (which by construction
has c1 >= mine) beats it on c2 — two RANGE-framed running-max windows
answer that exactly, duplicates of the same point retained on both
engines.

One shuffle on the partition key, zero joins; the frame is RANGE on the
integer criterion so ties in c1 are handled by value, not row order —
the result is deterministic under any physical row ordering, which is
what makes the DuckDB oracle a transcription.

Reference scope note: the reference pipelines rank by a single measure
only (top10.py:137-278 dense-rank); multi-criteria dominance is part of
the X-surface (SURVEY.md §2.13).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ._names import free_name


def _frontier_pass(df: DataFrame, c1: str, c2: str,
                   part: list[str]) -> DataFrame:
    base = (W.partitionBy(*part) if part else W.partitionBy())
    excl = (base.orderBy(F.col(c1).desc())
            .rangeBetween(W.unboundedPreceding, -1))
    incl = (base.orderBy(F.col(c1).desc())
            .rangeBetween(W.unboundedPreceding, W.currentRow))
    m_excl = F.max(c2).over(excl)
    m_incl = F.max(c2).over(incl)
    dominated = (m_excl.isNotNull() & (m_excl >= F.col(c2))) | (
        m_incl > F.col(c2))
    # internal flag name derived collision-free (a caller column named
    # '_dom' would otherwise be silently replaced, then dropped)
    dom = free_name(df.columns, "_dom")
    return df.withColumn(dom, dominated).filter(~F.col(dom)).drop(dom)


def pareto_frontier(df: DataFrame, c1: str, c2: str,
                    keys: list[str] | None = None) -> DataFrame:
    """Rows of ``df`` on the maximization frontier of integer columns
    (``c1``, ``c2``), per ``keys`` group (global if None). Both
    criteria must be integral (cent-grid quantized per the repo numeric
    policy) — the RANGE frame offset and the dominance comparisons are
    then exact.

    Dominance test via two windows over c1 descending:

    - ``m_excl`` = max(c2) over rows with c1 strictly greater
      (RANGE ... 1 PRECEDING): if >= my c2, a strictly-better-on-c1 row
      ties-or-beats me on c2 — dominated.
    - ``m_incl`` = max(c2) over rows with c1 >= mine (RANGE ... CURRENT
      ROW, includes self): if > my c2, some row at least as good on c1
      strictly beats me on c2 — dominated.

    Exact duplicates of a frontier point dominate neither each other
    nor themselves, so all copies are kept (skyline set semantics).

    Local prefilter (the distributed-skyline optimization): when the
    group count is small, a single window partition sorts the whole
    group on one core — the 100× scaling bench measured 11× growth on
    exactly that shape. So the SAME dominance pass runs per (keys,
    spark_partition_id()) FIRST — fully parallel, and provably safe: a
    row dominated within its physical partition is dominated globally,
    and no global-frontier row can be eliminated by its own partition —
    then the global pass sees only the tiny local survivor set. The
    FINAL result is therefore identical under any partitioning even
    though the intermediate depends on it (pinned by the
    repartition-invariance test)."""
    part = keys or []
    pid = free_name(df.columns, "_pid")
    local = _frontier_pass(
        df.withColumn(pid, F.spark_partition_id()),
        c1, c2, [*part, pid]).drop(pid)
    return _frontier_pass(local, c1, c2, part)


def pareto_frontier_oracle_sql(table: str, c1: str, c2: str,
                               keys: str | None = None,
                               select: str = "*") -> str:
    """DuckDB transcription of ``pareto_frontier`` (same two RANGE
    windows; DESC ordering makes '1 PRECEDING' mean c1 >= current+1)."""
    part = f"PARTITION BY {keys} " if keys else ""
    return f"""
    SELECT {select} FROM (
        SELECT *,
               MAX({c2}) OVER ({part}ORDER BY {c1} DESC
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS m_excl,
               MAX({c2}) OVER ({part}ORDER BY {c1} DESC
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS m_incl
        FROM {table}
    )
    WHERE NOT (COALESCE(m_excl >= {c2}, FALSE) OR m_incl > {c2})
    """
