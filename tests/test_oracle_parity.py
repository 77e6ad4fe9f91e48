"""The correctness gate, as a test: every declared query must hash-match
its DuckDB oracle at sf0.001 (the driver runs the same comparison at
sf0.01). Approximate operators (no oracle) get a rows-only sanity check."""

import duckdb
import pytest

from tests.test_plans import NONEQUI_OK, PYTHON_OK
from tools.oracle_check import TABLES, table_hash

import __spark_entry__ as entry_mod


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()


# The driver fetches oracle results through its own (pandas/arrow) path,
# which renders DuckDB's wider types differently than Spark renders its
# own (HUGEINT -> float64 -> "123.0" vs "123" cost 8 rounds-5 reds even
# though the row sets were bit-identical). Pinning every oracle OUTPUT
# column to a type both engines render identically closes the whole
# class. Extend deliberately, never to a width/precision type.
ORACLE_OUTPUT_TYPES = {"BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "BOOLEAN"}


def test_every_oracle_output_column_has_allowlisted_type(oracle_con):
    offenders = {}
    for name, sql in ORACLES.items():
        desc = oracle_con.execute(f"DESCRIBE ({sql})").fetchall()
        bad = [(c, t) for c, t, *_ in desc if t not in ORACLE_OUTPUT_TYPES]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracle output columns outside the allowlist (DuckDB DESCRIBE): "
        f"{offenders} — wrap in CAST(... AS BIGINT/DOUBLE/VARCHAR); "
        "HUGEINT/DECIMAL/DATE render differently on the driver's fetch path"
    )


# Float SUMs are accumulation-order dependent: ROUND(SUM(<double>), 2)
# can flip a cent whenever the exact sum sits one ulp from a rounding
# boundary — the ×10 replicated-fixture differentials caught exactly that
# in q7 and q10 (NOTES_r6), and round 7 converted the class wholesale to
# the cent-grid BIGINT sum (queries/_grid.py). This lint keeps it out:
# every ROUND(SUM(...)) in an oracle must quantize inside the SUM
# (CAST(ROUND(expr * G) AS BIGINT)) unless the query is on the documented
# allowlist below.
ROUND_SUM_ALLOWLIST = {
    # exact-integer ratios (SUM over 0/1 ints; one trailing division)
    "doc_decontaminate",
    "doc_decontaminate_bloom",
    "doc_corpus_stats",
    # documented tiny float folds (≤8 summands per group, sealed at ×10)
    "value_drift_psi_by_type",
    "doc_source_token_entropy",
    # reference-parity surface: percents of raw double sums kept
    # deliberately (docstring in queries/stripe.py)
    "platform_usage_monthly",
    "platform_usage_by_user_bucket",
}


def _sum_args(sql: str):
    """Yield the balanced argument text of every ROUND(SUM( ... )) call
    (case-insensitive — a lowercase round(sum( must not slip past)."""
    import re

    for m in re.finditer(r"ROUND\s*\(\s*SUM\s*\(", sql, re.IGNORECASE):
        depth, start = 1, m.end()
        i = start
        while i < len(sql) and depth:
            depth += {"(": 1, ")": -1}.get(sql[i], 0)
            i += 1
        yield sql[start : i - 1]


def _strip_quantized_atoms(s: str) -> str:
    """Replace every balanced ``CAST(ROUND(...) AS BIGINT)`` atom in a
    space-normalized uppercase expression with the integer literal
    ``0``. What remains is the summand's non-quantized residue."""
    import re

    cast_round = re.compile(r"CAST\s*\(\s*ROUND\s*\(")
    out, i = [], 0
    while i < len(s):
        m = cast_round.match(s, i)
        if not m:
            out.append(s[i])
            i += 1
            continue
        depth, j = 2, m.end()  # two opened parens: CAST( and ROUND(
        while j < len(s) and depth:
            depth += {"(": 1, ")": -1}.get(s[j], 0)
            j += 1
        atom = s[i:j].replace(" ", "")
        out.append("0" if atom.endswith("ASBIGINT)") else s[i:j])
        i = j
    return "".join(out)


def _case_branch_values(s: str) -> list[str] | None:
    """For a space-normalized CASE expression, return the value
    expression of every THEN/ELSE branch (conditions excluded — a float
    compare in a WHEN condition is legitimate; only summand VALUES
    accumulate). Keywords match only on WORD BOUNDARIES, so an
    identifier like ``ends_at`` cannot truncate the parse into a false
    negative. Returns None if the text doesn't parse as one non-nested
    CASE reaching its END (conservative: the caller then flags it)."""
    import re

    if not s.startswith("CASE") or len(re.findall(r"\bCASE\b", s)) > 1:
        return None
    kw = re.compile(r"\b(WHEN|THEN|ELSE|END)\b")
    vals: list[str] = []
    i, depth, val_start = 4, 0, None
    while i < len(s):
        c = s[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if depth == 0 and (m := kw.match(s, i)):
            if val_start is not None:
                vals.append(s[val_start:i])
                val_start = None
            if m.group(0) in ("THEN", "ELSE"):
                val_start = m.end()
            elif m.group(0) == "END":
                return vals
            i = m.end()
            continue
        i += 1
    return None  # never reached END at depth 0 — let the caller flag it


def _is_integer_by_construction(expr: str) -> bool:
    """True iff ``expr`` (space-normalized, uppercase) is an integer
    expression: quantized CAST(ROUND(...) AS BIGINT) atoms combined only
    with integer literals and +/-/* and parentheses. Any residual
    identifier, float literal, or division means a float factor rides
    the sum (``CAST(ROUND(x*100) AS BIGINT) * rate`` is exactly the
    accumulation disease this lint exists for)."""
    import re

    residue = _strip_quantized_atoms(expr)
    return re.fullmatch(r"[0-9+\-*() ]*", residue) is not None


def _summand_is_grid_quantized(arg: str) -> bool:
    """True iff the SUM's summand is integer by construction — the FULL
    expression, not just its prefix: quantized atoms times integer
    literals, or a CASE whose every THEN/ELSE value is such an
    expression. A float factor anywhere in the summand value (e.g.
    SUM(CAST(ROUND(y*100) AS BIGINT) * rate)) stays flagged — the float
    accumulation is exactly the disease. Whitespace is normalized to
    single spaces (NOT stripped — stripping would fuse identifiers into
    keywords and break the word-boundary parse)."""
    import re

    s = re.sub(r"\s+", " ", arg).upper().strip()
    if s.startswith("CASE"):
        branches = _case_branch_values(s)
        return branches is not None and bool(branches) and all(
            _is_integer_by_construction(b) for b in branches
        )
    return _is_integer_by_construction(s)


def test_no_compared_float_sum_in_oracles():
    offenders = []
    for name, sql in ORACLES.items():
        if name in ROUND_SUM_ALLOWLIST:
            continue
        for arg in _sum_args(sql):
            if not _summand_is_grid_quantized(arg):
                offenders.append((name, arg.strip()[:80]))
    assert not offenders, (
        "ROUND(SUM(<double>)) without per-row grid quantization — one ulp "
        "of summation-order noise flips the rounded cent on tied-value "
        f"fixtures (the q7/q10 class). Use queries/_grid.py: {offenders}"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, oracle_con):
    sdf = QUERIES[name](spark, sf_dir)
    # the 100 TB smell test, on the frame this test builds anyway: no
    # CartesianProduct ever, no nested-loop join and no Python
    # evaluation outside the declared allow-lists (tests/test_plans.py)
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert name in NONEQUI_OK or "BroadcastNestedLoopJoin" not in plan
    assert name in PYTHON_OK or not any(
        node in plan
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"))
    srows = [tuple(r) for r in sdf.collect()]
    if name not in ORACLES:
        assert len(srows) >= 0  # rows-only check (approximate operator)
        return
    res = oracle_con.execute(ORACLES[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols)
    sh, sn = table_hash(sdf.columns, srows)
    oh, on = table_hash(ocols, orows)
    assert sn == on, f"row count: spark={sn} oracle={on}"
    assert sh == oh, f"value hash mismatch on {sn} rows"
