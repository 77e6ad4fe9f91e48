"""Output checks, run outside the timed region. Each checker returns a
list of mismatch descriptions; an empty list means the output is correct.

- stripe_reports: the three sinks are read back from disk and compared
  with DuckDB over the same JSONL and dimensions.
- corpus_dedup: exact-dedup groups against a Python grouping; every
  reported MinHash pair against a Python recomputation of its signature
  estimate; every reported cosine against numpy; top-k against a numpy
  brute force; planted-pair recall against fixed floors.
- cdc_replication: replica head == source head == the Python replay model.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import math
import os

import numpy as np

USAGE_TOL = 1.0001e-4      # one unit in the 4th decimal: round() boundary flips
AMOUNT_TOL = 0.010001      # one cent, for the same reason

MINHASH_THRESHOLD = 0.5
MINHASH_RECALL_FLOOR = 0.5
RP_THRESHOLD = 0.45
RP_RECALL_FLOOR = 0.9
TOPK = 5


# -- stripe_reports ---------------------------------------------------------

def stripe_oracle(events_dir: str, dims: dict) -> dict:
    """The three reports computed by DuckDB from the same inputs."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"""
            CREATE TABLE ev AS SELECT * FROM read_json(
              '{events_dir}/*.json', format='newline_delimited',
              columns={{eventId: 'VARCHAR', eventTime: 'VARCHAR',
                       processTime: 'VARCHAR', resourceId: 'VARCHAR',
                       userId: 'VARCHAR', countryCode: 'VARCHAR',
                       duration: 'INTEGER', itemPrice: 'VARCHAR'}})""")
        for name, cols in (("res", ("id", "name", "categoryId", "providerId",
                                    "promotion")),
                           ("cat", ("tenant", "id", "name", "percent")),
                           ("ctry", ("CountryCode", "Code", "Country"))):
            key = {"res": "resources", "cat": "categories",
                   "ctry": "countries"}[name]
            con.execute(f"CREATE TABLE {name} ("
                        + ", ".join(f"{c} VARCHAR" for c in cols) + ")")
            con.executemany(
                f"INSERT INTO {name} VALUES ({', '.join('?' * len(cols))})",
                [[r[c] for c in cols] for r in dims[key]])
        con.execute("CREATE TABLE rates (code VARCHAR, rate DOUBLE)")
        con.executemany("INSERT INTO rates VALUES (?, ?)",
                        [[r["code"], r["rate"]] for r in dims["rates"]])
        norm = "regexp_replace({}, '\\.(\\d)', '.0\\1', 'g')"
        top10 = con.execute(f"""
            WITH counts AS (
              SELECT substr(processTime, 1, 10) AS date, resourceId,
                     count(*) AS purchases FROM ev GROUP BY ALL),
            r AS (SELECT id AS resourceId, name AS resourceName,
                         {norm.format('categoryId')} AS categoryId FROM res),
            c AS (SELECT {norm.format('id')} AS categoryId,
                         min(name) AS categoryName FROM cat GROUP BY 1),
            ranked AS (
              SELECT date, dense_rank() OVER (PARTITION BY date, categoryId
                                              ORDER BY purchases DESC) AS position,
                     categoryId, categoryName, resourceId, resourceName,
                     purchases
              FROM counts LEFT JOIN r USING (resourceId)
                          LEFT JOIN c USING (categoryId))
            SELECT * FROM ranked WHERE position <= 10""").fetchall()
        usage = {}
        for dim in ("countryCode", "timeZone"):
            usage[dim] = con.execute(f"""
                WITH p AS (SELECT substr(eventTime, 1, 7) AS month,
                                  substr(eventTime, 20, 6) AS timeZone,
                                  countryCode, resourceId, duration FROM ev),
                k AS (SELECT month, {dim}, resourceId,
                             sum(duration) AS g FROM p GROUP BY ALL)
                SELECT month, {dim}, resourceId,
                  round(sum(g) OVER (PARTITION BY month, resourceId)
                        / sum(g) OVER (PARTITION BY month) * 100, 4),
                  round(g / sum(g) OVER (PARTITION BY month, {dim}) * 100, 4),
                  sum(g) OVER (PARTITION BY month, resourceId)
                FROM k""").fetchall()
        royalties = con.execute(f"""
            WITH x AS (
              SELECT substr(ev.eventTime, 1, 7) AS date, res.providerId,
                     CASE WHEN res.promotion = 'false'
                          THEN CAST(ev.itemPrice AS DOUBLE)
                               * CAST(cat.percent AS DOUBLE) / 100.0
                          ELSE 0.0 END AS local_amount,
                     ctry.Code AS ccode
              FROM ev LEFT JOIN res ON ev.resourceId = res.id
                      LEFT JOIN cat ON {norm.format('res.categoryId')}
                                       = {norm.format('cat.id')}
                      LEFT JOIN ctry ON ev.countryCode = ctry.CountryCode),
            y AS (
              SELECT date, providerId,
                     CASE WHEN ccode = 'USD' THEN local_amount
                          ELSE local_amount * rates.rate END AS usd
              FROM x LEFT JOIN rates ON x.ccode = rates.code)
            SELECT date, providerId, round(sum(usd), 2) FROM y
            WHERE usd IS NOT NULL GROUP BY ALL""").fetchall()
    finally:
        con.close()
    return {"top10": top10, "usage": usage, "royalties": royalties}


def _read_top10(out: str) -> list[tuple]:
    rows = []
    for path in glob.glob(os.path.join(out, "date=*", "*.csv")):
        date = os.path.basename(os.path.dirname(path))[len("date="):]
        with open(path, newline="") as f:
            for r in csv.DictReader(f, delimiter="|"):
                rows.append((date, int(r["position"]), r["categoryId"],
                             r["categoryName"], r["resourceId"],
                             r["resourceName"], int(r["purchases"])))
    return rows


def _read_usage(out: str, dim: str, rel: str) -> list[tuple]:
    import pyarrow.dataset as ds

    t = ds.dataset(out, format="parquet", partitioning="hive").to_table()
    cols = [t.column(c).to_pylist() for c in
            ("month", dim, "resourceId", "usagePercentTotal", rel,
             "totalDurationInSec")]
    return [(str(m), *rest) for m, *rest in zip(*cols)]


def _read_royalties(out: str) -> list[tuple]:
    rows = []
    for path in glob.glob(os.path.join(out, "*.json")):
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                rows.append((r["date"], r["providerId"], r["amount"]))
    return rows


def _close_rows(got: list[tuple], want: list[tuple], n_key: int,
                tols: tuple) -> list[str]:
    """Rows keyed by their first ``n_key`` fields; the rest compared with
    per-field absolute tolerances (0 means exact)."""
    g = {r[:n_key]: r[n_key:] for r in got}
    w = {r[:n_key]: r[n_key:] for r in want}
    errs = []
    if len(g) != len(got):
        errs.append(f"{len(got) - len(g)} duplicate keys in the output")
    missing, extra = w.keys() - g.keys(), g.keys() - w.keys()
    if missing or extra:
        errs.append(f"{len(missing)} rows missing, {len(extra)} unexpected "
                    f"(e.g. {sorted(missing or extra, key=str)[:1]})")
    for key in w.keys() & g.keys():
        for a, b, tol in zip(g[key], w[key], tols):
            if (a is None) != (b is None) or (
                    a is not None and (abs(float(a) - float(b)) > tol
                                       if tol else a != b)):
                errs.append(f"row {key}: got {g[key]}, want {w[key]}")
                break
    return errs[:5]


def check_stripe(out: str, oracle: dict) -> list[str]:
    errs = []
    top10 = _read_top10(os.path.join(out, "top10"))
    want = [tuple(r) for r in oracle["top10"]]
    if sorted(top10, key=str) != sorted(want, key=str):
        errs += ["top10: " + e for e in
                 _close_rows(top10, want, 6, (0,)) or ["row multisets differ"]]
    for dim, rel, sub in (("countryCode", "usagePercentRelativeCountry",
                           "country"),
                          ("timeZone", "usagePercentRelativeTz", "timezone")):
        got = _read_usage(os.path.join(out, "usage", sub), dim, rel)
        errs += [f"usage/{sub}: " + e for e in _close_rows(
            got, [tuple(r) for r in oracle["usage"][dim]], 3,
            (USAGE_TOL, USAGE_TOL, 0))]
    errs += ["royalties: " + e for e in _close_rows(
        _read_royalties(os.path.join(out, "royalties")),
        [tuple(r) for r in oracle["royalties"]], 2, (AMOUNT_TOL,))]
    return errs


def output_files(out: str) -> int:
    """Data files under a sink directory (no hidden or checksum files)."""
    return sum(1 for _, _, files in os.walk(out) for f in files
               if not f.startswith((".", "_")))


# -- corpus_dedup -----------------------------------------------------------

def _shingles(text: str) -> set[str]:
    t = text.strip(" ").split()
    return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}


def minhash_estimate(a: set[str], b: set[str], n_hashes: int = 16) -> float:
    """The package's MinHash estimate recomputed in Python: slot h is the
    minimum over shingles of hex slice ``h % 4`` of md5("<h // 4>:<s>")."""
    def sig(sh):
        digests = [[hashlib.md5(f"{g}:{s}".encode()).hexdigest() for s in sh]
                   for g in range(n_hashes // 4)]
        return [min(d[(h % 4) * 8:(h % 4) * 8 + 8] for d in digests[h // 4])
                for h in range(n_hashes)]
    sa, sb = sig(a), sig(b)
    return round(sum(x == y for x, y in zip(sa, sb)) / n_hashes, 4)


def _cosines(vecs: np.ndarray) -> np.ndarray:
    v = vecs.astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v @ v.T


def check_corpus(inp: dict, groups, mh_pairs, rp_pairs, topk) -> tuple:
    """Returns (errors, quality) where quality holds recall and precision
    of the two LSH paths."""
    errs = []
    texts = inp["texts"]
    want = {}
    for i, t in enumerate(texts):
        h = hashlib.sha256(t.strip(" ").lower().encode()).hexdigest()
        cid, n = want.get(h, (i, 0))
        want[h] = (min(cid, i), n + 1)
    got = {r[0]: (r[1], r[2]) for r in groups}
    if got != want:
        errs.append(f"exact_dedup_groups: {len(got)} groups, want {len(want)}"
                    f" ({len(set(got.items()) ^ set(want.items()))} differ)")

    sh = {}
    true_mh = 0
    for a, b, est in mh_pairs:
        sa = sh.setdefault(a, _shingles(texts[a]))
        sb = sh.setdefault(b, _shingles(texts[b]))
        if not a < b or est < MINHASH_THRESHOLD or minhash_estimate(sa, sb) != est:
            errs.append(f"minhash_lsh_pairs: pair ({a}, {b}) est {est} does "
                        f"not match its recomputed estimate")
            break
        true_mh += len(sa & sb) / len(sa | sb) >= MINHASH_THRESHOLD
    found = {(a, b) for a, b, _ in mh_pairs}
    mh_recall = sum(p in found for p in inp["near"]) / len(inp["near"])
    if mh_recall < MINHASH_RECALL_FLOOR:
        errs.append(f"minhash_lsh_pairs: planted recall {mh_recall:.3f} "
                    f"< {MINHASH_RECALL_FLOOR}")

    cos = _cosines(inp["vecs"])
    bad = [(a, b, s) for a, b, s in rp_pairs
           if not a < b or s < RP_THRESHOLD or abs(cos[a, b] - s) > 2e-6]
    if bad:
        errs.append(f"rp_lsh_pairs: {len(bad)} pairs with a wrong cosine, "
                    f"e.g. {bad[0]} vs {cos[bad[0][0], bad[0][1]]:.6f}")
    found = {(a, b) for a, b, _ in rp_pairs}
    rp_recall = sum(p in found for p in inp["vec_pairs"]) / len(inp["vec_pairs"])
    if rp_recall < RP_RECALL_FLOOR:
        errs.append(f"rp_lsh_pairs: planted recall {rp_recall:.3f} "
                    f"< {RP_RECALL_FLOOR}")

    by_q: dict[int, list] = {}
    for q, n, s, rank in topk:
        by_q.setdefault(q, []).append((rank, n, s))
    if sorted(by_q) != sorted(int(q) for q in inp["queries"]):
        errs.append("brute_force_topk_pandas: wrong query set")
    for q, rows in by_q.items():
        row = cos[q].copy()
        row[q] = -math.inf
        kth = np.sort(row)[-TOPK]
        rows.sort()
        if ([r[0] for r in rows] != list(range(1, TOPK + 1))
                or any(abs(cos[q, n] - s) > 2e-6 for _, n, s in rows)
                or abs(rows[-1][2] - kth) > 2e-6):
            errs.append(f"brute_force_topk_pandas: query {q} top-{TOPK} "
                        f"differs from numpy")
            break
    quality = {"minhash_lsh_pairs.recall": mh_recall,
               "minhash_lsh_pairs.precision":
                   true_mh / len(mh_pairs) if mh_pairs else 1.0,
               "rp_lsh_pairs.recall": rp_recall,
               "rp_lsh_pairs.precision":
                   (len(rp_pairs) - len(bad)) / len(rp_pairs) if rp_pairs else 1.0}
    return errs, quality


# -- cdc_replication --------------------------------------------------------

def check_replica(model: dict, source_rows, replica_rows) -> list[str]:
    """``model`` maps key -> (grp, val); the row lists hold (k, grp, val)."""
    want = sorted((k, *v) for k, v in model.items())
    errs = []
    for name, rows in (("source", source_rows), ("replica", replica_rows)):
        got = sorted(tuple(int(x) for x in r) for r in rows)
        if got != want:
            diff = set(got) ^ set(want)
            errs.append(f"{name} head differs from the model: {len(got)} rows,"
                        f" want {len(want)}; {len(diff)} rows differ")
    return errs
