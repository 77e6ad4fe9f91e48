"""Seeded input generators for the benchmark workloads.

Each generator writes its inputs under ``<cache>/<workload>-<seed>/`` and
returns a small description (paths plus the arrays the verifiers replay).
The same seed always produces byte-identical inputs, so a finished input
directory (marked by ``sizes.json``) is reused instead of regenerated.
Sizes are fixed per workload; only the content depends on the seed, which
keeps the amount of work in a run the same from seed to seed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- stripe_reports ---------------------------------------------------------

N_EVENTS = 40_000
N_EVENT_FILES = 16
N_RESOURCES = 400
N_CATEGORIES = 40
N_PROVIDERS = 30
N_DAYS = 60             # report partitions: top10 writes one dir per day
ZIPF_S = 1.3
TZ_OFFSETS = ["-08:00", "-05:00", "+00:00", "+01:00", "+05:30", "+09:00"]
COUNTRIES = [  # (CountryCode, currency Code, Country)
    ("US", "USD", "United States"), ("CA", "CAD", "Canada"),
    ("FR", "EUR", "France"), ("DE", "EUR", "Germany"),
    ("GB", "GBP", "United Kingdom"), ("JP", "JPY", "Japan"),
    ("IN", "INR", "India"), ("BR", "BRL", "Brazil"),
    ("MX", "MXN", "Mexico"), ("AU", "AUD", "Australia"),
    ("CH", "CHF", "Switzerland"), ("AR", "ARS", "Argentina"),
]
# ARS deliberately has no rate: the royalties report drops those events.
RATES = {"CAD": 0.74, "EUR": 1.09, "GBP": 1.27, "JPY": 0.0068,
         "INR": 0.012, "BRL": 0.2, "MXN": 0.058, "AUD": 0.66, "CHF": 1.13}

# -- corpus_dedup -----------------------------------------------------------

N_DOCS = 800
DOC_TOKENS = 40
VOCAB = 2_000
N_EXACT_CLUSTERS = 40    # each planted as 2-4 copies of one text
N_NEAR_PAIRS = 60        # each planted as (doc, doc with 2 tokens edited)
N_VECS = 400
N_PARTS = 4              # corpus files, so scans spread over the cores
DIM = 64
N_VEC_PAIRS = 40         # planted neighbour pairs, cosine ~0.9
N_QUERIES = 40

# -- cdc_replication --------------------------------------------------------

SOURCE_ROWS = 8_000
BURST_ROWS = 400
N_BURSTS = 64


def _done(out: str) -> dict | None:
    try:
        with open(os.path.join(out, "sizes.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _finish(out: str, sizes: dict) -> dict:
    total = 0
    for dirpath, _, files in os.walk(out):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    sizes["bytes"] = total
    with open(os.path.join(out, "sizes.json"), "w") as f:
        json.dump(sizes, f, indent=1, sort_keys=True)
    return sizes


def _fresh(out: str) -> None:
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)


def _write_parquet(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def stripe_dims(seed: int) -> dict:
    """Reference-schema dimensions as lists of dicts (the shape a REST or
    Firestore payload arrives in)."""
    rng = np.random.default_rng([seed, 1])
    cat_ids = [f"{i // 4}.{i % 4}" if i % 3 == 0 else str(i)
               for i in range(N_CATEGORIES)]
    categories = [{"tenant": "t1", "id": c, "name": f"category {c}",
                   "percent": str(int(p))}
                  for c, p in zip(cat_ids, rng.integers(5, 35, N_CATEGORIES))]
    resources = [{"id": f"r{i:04d}", "name": f"resource {i}",
                  "categoryId": cat_ids[int(c)],
                  "providerId": f"p{int(p):02d}",
                  "promotion": "true" if promo else "false"}
                 for i, (c, p, promo) in enumerate(zip(
                     rng.integers(0, N_CATEGORIES, N_RESOURCES),
                     rng.integers(0, N_PROVIDERS, N_RESOURCES),
                     rng.random(N_RESOURCES) < 0.2))]
    countries = [{"CountryCode": cc, "Code": code, "Country": name}
                 for cc, code, name in COUNTRIES]
    rates = [{"code": c, "rate": r} for c, r in RATES.items()]
    return {"resources": resources, "categories": categories,
            "countries": countries, "rates": rates}


def stripe_reports(seed: int, out: str) -> dict:
    """JSONL events in the reference schema: Zipf(1.3) resource skew over
    60 days and 6 time-zone offsets, split over 16 files."""
    sizes = _done(out)
    if sizes is None:
        _fresh(out)
        rng = np.random.default_rng([seed, 0])
        weights = 1.0 / np.arange(1, N_RESOURCES + 1) ** ZIPF_S
        order = rng.permutation(N_RESOURCES)
        res = order[rng.choice(N_RESOURCES, N_EVENTS, p=weights / weights.sum())]
        secs = rng.integers(0, N_DAYS * 86_400, N_EVENTS)
        tz = rng.integers(0, len(TZ_OFFSETS), N_EVENTS)
        ctry = rng.integers(0, len(COUNTRIES), N_EVENTS)
        delay = rng.integers(0, 120, N_EVENTS)
        duration = rng.integers(1, 3_600, N_EVENTS)
        cents = rng.integers(99, 50_000, N_EVENTS)
        base = dt.datetime(2024, 1, 1)
        os.makedirs(os.path.join(out, "events"))
        files = [open(os.path.join(out, "events", f"part-{i:02d}.json"), "w")
                 for i in range(N_EVENT_FILES)]
        try:
            for i in range(N_EVENTS):
                off = TZ_OFFSETS[tz[i]]
                sign = 1 if off[0] == "+" else -1
                shift = sign * (int(off[1:3]) * 3600 + int(off[4:6]) * 60)
                utc = base + dt.timedelta(seconds=int(secs[i]))
                local = utc + dt.timedelta(seconds=shift)
                proc = utc + dt.timedelta(seconds=int(delay[i]))
                # every value is plain ASCII: no JSON escaping needed
                files[i % N_EVENT_FILES].write(
                    f'{{"eventId": "e{seed}-{i}", '
                    f'"eventTime": "{local:%Y-%m-%dT%H:%M:%S}{off}", '
                    f'"processTime": "{proc:%Y-%m-%dT%H:%M:%S}", '
                    f'"resourceId": "r{res[i]:04d}", '
                    f'"userId": "u{(i * 7919) % 5000}", '
                    f'"countryCode": "{COUNTRIES[ctry[i]][0]}", '
                    f'"duration": {duration[i]}, '
                    f'"itemPrice": "{cents[i] / 100:.2f}"}}\n')
        finally:
            for f in files:
                f.close()
        sizes = _finish(out, {"events": N_EVENTS, "files": N_EVENT_FILES,
                              "resources": N_RESOURCES, "days": N_DAYS})
    return {"events_dir": os.path.join(out, "events"),
            "dims": stripe_dims(seed), "sizes": sizes}


# -- corpus_dedup -----------------------------------------------------------

def corpus_dedup(seed: int, out: str) -> dict:
    """Documents with planted exact-duplicate clusters and near-duplicate
    pairs, and 64-d embeddings with planted neighbour pairs."""
    rng = np.random.default_rng([seed, 3])
    words = np.array([f"w{i}" for i in range(VOCAB)])
    texts = [" ".join(words[rng.integers(0, VOCAB, DOC_TOKENS)])
             for _ in range(N_DOCS)]
    slots = rng.permutation(N_DOCS)
    cursor = 0
    exact = []
    for _ in range(N_EXACT_CLUSTERS):
        n = int(rng.integers(2, 5))
        ids = slots[cursor:cursor + n]
        cursor += n
        for i in ids[1:]:
            texts[i] = texts[ids[0]]
        exact.append(sorted(int(i) for i in ids))
    near = []
    for _ in range(N_NEAR_PAIRS):
        a, b = (int(i) for i in slots[cursor:cursor + 2])
        cursor += 2
        toks = texts[a].split(" ")
        for pos in rng.choice(DOC_TOKENS, 2, replace=False):
            toks[pos] = str(words[rng.integers(0, VOCAB)])
        texts[b] = " ".join(toks)
        near.append((min(a, b), max(a, b)))
    vecs = rng.standard_normal((N_VECS, DIM))
    vslots = rng.permutation(N_VECS)
    vpairs = []
    for j in range(N_VEC_PAIRS):
        a, b = (int(i) for i in vslots[2 * j:2 * j + 2])
        vecs[b] = vecs[a] + 0.45 * rng.standard_normal(DIM)
        vpairs.append((min(a, b), max(a, b)))
    vecs = vecs.astype(np.float32)
    queries = np.sort(rng.choice(N_VECS, N_QUERIES, replace=False))
    sizes = _done(out)
    if sizes is None:
        _fresh(out)
        for name, table in (
                ("docs", pa.table({"doc_id": np.arange(N_DOCS, dtype=np.int64),
                                   "text": texts})),
                ("emb", pa.table({
                    "vec_id": np.arange(N_VECS, dtype=np.int64),
                    "embedding": pa.array(list(vecs),
                                          type=pa.list_(pa.float32()))}))):
            os.makedirs(os.path.join(out, name))
            step = -(-len(table) // N_PARTS)
            for p in range(N_PARTS):
                pq.write_table(table.slice(p * step, step),
                               os.path.join(out, name, f"part-{p}.parquet"))
        sizes = _finish(out, {"docs": N_DOCS, "vectors": N_VECS, "dim": DIM,
                              "exact_clusters": N_EXACT_CLUSTERS,
                              "near_pairs": N_NEAR_PAIRS,
                              "vector_pairs": N_VEC_PAIRS,
                              "queries": N_QUERIES})
    return {"docs_path": os.path.join(out, "docs"),
            "emb_path": os.path.join(out, "emb"),
            "texts": texts, "vecs": vecs, "exact": exact, "near": near,
            "vec_pairs": vpairs, "queries": queries, "sizes": sizes}


# -- cdc_replication --------------------------------------------------------

def _table_rows(rng, keys: np.ndarray) -> dict:
    return {"k": keys.astype(np.int64),
            "grp": (keys % 97).astype(np.int32),
            "val": rng.integers(0, 1 << 40, len(keys)).astype(np.int64)}


def cdc_replication(seed: int, out: str) -> dict:
    """An 8 k-row source table and ``N_BURSTS`` source commits, cycling
    through upsert (existing and new keys), key delete and plain append."""
    rng = np.random.default_rng([seed, 4])
    base_keys = np.arange(SOURCE_ROWS, dtype=np.int64)
    base = _table_rows(rng, base_keys)
    next_key = SOURCE_ROWS
    bursts = []
    for b in range(N_BURSTS):
        kind = ("upsert", "delete", "append")[b % 3]
        if kind == "upsert":
            old = rng.choice(base_keys, BURST_ROWS // 2, replace=False)
            new = np.arange(next_key, next_key + BURST_ROWS // 2,
                            dtype=np.int64)
            next_key += BURST_ROWS // 2
            cols = _table_rows(rng, np.concatenate([old, new]))
        elif kind == "delete":
            cols = {"k": np.sort(rng.choice(base_keys, BURST_ROWS // 4,
                                            replace=False))}
        else:
            keys = np.arange(next_key, next_key + BURST_ROWS, dtype=np.int64)
            next_key += BURST_ROWS
            cols = _table_rows(rng, keys)
        bursts.append((kind, cols))
    paths = [os.path.join(out, f"burst-{i:03d}.parquet") for i in range(N_BURSTS)]
    sizes = _done(out)
    if sizes is None:
        _fresh(out)
        _write_parquet(os.path.join(out, "base.parquet"), base)
        for path, (_, cols) in zip(paths, bursts):
            _write_parquet(path, cols)
        sizes = _finish(out, {"rows": SOURCE_ROWS, "burst_rows": BURST_ROWS,
                              "bursts": N_BURSTS})
    return {"base_path": os.path.join(out, "base.parquet"), "base": base,
            "bursts": bursts, "paths": paths, "sizes": sizes}


# -- nightly_batch ----------------------------------------------------------

def nightly_batch(seed: int, out: str) -> dict:
    """The stripe_reports and corpus_dedup inputs of one seed."""
    parts = {"stripe_reports": stripe_reports(seed, os.path.join(out, "stripe")),
             "corpus_dedup": corpus_dedup(seed, os.path.join(out, "corpus"))}
    return {**parts, "sizes": {k: v["sizes"] for k, v in parts.items()}}


GENERATORS = {
    "stripe_reports": stripe_reports,
    "corpus_dedup": corpus_dedup,
    "nightly_batch": nightly_batch,
    "cdc_replication": cdc_replication,
}


def make_inputs(workload: str, seed: int, cache: str) -> dict:
    """Inputs for one workload and seed; the cache directory is keyed by
    this file's content, so an edited generator never reuses old inputs."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:10]
    return GENERATORS[workload](
        seed, os.path.join(cache, f"{workload}-{seed}-{version}"))
