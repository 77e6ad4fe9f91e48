"""Golden-output tests for the three reference report pipelines on
hand-written fixtures that exercise every documented quirk (FIXTURES.md):
dotted categoryIds needing zero-pad normalization, missing FKs (left-join
null paths), promotion string compare, unknown currencies (row drop),
dense_rank ties overflowing the top-K."""

import os

import pytest

from data_pipeline_stripe_spark.llm.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
)
from data_pipeline_stripe_spark.llm.similarity import rp_lsh_pairs
from data_pipeline_stripe_spark.pipelines import (
    royalties_report,
    top10_report,
    usage_report,
    write_royalties_json,
    write_top10_csv,
    write_usage_parquet,
)
from data_pipeline_stripe_spark.schemas import (
    CATEGORIES_SCHEMA,
    COUNTRIES_SCHEMA,
    EVENTS_RAW_SCHEMA,
    EXCHANGE_RATES_SCHEMA,
    RESOURCES_SCHEMA,
)
from data_pipeline_stripe_spark.sources import read_dim_rows, read_events_json


def _events(spark, rows):
    full = [
        (r.get("eventId", "e"), r.get("eventTime"), r.get("processTime"),
         r.get("resourceId"), r.get("userId"), r.get("countryCode"),
         r.get("duration"), r.get("itemPrice"))
        for r in rows
    ]
    return spark.createDataFrame(full, EVENTS_RAW_SCHEMA)


@pytest.fixture(scope="module")
def dims(spark):
    resources = spark.createDataFrame(
        [
            ("r1", "Res One", "3.5", "p1", "false"),   # dotted id → "3.05"
            ("r2", "Res Two", "7", "p2", "true"),      # promoted
            ("r3", "Res Three", "7", "p1", "false"),
            ("r4", "Res Four", "3.5", "p1", "false"),
            ("r5", "Res Five", "3.5", "p1", "false"),
        ],
        RESOURCES_SCHEMA,
    )
    categories = spark.createDataFrame(
        # dotted id in pre-normalization form, like the REST payload
        [("t", "3.5", "Cat A", "10"), ("t", "7", "Cat B", "20")],
        CATEGORIES_SCHEMA,
    )
    countries = spark.createDataFrame(
        [("US", "USD", "United States"), ("FR", "EUR", "France"),
         ("XX", "ZZZ", "Nowhere")],
        COUNTRIES_SCHEMA,
    )
    rates = spark.createDataFrame(
        [("USD", 1.0), ("EUR", 1.1)], EXCHANGE_RATES_SCHEMA
    )
    return resources, categories, countries, rates


def test_top10_dense_rank_ties_and_null_paths(spark, dims):
    resources, categories, _, _ = dims
    ev = _events(spark, (
        # date 1, Cat A: r1×3, r4×2, r5×2 → tie at position 2, both kept
        [{"processTime": "2024-01-01T10:00:00", "resourceId": "r1"}] * 3
        + [{"processTime": "2024-01-01T11:00:00", "resourceId": "r4"}] * 2
        + [{"processTime": "2024-01-01T12:00:00", "resourceId": "r5"}] * 2
        # date 1, Cat B: r2×2
        + [{"processTime": "2024-01-01T13:00:00", "resourceId": "r2"}] * 2
        # date 1: unknown resource → null category path
        + [{"processTime": "2024-01-01T14:00:00", "resourceId": "rX"}]
        # date 2: r1 once
        + [{"processTime": "2024-01-02T10:00:00", "resourceId": "r1"}]
    ))
    out = top10_report(ev, resources, categories, k=2)
    rows = {
        (r.date, r.categoryId, r.resourceId): (r.position, r.purchases, r.categoryName)
        for r in out.collect()
    }
    assert rows[("2024-01-01", "3.05", "r1")] == (1, 3, "Cat A")
    # dense_rank ties kept: top-2 yields three Cat A rows
    assert rows[("2024-01-01", "3.05", "r4")] == (2, 2, "Cat A")
    assert rows[("2024-01-01", "3.05", "r5")] == (2, 2, "Cat A")
    assert rows[("2024-01-01", "7", "r2")] == (1, 2, "Cat B")
    # unmatched resource keeps its events (left join), null dim columns
    assert rows[("2024-01-01", None, "rX")] == (1, 1, None)
    assert rows[("2024-01-02", "3.05", "r1")] == (1, 1, "Cat A")
    assert len(rows) == 6


def test_top10_duplicate_dim_key_does_not_inflate_counts(spark, dims):
    """Counts are computed on raw events BEFORE the dim joins (reference
    top10.py:239-241). A duplicated resource row — plausible after the
    '3.5'→'3.05' id normalization collides with a literal id — must not
    multiply events into a higher purchase count."""
    _, categories, _, _ = dims
    dup_resources = spark.createDataFrame(
        [("r1", "Res One", "3.5", "p1", "false"),
         ("r1", "Res One (dup)", "3.5", "p1", "false")],  # duplicate key
        RESOURCES_SCHEMA,
    )
    ev = _events(spark, (
        [{"processTime": "2024-01-01T10:00:00", "resourceId": "r1"}] * 3
    ))
    out = top10_report(ev, dup_resources, categories).collect()
    assert len(out) == 1  # deduped on (date, categoryId, resourceId)
    assert out[0].purchases == 3  # not 6


def test_top10_partitioned_csv_sink(spark, dims, tmp_path):
    resources, categories, _, _ = dims
    ev = _events(spark, [
        {"processTime": "2024-01-01T10:00:00", "resourceId": "r1"},
        {"processTime": "2024-01-02T10:00:00", "resourceId": "r2"},
    ])
    out = str(tmp_path / "top10")
    write_top10_csv(top10_report(ev, resources, categories), out)
    dirs = sorted(d for d in os.listdir(out) if d.startswith("date="))
    assert dirs == ["date=2024-01-01", "date=2024-01-02"]
    # header + '|' separator (reference K1 sink, top10.py:274-278)
    part = next(f for f in os.listdir(f"{out}/date=2024-01-01") if f.endswith(".csv"))
    header = open(f"{out}/date=2024-01-01/{part}").readline().strip()
    assert header.split("|")[0] == "position"


def test_usage_percentages_single_pass(spark):
    ev = _events(spark, [
        {"eventTime": "2024-01-05T10:00:00+01:00", "countryCode": "US",
         "resourceId": "r1", "duration": 30},
        {"eventTime": "2024-01-07T11:00:00+01:00", "countryCode": "US",
         "resourceId": "r2", "duration": 10},
        {"eventTime": "2024-01-09T12:00:00-05:00", "countryCode": "FR",
         "resourceId": "r1", "duration": 5},
        {"eventTime": "2024-02-01T10:00:00+01:00", "countryCode": "US",
         "resourceId": "r1", "duration": 7},
    ])
    reports = usage_report(ev)
    country = {
        (r.month, r.countryCode, r.resourceId):
            (r.usagePercentRelativeCountry, r.usagePercentTotal,
             r.totalDurationInSec)
        for r in reports["country"].collect()
    }
    # month 2024-01: r1 = 30(US)+5(FR) = 35 of 45 total; r2 = 10 of 45
    assert country[("2024-01", "US", "r1")] == (75.0, 77.7778, 35)
    assert country[("2024-01", "US", "r2")] == (25.0, 22.2222, 10)
    assert country[("2024-01", "FR", "r1")] == (100.0, 77.7778, 35)
    assert country[("2024-02", "US", "r1")] == (100.0, 100.0, 7)
    tz = {
        (r.month, r.timeZone, r.resourceId): r.usagePercentRelativeTz
        for r in reports["timezone"].collect()
    }
    assert tz[("2024-01", "+01:00", "r1")] == 75.0
    assert tz[("2024-01", "-05:00", "r1")] == 100.0
    # invariant: relative percentages sum to 100 within every group
    from pyspark.sql import functions as F
    sums = (
        reports["country"].groupBy("month", "countryCode")
        .agg(F.round(F.sum("usagePercentRelativeCountry"), 2).alias("s"))
        .collect()
    )
    assert all(abs(r.s - 100.0) < 0.02 for r in sums)
    # invariant: usagePercentTotal sums to 100 over distinct resources
    totals = (
        reports["country"].select("month", "resourceId", "usagePercentTotal")
        .distinct()
        .groupBy("month")
        .agg(F.round(F.sum("usagePercentTotal"), 2).alias("s"))
        .collect()
    )
    assert all(abs(r.s - 100.0) < 0.02 for r in totals)


def test_royalties_conversion_and_drop_paths(spark, dims):
    resources, categories, countries, rates = dims
    ev = _events(spark, [
        # r1 (10% cat), US: 100 → 10 USD
        {"eventTime": "2024-01-05T10:00:00+01:00", "resourceId": "r1",
         "countryCode": "US", "itemPrice": "100"},
        # r1, FR: 200 → 20 EUR → 22 USD
        {"eventTime": "2024-01-06T10:00:00+01:00", "resourceId": "r1",
         "countryCode": "FR", "itemPrice": "200"},
        # r2 promoted → 0 (kept)
        {"eventTime": "2024-01-07T10:00:00+01:00", "resourceId": "r2",
         "countryCode": "US", "itemPrice": "50"},
        # r3, XX: currency ZZZ not in rates → dropped
        {"eventTime": "2024-01-08T10:00:00+01:00", "resourceId": "r3",
         "countryCode": "XX", "itemPrice": "100"},
        # r3, GB: country missing → Code null → dropped
        {"eventTime": "2024-01-09T10:00:00+01:00", "resourceId": "r3",
         "countryCode": "GB", "itemPrice": "100"},
        # next month, r1 US: 30 → 3 USD
        {"eventTime": "2024-02-01T10:00:00+01:00", "resourceId": "r1",
         "countryCode": "US", "itemPrice": "30"},
    ])
    out = royalties_report(ev, resources, categories, countries, rates)
    rows = {(r.date, r.providerId): r.amount for r in out.collect()}
    assert rows == {
        ("2024-01", "p1"): 32.0,   # 10 USD + 22 USD
        ("2024-01", "p2"): 0.0,    # promoted
        ("2024-02", "p1"): 3.0,
    }


def _codegen_compiles(spark) -> int:
    """Generated classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_nightly_cycle_reuses_generated_code(spark, tmp_path):
    """A second reports cycle plus curation pass compiles no generated
    class: the whole working set of one cycle stays in the codegen cache
    (session.CODEGEN_CACHE_ENTRIES) between cycles."""
    import json

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    ev_dir = tmp_path / "events"
    ev_dir.mkdir()
    countries = [("US", "USD", "United States"), ("FR", "EUR", "France"),
                 ("JP", "JPY", "Japan"), ("AR", "ARS", "Argentina")]
    with open(ev_dir / "part-0.json", "w") as f:
        for i in range(200):
            day, hour = 1 + i % 5, i % 24
            f.write(json.dumps({
                "eventId": f"e{i}",
                "eventTime": f"2024-01-{day:02d}T{hour:02d}:00:00+01:00",
                "processTime": f"2024-01-{day:02d}T{hour:02d}:00:30",
                "resourceId": f"r{int(rng.integers(0, 12))}",
                "userId": f"u{i % 17}",
                "countryCode": countries[i % len(countries)][0],
                "duration": int(rng.integers(1, 3600)),
                "itemPrice": f"{rng.integers(99, 5000) / 100:.2f}"}) + "\n")
    cat_ids = ["3.5", "7", "12"]
    dims = (
        read_dim_rows(spark, [
            {"id": f"r{i}", "name": f"res {i}", "categoryId": cat_ids[i % 3],
             "providerId": f"p{i % 4}", "promotion": str(i % 5 == 0).lower()}
            for i in range(12)], RESOURCES_SCHEMA),
        read_dim_rows(spark, [
            {"tenant": "t", "id": c, "name": f"cat {c}", "percent": "10"}
            for c in cat_ids], CATEGORIES_SCHEMA),
        read_dim_rows(spark, [
            {"CountryCode": cc, "Code": code, "Country": name}
            for cc, code, name in countries], COUNTRIES_SCHEMA),
        read_dim_rows(spark, [{"code": "EUR", "rate": 1.09},
                              {"code": "JPY", "rate": 0.0068}],
                      EXCHANGE_RATES_SCHEMA),
    )
    words = [f"w{i}" for i in range(50)]
    texts = [" ".join(rng.choice(words, 12)) for _ in range(30)]
    texts[1] = texts[0]
    docs_path, emb_path = str(tmp_path / "docs"), str(tmp_path / "emb")
    pq.write_table(pa.table({"doc_id": np.arange(30, dtype=np.int64),
                             "text": texts}), docs_path)
    vecs = rng.standard_normal((24, 64)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(24, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32()))}),
        emb_path)
    out = tmp_path / "out"

    def nightly_cycle():
        res, cat, ctry, rts = dims
        ev = read_events_json(spark, str(ev_dir))
        write_top10_csv(top10_report(ev, res, cat), f"{out}/top10")
        write_usage_parquet(usage_report(ev), f"{out}/usage")
        write_royalties_json(royalties_report(ev, res, cat, ctry, rts),
                             f"{out}/royalties")
        docs = spark.read.parquet(docs_path)
        emb = spark.read.parquet(emb_path)
        exact_dedup_groups(docs).collect()
        minhash_lsh_pairs(docs).collect()
        rp_lsh_pairs(emb).collect()

    nightly_cycle()
    before = _codegen_compiles(spark)
    nightly_cycle()
    assert _codegen_compiles(spark) - before == 0
