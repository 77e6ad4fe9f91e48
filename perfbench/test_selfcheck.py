"""Self-checks for the benchmark's own arithmetic and verifiers; no Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import csv
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, trace, verify
from perfbench.run import tail_percentile


# -- percentile rule --------------------------------------------------------

def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile([float(i) for i in range(99)], 0.9) is None
    assert tail_percentile([float(i) for i in range(100)], 0.9) == 89.0
    assert tail_percentile([float(i) for i in range(19)], 0.5) is None
    assert tail_percentile([float(i) for i in range(20)], 0.5) == 9.0


# -- trace arithmetic on a hand-built event log -----------------------------

def _event_log(path, jobs):
    """jobs: (job id, group, submit s, end s, stage id, [(run ms, input B)])"""
    with open(path, "w") as f:
        for jid, group, submit, end, sid, tasks in jobs:
            f.write(json.dumps({
                "Event": "SparkListenerJobStart", "Job ID": jid,
                "Submission Time": submit * 1e3, "Stage IDs": [sid],
                "Properties": {"spark.jobGroup.id": group} if group else {}})
                + "\n")
            for run_ms, read in tasks:
                f.write(json.dumps({
                    "Event": "SparkListenerTaskEnd", "Stage ID": sid,
                    "Task Metrics": {
                        "Executor Run Time": run_ms,
                        "Executor CPU Time": run_ms * 5e5,
                        "JVM GC Time": 1,
                        "Input Metrics": {"Bytes Read": read},
                        "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                        "Output Metrics": {"Bytes Written": 0}}}) + "\n")
            f.write(json.dumps({"Event": "SparkListenerJobEnd", "Job ID": jid,
                                "Completion Time": end * 1e3}) + "\n")


def test_self_time_and_driver_time(tmp_path):
    spans = [trace.Span(0, "op", 100.0, 110.0),
             trace.Span(1, "a", 101.0, 104.0, parent=0),
             trace.Span(2, "b", 105.0, 109.0, parent=0),
             trace.Span(3, "op", 120.0, 121.0)]
    log = tmp_path / "events"
    _event_log(log, [
        (0, "span-1", 101.5, 103.5, 0, [(100, 50), (300, 0)]),
        # no span group (a stream's own job): goes to the innermost span
        # open at submission, b
        (1, "stream-run", 106.0, 108.0, 1, [(200, 0)]),
        # overlaps job 1: the union, not the sum, is busy time
        (2, "span-2", 107.0, 108.5, 2, [(10, 0)]),
    ])
    jobs = trace.read_event_log(str(log))
    assert jobs[0]["scan_stages"] == 1 and jobs[0]["scan_run_ms"] == 400
    assert jobs[1]["scan_stages"] == 0
    assert trace.self_times(spans) == pytest.approx(
        {0: 10 - 3 - 4, 1: 3.0, 2: 4.0, 3: 1.0})
    stats = trace.span_stats(spans, jobs)
    op, _ = stats[0]
    assert op["jobs"] == 3 and op["tasks"] == 4
    assert op["driver_ms"] == pytest.approx((10 - 2 - 2.5) * 1e3)
    assert op["executor_run_ms"] == 610
    assert op["executor_cpu_ms"] == pytest.approx(305)
    assert stats[1][0]["driver_ms"] == pytest.approx(1e3)
    assert stats[2][0]["driver_ms"] == pytest.approx(1.5e3)
    assert stats[2][0]["jobs"] == 2
    folded, by_name = trace.fold(spans, jobs)
    assert folded["op.calls"] == 2
    assert folded["op.jobs"] == 1.5            # median of 3 and 0
    assert folded["op.wall_ms"] == pytest.approx(5.5e3)
    assert len(by_name["op"]) == 3


class _FakeContext:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, group, desc):
        self.calls.append(("group", group))

    def setLocalProperty(self, key, value):
        self.calls.append((key, value))


def test_tracer_nests_foreign_thread_spans_without_job_groups():
    import threading
    from types import SimpleNamespace

    sc = _FakeContext()
    tr = trace.Tracer("run", SimpleNamespace(sparkContext=sc))
    with tr.span("streaming.drain") as drain:
        def callback():
            with tr.span("operators.snapshots.apply_cdc_mor"):
                pass
        worker = threading.Thread(target=callback)
        worker.start()
        worker.join(timeout=10)
        assert not worker.is_alive()
        with tr.span("inner"):
            pass
    apply, inner = tr.spans[1], tr.spans[2]
    assert apply.parent == drain.id and inner.parent == drain.id
    assert sc.calls == [("group", "span-0"), ("group", "span-2"),
                        ("group", "span-0"), ("spark.jobGroup.id", None),
                        ("spark.job.description", None)]


def test_union_length():
    assert trace.union_length([]) == 0
    assert trace.union_length([(0, 2), (1, 3), (5, 6)]) == 4


# -- verifiers reject wrong outputs -----------------------------------------

@pytest.fixture(scope="module")
def stripe_case(tmp_path_factory):
    root = tmp_path_factory.mktemp("stripe")
    old = gen.N_EVENTS, gen.N_EVENT_FILES
    gen.N_EVENTS, gen.N_EVENT_FILES = 400, 2
    try:
        inp = gen.stripe_reports(7, str(root / "in"))
    finally:
        gen.N_EVENTS, gen.N_EVENT_FILES = old
    return root, verify.stripe_oracle(inp["events_dir"], inp["dims"])


def _write_sinks(out, oracle, top10=None):
    """The three sinks in the layout the pipelines write."""
    for row in top10 or oracle["top10"]:
        d = os.path.join(out, "top10", f"date={row[0]}")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "part-0.csv")
        new = not os.path.exists(path)
        with open(path, "a", newline="") as f:
            w = csv.writer(f, delimiter="|")
            if new:
                w.writerow(("position", "categoryId", "categoryName",
                            "resourceId", "resourceName", "purchases"))
            w.writerow(row[1:])
    for dim, rel, sub in (("countryCode", "usagePercentRelativeCountry",
                           "country"),
                          ("timeZone", "usagePercentRelativeTz", "timezone")):
        rows = oracle["usage"][dim]
        for month in {r[0] for r in rows}:
            part = [r for r in rows if r[0] == month]
            d = os.path.join(out, "usage", sub, f"month={month}")
            os.makedirs(d)
            cols = list(zip(*part))
            pq.write_table(pa.table({
                dim: cols[1], "resourceId": cols[2],
                "usagePercentTotal": cols[3], rel: cols[4],
                "totalDurationInSec": [int(x) for x in cols[5]]}),
                os.path.join(d, "part-0.parquet"))
    os.makedirs(os.path.join(out, "royalties"))
    with open(os.path.join(out, "royalties", "part-0.json"), "w") as f:
        for date, provider, amount in oracle["royalties"]:
            f.write(json.dumps({"date": date, "providerId": provider,
                                "amount": amount}) + "\n")


def test_stripe_verifier(stripe_case):
    root, oracle = stripe_case
    good = str(root / "good")
    _write_sinks(good, oracle)
    assert verify.check_stripe(good, oracle) == []
    assert verify.output_files(os.path.join(good, "royalties")) == 1

    wrong = [list(r) for r in oracle["top10"]]
    wrong[0][-1] += 1                      # one purchase count off
    bad = str(root / "bad")
    _write_sinks(bad, oracle, top10=[tuple(r) for r in wrong])
    assert any(e.startswith("top10") for e in verify.check_stripe(bad, oracle))

    drifted = dict(oracle, royalties=[(d, p, a + 0.02)
                                      for d, p, a in oracle["royalties"]])
    assert any(e.startswith("royalties")
               for e in verify.check_stripe(good, drifted))


def _corpus_case(tmp_path):
    old = (gen.N_DOCS, gen.N_EXACT_CLUSTERS, gen.N_NEAR_PAIRS, gen.N_VECS,
           gen.N_VEC_PAIRS, gen.N_QUERIES)
    (gen.N_DOCS, gen.N_EXACT_CLUSTERS, gen.N_NEAR_PAIRS, gen.N_VECS,
     gen.N_VEC_PAIRS, gen.N_QUERIES) = 60, 4, 6, 60, 6, 5
    try:
        inp = gen.corpus_dedup(3, str(tmp_path / "corpus"))
    finally:
        (gen.N_DOCS, gen.N_EXACT_CLUSTERS, gen.N_NEAR_PAIRS, gen.N_VECS,
         gen.N_VEC_PAIRS, gen.N_QUERIES) = old
    return inp


def _corpus_outputs(inp):
    """Correct outputs, computed the slow way."""
    import hashlib

    texts = inp["texts"]
    groups = {}
    for i, t in enumerate(texts):
        h = hashlib.sha256(t.lower().encode()).hexdigest()
        cid, n = groups.get(h, (i, 0))
        groups[h] = (min(cid, i), n + 1)
    sh = [verify._shingles(t) for t in texts]
    pairs = [(a, b) for a, b in inp["near"]] + [
        (c[0], c[1]) for c in inp["exact"]]
    mh = [(a, b, verify.minhash_estimate(sh[a], sh[b])) for a, b in pairs]
    mh = [p for p in mh if p[2] >= verify.MINHASH_THRESHOLD]
    cos = verify._cosines(inp["vecs"])
    rp = [(a, b, round(float(cos[a, b]), 6)) for a, b in inp["vec_pairs"]]
    topk = []
    for q in inp["queries"]:
        row = cos[q].copy()
        row[q] = -np.inf
        for rank, n in enumerate(np.argsort(-row, kind="stable")[:verify.TOPK]):
            topk.append((int(q), int(n), round(float(cos[q, n]), 6), rank + 1))
    return [(h, c, n) for h, (c, n) in groups.items()], mh, rp, topk


def test_corpus_verifier(tmp_path):
    inp = _corpus_case(tmp_path)
    groups, mh, rp, topk = _corpus_outputs(inp)
    errs, quality = verify.check_corpus(inp, groups, mh, rp, topk)
    assert errs == []
    assert quality["rp_lsh_pairs.recall"] == 1.0

    assert verify.check_corpus(inp, groups[1:], mh, rp, topk)[0]
    a, b, est = mh[0]
    assert verify.check_corpus(inp, groups, [(a, b, est - 0.0625)] + mh[1:],
                               rp, topk)[0]
    a, b, s = rp[0]
    assert verify.check_corpus(inp, groups, mh, [(a, b, s + 0.01)] + rp[1:],
                               topk)[0]
    assert verify.check_corpus(inp, groups, mh, rp[:1], topk)[0]   # recall
    assert verify.check_corpus(inp, groups, mh, rp, topk[1:])[0]


def test_replica_verifier():
    model = {1: (0, 10), 2: (1, 20), 3: (2, 30)}
    rows = [(1, 0, 10), (2, 1, 20), (3, 2, 30)]
    assert verify.check_replica(model, rows, list(reversed(rows))) == []
    assert verify.check_replica(model, rows, rows[:2])
    assert verify.check_replica(model, rows[:2] + [(3, 2, 31)], rows)
