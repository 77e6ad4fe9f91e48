"""The benchmark workloads. Each drives the program only through its public
functions and wraps every call into a layer in a span named
``<layer>.<call>``, and each stripe_reports or corpus_dedup op in a span
named after that workload, so that nightly_batch can tell its two parts
apart; the harness (``run.py``) times ops, checks them and folds the trace.

A workload has ``setup()`` (bootstrap calls, counted in set-up time),
``op(i)`` (one timed op; returns the input rows it processed), ``check(i)``
(verification of op ``i``, outside the timed region), ``finish()`` (final
verification and workload-specific metrics) and ``layer_metrics(folded,
jobs_by_name)`` (per-layer metrics from the folded trace). ``op_seconds``
is the nominal op time that turns ``--seconds`` into an op count;
``max_ops`` bounds the op index.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from pyspark.sql import functions as F

from data_pipeline_stripe_spark import pipelines
from data_pipeline_stripe_spark import schemas as S
from data_pipeline_stripe_spark.llm.dedup import (exact_dedup_groups,
                                                  minhash_lsh_pairs)
from data_pipeline_stripe_spark.llm.similarity import (brute_force_topk_pandas,
                                                       rp_lsh_pairs)
from data_pipeline_stripe_spark.operators.snapshots import (
    snapshot_apply_cdc_mor, snapshot_commit, snapshot_delete_keys,
    snapshot_read, snapshot_upsert_keys)
from data_pipeline_stripe_spark.sources.readers import (empty_frame,
                                                        read_dim_rows,
                                                        read_events_json)
from data_pipeline_stripe_spark.sources.snapshot_source import (
    register_snapshot_source)

from . import verify


def _pick(folded: dict, prefix: str, stats) -> dict:
    return {f"{prefix}.{s}": folded[f"{prefix}.{s}"] for s in stats
            if f"{prefix}.{s}" in folded}


class StripeReports:
    """The paper's workload: each op re-reads the JSONL events and runs
    the three reports through their partitioned sinks."""

    name = "stripe_reports"
    op_seconds = 7.5
    max_ops = 10_000

    def __init__(self, spark, inp, work, tr):
        self.spark, self.inp, self.tr = spark, inp, tr
        self.events_dir = inp["events_dir"]
        self.out = os.path.join(work, "out")
        self.oracle = None
        self.files: dict[str, list[int]] = {}

    def setup(self):
        d, sp = self.inp["dims"], self.spark
        with self.tr.span("sources.read_dim_rows"):
            self.dims = (read_dim_rows(sp, d["resources"], S.RESOURCES_SCHEMA),
                         read_dim_rows(sp, d["categories"], S.CATEGORIES_SCHEMA),
                         read_dim_rows(sp, d["countries"], S.COUNTRIES_SCHEMA),
                         read_dim_rows(sp, d["rates"], S.EXCHANGE_RATES_SCHEMA))

    def op(self, i):
        with self.tr.span("stripe_reports"):
            return self._cycle()

    def _cycle(self):
        res, cat, ctry, rts = self.dims
        with self.tr.span("sources.read_events_json"):
            ev = read_events_json(self.spark, self.events_dir)
        with self.tr.span("pipelines.top10"):
            pipelines.write_top10_csv(pipelines.top10_report(ev, res, cat),
                                      f"{self.out}/top10")
        with self.tr.span("pipelines.usage"):
            pipelines.write_usage_parquet(pipelines.usage_report(ev),
                                          f"{self.out}/usage")
        with self.tr.span("pipelines.royalties"):
            pipelines.write_royalties_json(
                pipelines.royalties_report(ev, res, cat, ctry, rts),
                f"{self.out}/royalties")
        return self.inp["sizes"]["events"]

    def check(self, i):
        if self.oracle is None:
            self.oracle = verify.stripe_oracle(self.events_dir,
                                               self.inp["dims"])
        for sink in ("top10", "usage", "royalties"):
            self.files.setdefault(sink, []).append(
                verify.output_files(f"{self.out}/{sink}"))
        return verify.check_stripe(self.out, self.oracle)

    def finish(self):
        return [], {}

    def layer_metrics(self, folded, jobs_by_name):
        out = _pick(folded, "sources.read_dim_rows", ("wall_ms", "jobs"))
        cycles = folded.get("stripe_reports.calls", 1)
        scans = jobs_by_name.get("stripe_reports", [])
        out["sources.events_scan.scans_per_cycle"] = sum(
            j["scan_stages"] for j in scans) / cycles
        out["sources.events_scan.input_bytes"] = sum(
            j["input_bytes"] for j in scans) / cycles
        out["sources.events_scan.executor_run_ms"] = sum(
            j["scan_run_ms"] for j in scans) / cycles
        for r in ("top10", "usage", "royalties"):
            out.update(_pick(folded, f"pipelines.{r}",
                             ("wall_ms", "jobs", "driver_ms", "executor_cpu_ms",
                              "shuffle_write_bytes", "output_bytes")))
            out[f"pipelines.{r}.output_files"] = statistics.median(self.files[r])
        return out


class CorpusDedup:
    """One op is one curation pass over the corpus: exact dedup, MinHash
    LSH near-duplicate pairs, random-projection LSH over the embeddings
    and a brute-force top-k through the Arrow ``mapInPandas`` kernel."""

    name = "corpus_dedup"
    op_seconds = 5.5
    max_ops = 10_000

    def __init__(self, spark, inp, work, tr):
        self.spark, self.inp, self.tr = spark, inp, tr
        self.quality: list[dict] = []

    def setup(self):
        self.qids = [int(q) for q in self.inp["queries"]]

    def op(self, i):
        with self.tr.span("corpus_dedup"):
            return self._pass()

    def _pass(self):
        docs = self.spark.read.parquet(self.inp["docs_path"])
        emb = self.spark.read.parquet(self.inp["emb_path"])
        queries = emb.filter(F.col("vec_id").isin(self.qids))
        with self.tr.span("llm.exact_dedup_groups"):
            self.groups = exact_dedup_groups(docs).collect()
        with self.tr.span("llm.minhash_lsh_pairs"):
            self.mh = minhash_lsh_pairs(
                docs, threshold=verify.MINHASH_THRESHOLD).collect()
        with self.tr.span("llm.rp_lsh_pairs"):
            self.rp = rp_lsh_pairs(emb, threshold=verify.RP_THRESHOLD).collect()
        with self.tr.span("llm.brute_force_topk_pandas"):
            self.topk = brute_force_topk_pandas(emb, queries,
                                                k=verify.TOPK).collect()
        return self.inp["sizes"]["docs"] + self.inp["sizes"]["vectors"]

    def check(self, i):
        errs, quality = verify.check_corpus(
            self.inp, [tuple(r) for r in self.groups],
            [tuple(r) for r in self.mh], [tuple(r) for r in self.rp],
            [tuple(r) for r in self.topk])
        self.quality.append(quality)
        return errs

    def finish(self):
        return [], {}

    def layer_metrics(self, folded, jobs_by_name):
        out = {}
        for call in ("exact_dedup_groups", "minhash_lsh_pairs",
                     "rp_lsh_pairs", "brute_force_topk_pandas"):
            out.update(_pick(folded, f"llm.{call}",
                             ("wall_ms", "jobs", "executor_cpu_ms",
                              "shuffle_write_bytes", "gc_ms")))
        for k in self.quality[0]:
            out[f"llm.{k}"] = statistics.median(q[k] for q in self.quality)
        return out


class CdcReplication:
    """A change-data-feed stream replicates a source snapshot table into a
    merge-on-read replica. One op is one source commit (cycling through
    upsert, key delete and append) followed by a drain of the stream,
    whose ``foreachBatch`` applies the changes with
    ``snapshot_apply_cdc_mor``."""

    name = "cdc_replication"
    op_seconds = 2.0
    SCHEMA = "k long, grp int, val long"
    MAX_FILES_PER_TRIGGER = 4

    def __init__(self, spark, inp, work, tr):
        self.spark, self.inp, self.tr = spark, inp, tr
        self.src = os.path.join(work, "source")
        self.dst = os.path.join(work, "replica")
        self.ckpt = os.path.join(work, "checkpoint")
        self.max_ops = len(inp["bursts"])
        base = inp["base"]
        self.model = {int(k): (int(g), int(v)) for k, g, v in
                      zip(base["k"], base["grp"], base["val"])}
        self.published: dict[int, float] = {}   # source version -> time
        self.epochs: dict[int, float] = {}      # epoch id -> apply end time
        self.progress: dict[int, dict] = {}     # epoch id -> progress
        self.writes: list[float] = []          # source commit latencies
        self.change_rows = 0
        self.query = None

    def _apply(self, batch_df, epoch_id):
        changes = batch_df.select(
            "k", "grp", "val", F.col("_commit_version").alias("seq"),
            F.when(F.col("_change_type") == "D", F.lit("D"))
            .otherwise(F.lit("U")).alias("op"))
        with self.tr.span("operators.snapshots.apply_cdc_mor"):
            snapshot_apply_cdc_mor(self.spark, self.dst, changes, "k",
                                   epoch_key=str(epoch_id))
        self.epochs[epoch_id] = time.time()

    def _drain(self):
        with self.tr.span("streaming.drain"):
            self.query.processAllAvailable()
        for p in self.query.recentProgress:
            p = json.loads(p.json)
            self.progress[p["batchId"]] = p

    def setup(self):
        sp = self.spark
        register_snapshot_source(sp)
        with self.tr.span("operators.snapshots.commit"):
            snapshot_commit(sp, self.src, sp.read.parquet(self.inp["base_path"]))
            snapshot_commit(sp, self.dst, empty_frame(sp, self.SCHEMA))
        t = time.perf_counter()
        with self.tr.span("streaming.start"):
            self.query = (
                sp.readStream.format("snapshot_table").option("cdf", "true")
                .option("maxFilesPerTrigger", self.MAX_FILES_PER_TRIGGER)
                .load(self.src)
                .writeStream.foreachBatch(self._apply)
                .trigger(processingTime="100 milliseconds")
                .option("checkpointLocation", self.ckpt).start())
        self.start_ms = (time.perf_counter() - t) * 1e3
        self._drain()

    def op(self, i):
        kind, cols = self.inp["bursts"][i]
        batch = self.spark.read.parquet(self.inp["paths"][i])
        t = time.perf_counter()
        with self.tr.span(f"operators.snapshots.{kind}"):
            if kind == "upsert":
                v, _ = snapshot_upsert_keys(self.spark, self.src, batch, "k")
            elif kind == "delete":
                v, _ = snapshot_delete_keys(self.spark, self.src, batch, "k")
            else:
                v = snapshot_commit(self.spark, self.src, batch)
        if i:  # the warm-up op's commit is set-up, not a measured write
            self.writes.append(time.perf_counter() - t)
            self.published[v] = time.time()
        self._drain()
        keys = [int(k) for k in cols["k"]]
        if kind == "delete":
            hit = [k for k in keys if k in self.model]
            for k in hit:
                del self.model[k]
        else:
            hit = keys
            for k, g, val in zip(keys, cols["grp"], cols["val"]):
                self.model[k] = (int(g), int(val))
        self.change_rows += len(hit)
        return len(hit)

    def check(self, i):
        return []

    def finish(self):
        self.query.stop()
        rows = {d: [tuple(r) for r in snapshot_read(self.spark, d)
                    .select("k", "grp", "val").collect()]
                for d in (self.src, self.dst)}
        errs = verify.check_replica(self.model, rows[self.src], rows[self.dst])
        ends = []
        for p in self.progress.values():
            if p["numInputRows"] and p["batchId"] in self.epochs:
                end = p["sources"][0]["endOffset"]
                end = json.loads(end) if isinstance(end, str) else end
                ends.append((end["version"], p["batchId"]))
        ends.sort()
        lags = []
        for v, t in self.published.items():
            batch = next((b for end, b in ends if end >= v), None)
            if batch is not None:
                lags.append(self.epochs[batch] - t)
        extra = {"write_p50_ms": (statistics.median(self.writes) * 1e3, "ms")}
        if lags:
            extra["lag_p50_ms"] = (statistics.median(lags) * 1e3, "ms")
        return errs, extra

    def layer_metrics(self, folded, jobs_by_name):
        out = {}
        for call in ("commit", "upsert", "delete", "append", "apply_cdc_mor"):
            out.update(_pick(folded, f"operators.snapshots.{call}",
                             ("wall_ms", "jobs", "driver_ms", "output_bytes")))
        data = [p for p in self.progress.values() if p["numInputRows"]]
        for phase, key in (("trigger_ms", "triggerExecution"),
                           ("latest_offset_ms", "latestOffset"),
                           ("get_batch_ms", "getBatch"),
                           ("add_batch_ms", "addBatch"),
                           ("wal_commit_ms", "walCommit"),
                           ("commit_offsets_ms", "commitOffsets")):
            out[f"streaming.epoch.{phase}"] = statistics.median(
                p["durationMs"].get(key, 0) for p in data)
        out["streaming.epochs"] = len(data)
        out["streaming.start_ms"] = self.start_ms
        out["streaming.rows_per_epoch"] = statistics.median(
            p["numInputRows"] for p in data)
        applied = sum(p["numInputRows"] for p in data
                      if p["batchId"] > min(self.progress))
        out["sources.snapshot_source.input_rows_per_change_row"] = (
            applied / self.change_rows if self.change_rows else 0.0)
        return out


class NightlyBatch:
    """The paper's three reports, then one curation pass over the text
    corpus, as one nightly batch on one session: each op is a
    ``StripeReports`` op followed by a ``CorpusDedup`` op."""

    name = "nightly_batch"
    op_seconds = 13.0
    max_ops = 10_000

    def __init__(self, spark, inp, work, tr):
        self.parts = (StripeReports(spark, inp["stripe_reports"], work, tr),
                      CorpusDedup(spark, inp["corpus_dedup"], work, tr))

    def setup(self):
        for p in self.parts:
            p.setup()

    def op(self, i):
        return sum(p.op(i) for p in self.parts)

    def check(self, i):
        return [e for p in self.parts for e in p.check(i)]

    def finish(self):
        return [], {}

    def layer_metrics(self, folded, jobs_by_name):
        return {k: v for p in self.parts
                for k, v in p.layer_metrics(folded, jobs_by_name).items()}


WORKLOADS = {w.name: w for w in (StripeReports, CorpusDedup, NightlyBatch,
                                 CdcReplication)}
