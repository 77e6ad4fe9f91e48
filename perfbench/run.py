"""Repo benchmark: one seeded workload, end to end, with its outputs checked.

    python3 perfbench/run.py --workload stripe_reports --seed 1 \\
        --seconds 20 --trace 0

Run from the repository root. The workload runs as a closed loop with one
client against ``local[N]`` (N = min(3, cores), leaving a core for the
driver's own threads): the next op starts when the previous one returns.
``--seconds`` fixes the number of timed ops at max(1, round(seconds /
op_seconds)) for the workload's nominal op time, so every run of a
workload does identical work. Each op is checked after it returns,
outside the timed region. Inputs come from ``--seed`` and are cached
under ``.bench_cache/`` in the repository root, where all run state lives.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns Spark's
event log on and gives every timed op an untraced twin, run in ABBA order
(untraced, traced, traced, untraced, ...). Traced ops set a Spark job group
per call; the log folds into per-layer metrics, and the tracing overhead
is the traced ops' time over their twins'. The event log is on for both,
so the overhead covers spans and job groups, not the event-log writer.

Every metric is printed as ``metric <name> <value> <unit>``; the last
line is one JSON object ``{"correct", "attempted", "failed", "metrics"}``
holding the metrics declared in BENCHMARK.json. The exit code is 1 when
any check fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_cache")
CPUS = min(3, os.cpu_count() or 1)


def declared() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[kind]}
                 for kind in ("end_to_end", "per_layer"))


def tail_percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank q-quantile, or None unless at least ten samples lie
    beyond it (a p90 needs 100 samples)."""
    n = len(samples)
    rank = max(1, math.ceil(q * n))
    if n - rank < 10:
        return None
    return sorted(samples)[rank - 1]


def unit_of(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("ratio", "recall", "precision", "_frac", "_per_change_row")):
        return "ratio"
    return "count"


def peak_rss_mb(pid: str) -> float:
    """Peak resident set (VmHWM) of one process, from ``/proc``."""
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f
                    if line.startswith("VmHWM:")) / 1024


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant: the driver JVM, which runs the local executors, and
    Spark's Python workers, live or exited. Time the hypervisor steals
    from the VM is not CPU time, so unlike wall time this does not swing
    with the load other tenants put on the host."""
    ticks: dict[int, int] = {}
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        ticks[int(pid)] = sum(int(x) for x in fields[11:15])
        kids.setdefault(int(fields[1]), []).append(int(pid))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def configure(event_log_dir: str | None) -> None:
    """Point every Spark and Python scratch location into the cache and
    make the repository importable by Spark's Python workers (the
    snapshot_table DataSource and mapInPandas run there)."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join([ROOT] + path),
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(CACHE, "spark-local"),
        "TMPDIR": tmp,
        # the launcher JVM; no JVM writes /tmp/hsperfdata_* with -UsePerfData
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    confs = {"spark.ui.showConsoleProgress": "false",
             "spark.driver.extraJavaOptions":
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g -Xmn512m",
             "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse")}
    if event_log_dir:
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": event_log_dir,
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def become_subreaper() -> None:
    """Adopt orphaned descendants (Spark's Python worker daemon outlives
    the driver JVM that forked it), so ``stop_children`` can wait for
    every process the run started, not only the direct children."""
    import ctypes
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def child_pids() -> list[int]:
    pids = []
    for task in os.listdir("/proc/self/task"):
        try:
            with open(f"/proc/self/task/{task}/children") as f:
                pids += [int(p) for p in f.read().split()]
        except OSError:
            pass
    return pids


def stop_children(grace_s: float = 20.0) -> None:
    """Stop the driver JVM and wait until every descendant has exited.

    ``spark.stop()`` leaves the gateway JVM running until it reads EOF on
    its stdin, which happens only after this process exits. Close that
    pipe, then wait for every child (orphans included, see
    ``become_subreaper``); after ``grace_s`` terminate, then kill them."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        if gateway.proc.stdin:
            gateway.proc.stdin.close()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + grace_s
    sig = None
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig else signal.SIGTERM
            for pid in child_pids():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    event_dir = os.path.join(CACHE, "eventlog", run_id) if args.trace else None
    configure(event_dir)
    sys.path.insert(0, ROOT)
    from perfbench import gen, trace as T
    from perfbench.workloads import WORKLOADS
    from data_pipeline_stripe_spark.session import get_session

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    if event_dir:
        os.makedirs(event_dir)
    work = os.path.join(CACHE, "runs", run_id)
    inp = gen.make_inputs(args.workload, args.seed,
                          os.path.join(CACHE, "inputs"))

    c0, t0 = tree_cpu_s(), time.perf_counter()
    spark = get_session(app_name=f"perfbench-{run_id}", master=f"local[{CPUS}]")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = str(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    tr = T.Tracer(run_id, spark if args.trace else None)
    errors: list[str] = []
    lat: list[float] = []        # the measured ops (traced ones in a traced run)
    twin_lat: list[float] = []   # their untraced twins in a traced run
    cpu: list[float] = []        # CPU seconds of each measured op
    rows = failed = raised = 0
    py_peak = 0.0

    def checked(i: int) -> list[str]:
        # the checks run in this process: keep their memory out of the
        # peak by sampling before them and resetting the high-water mark
        nonlocal py_peak
        py_peak = max(py_peak, peak_rss_mb("self"))
        errs = w.check(i)
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return errs

    try:
        w = WORKLOADS[args.workload](spark, inp, work, tr)
        n_ops = min((w.max_ops - 1) // (1 + args.trace),
                    max(1, round(args.seconds / w.op_seconds)))
        if args.trace:  # ABBA: each traced op next to its untraced twin
            plan = [t for j in range(n_ops)
                    for t in ((False, True), (True, False))[j % 2]]
        else:
            plan = [False] * n_ops
        t1 = time.perf_counter()
        with tr.span("session.bootstrap"):
            w.setup()
        t2 = time.perf_counter()
        with tr.span("session.warmup"):
            w.op(0)
        t3, c3 = time.perf_counter(), tree_cpu_s()
        errors += checked(0)
        for i, traced in enumerate(plan, 1):
            tr.record = traced
            c, t = tree_cpu_s(), time.perf_counter()
            try:
                with tr.span("op"):
                    n = w.op(i)
            except Exception:  # an op that raises fails; stop the schedule
                traceback.print_exc()
                raised = 1
                errors.append(f"op {i} raised")
                break
            if traced == bool(args.trace):
                lat.append(time.perf_counter() - t)
                cpu.append(tree_cpu_s() - c)
                rows += n
            else:
                twin_lat.append(time.perf_counter() - t)
            op_errors = checked(i)
            failed += bool(op_errors)
            errors += op_errors
        jvm_peak = peak_rss_mb(jvm_pid)
        final_errors, extra = w.finish()
        if final_errors:  # end state is wrong: no op can be trusted
            errors += final_errors
            failed = max(failed, len(lat) + len(twin_lat))
        failed += raised
    finally:
        spark.stop()

    op_s = sum(lat) or math.inf
    attempted = len(lat) + len(twin_lat) + raised or 1
    setup_s = session_s + (t3 - t1)
    metrics = {"setup_s": setup_s, "ops_per_s": len(lat) / op_s,
               "op_p50_ms": statistics.median(lat) * 1e3 if lat else math.inf,
               "rows_per_s": rows / op_s, "peak_rss_mb": py_peak + jvm_peak,
               "op_cpu_ms": statistics.median(cpu) * 1e3 if cpu else math.inf}
    report = dict(metrics)
    report.update({"wall_s": sum(lat), "ops": len(lat),
                   "peak_rss_python_mb": py_peak, "peak_rss_jvm_mb": jvm_peak,
                   "failed_ops_frac": failed / attempted,
                   "setup_cpu_s": c3 - c0,
                   "session.start_ms": session_s * 1e3,
                   "session.bootstrap_ms": (t2 - t1) * 1e3,
                   "session.warmup_ms": (t3 - t2) * 1e3})
    p90 = tail_percentile(lat, 0.9)
    if p90 is not None:
        report["op_p90_ms"] = p90 * 1e3
    end_to_end, per_layer = declared()
    units = {**end_to_end, **per_layer}
    for name, (value, unit) in extra.items():
        report[name] = value
        units[name] = unit

    os.makedirs(os.path.join(CACHE, "records"), exist_ok=True)
    record = os.path.join(CACHE, "records", run_id)
    if args.trace:
        log = os.path.join(event_dir, os.listdir(event_dir)[0])
        jobs = T.read_event_log(log)
        under_warmup = {sp.id for sp in tr.spans if sp.name == "session.warmup"}
        for sp in tr.spans:
            if sp.parent in under_warmup:
                under_warmup.add(sp.id)
        spans = [sp for sp in tr.spans
                 if sp.id not in under_warmup or sp.name == "session.warmup"]
        folded, jobs_by_name = T.fold(spans, jobs)
        layer = w.layer_metrics(folded, jobs_by_name)
        layer.update({n: folded[n] for n in per_layer if n.startswith("op.")})
        layer["session.start_ms"] = session_s * 1e3
        layer["session.warmup_ms"] = (t3 - t2) * 1e3
        layer["trace.overhead_ratio"] = sum(lat) / (sum(twin_lat) or math.inf)
        layer["trace.spans"] = len(tr.spans)
        report.update(layer)
        tr.dump(record + ".spans.json")
        shutil.rmtree(event_dir)
    shutil.rmtree(work, ignore_errors=True)

    for name in sorted(report):
        print(f"metric {name} {report[name]!r} {units.get(name, unit_of(name))}")
    for e in errors:
        print(f"check failed: {e}")
    with open(record + ".json", "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed,
                   "seconds": args.seconds, "trace": args.trace,
                   "input_sizes": inp["sizes"], "errors": errors,
                   "op_latencies_s": lat,
                   "metrics": report}, f, indent=1, sort_keys=True)
    names = per_layer if args.trace else end_to_end
    correct = not errors and failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": report[n], "unit": units.get(n, unit_of(n))}
                    for n in names}}))
    return 0 if correct else 1


if __name__ == "__main__":
    become_subreaper()
    # a terminated run still stops the JVM and waits for it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = main()
    finally:
        stop_children()
    sys.exit(code)
