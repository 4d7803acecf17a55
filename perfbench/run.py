#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Workloads (``perfbench/workloads.py``): ``queries`` and ``storage``;
``--workload all`` runs each in its own process and prints every metric. One client runs passes in a closed loop on ``local[nproc]``.
A run generates the fixture tables, sets up three times (median reported
as ``setup_s``), runs one untimed warm-up pass that compares every query
with its DuckDB oracle, then runs timed passes until ``--seconds`` have
passed, finishing the pass in progress.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
library's layers (``perfbench/trace.py``), turns on the Spark event log,
runs a traced, an untraced and a traced pass with the same seeded choices,
and reports the per-layer metrics and the tracing overhead. Every operation
must run the same number of Spark jobs and give the same output in every
pass; a difference counts as a failed operation.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
``--record PATH`` also writes the full record: host, every operation's
latency and job count, per-layer breakdowns, and (traced) the spans.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIB = "nyc_taxi_etl_pyspark_spark"
SETUP_REPS = 3
# traced runs: traced (True) passes on both sides of an untraced one
TRACE_BLOCK = (True, False, True)
FIXTURE_SF = 0.01
FIXTURE_SEED = 42  # the tables are fixed; --seed drives the run's choices

END_TO_END = {
    "setup_s": "s",
    "pass_p50_s": "s",
    "op_geomean_s": "s",
}
PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.stage_run_s": "s",
    "spark.stage_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.driver_gap_s": "s",
    "plans.build_s": "s",
    "plans.action_s": "s",
    "plans.build_jobs": "count",
    "operators.calls": "count",
    "operators.self_s": "s",
    "eager.actions": "count",
    "checkpoint.calls": "count",
    "tables.load_s": "s",
    "tables.cached_bytes": "bytes",
    "txtable.calls": "count",
    "txsql.calls": "count",
    "etl.calls": "count",
    "streaming.batches": "count",
    "driver.jvm_rss_peak_mb": "MB",
    "driver.py_rss_peak_mb": "MB",
    "trace.overhead_s": "s",
    "trace.job_mismatch_ops": "count",
}


def median(vals):
    vals = sorted(vals)
    if not vals:
        return 0.0
    m = len(vals) // 2
    return vals[m] if len(vals) % 2 else (vals[m - 1] + vals[m]) / 2


def host_info() -> dict:
    info = {"nproc": len(os.sched_getaffinity(0)), "loadavg_start": os.getloadavg()}
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                info["mem_total_mb"] = int(line.split()[1]) // 1024
    import pyspark

    info["pyspark"] = pyspark.__version__
    info["git_sha"] = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            info["git_sha"] = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10,
            ).stdout.strip() or None
        except OSError:
            pass
    h = hashlib.sha1()
    for d, _dirs, files in sorted(os.walk(os.path.join(ROOT, LIB))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    info["library_sha1"] = h.hexdigest()
    return info


def configure_env(work: str, trace: bool, host: dict) -> None:
    """Size Spark to the host, from outside the library, and keep every
    file the run writes under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem_gb = max(1, min(8, host["mem_total_mb"] // 1024 // 4))
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    os.environ["SPARK_DRIVER_MEMORY"] = f"{mem_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.path.join(ROOT, "tests"), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_MASTER", None)
    tempfile.tempdir = tmp
    submit = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    host["driver_memory"] = os.environ["SPARK_DRIVER_MEMORY"]


class Ctx:
    """What operations share: the session, fixture dir and scratch dirs."""

    def __init__(self, spark, sf_dir: str, work: str, queries, oracles):
        self.spark, self.sf_dir, self.work = spark, sf_dir, work
        self.tmp_dir = tempfile.gettempdir()
        self.queries, self.oracles = queries, oracles
        self._n = 0

    def fresh_dir(self, prefix: str) -> str:
        self._n += 1
        d = os.path.join(self.work, "scratch", f"{prefix}-{self._n}")
        os.makedirs(d, exist_ok=True)
        return d


class Runner:
    def __init__(self, ctx, workload, trace_mod):
        self.ctx, self.wl, self.trace = ctx, workload, trace_mod
        self.sc = ctx.spark.sparkContext
        self.stream_runs: list[str] = []
        self.progress: list[dict] = []

    def jobs(self, gid: str, stream_mark: int) -> int:
        st = self.sc.statusTracker()
        n = len(st.getJobIdsForGroup(gid))
        # streaming micro-batches run under their query's runId group
        for rid in self.stream_runs[stream_mark:]:
            n += len(st.getJobIdsForGroup(rid))
        return n

    def run_op(self, op, gid: str, verify: bool) -> dict:
        tr = self.trace
        self.sc.setJobGroup(gid, op.name)
        mark = len(self.stream_runs)
        probe = getattr(op, "probe", None)
        b0 = probe() if probe else 0
        rec = {"name": op.name, "kind": op.kind, "gid": gid}
        layer = "plans" if op.kind == "query" else "bench"
        result, problems = None, []
        rec["start_ms"] = time.time() * 1e3
        tr.begin_op(gid, op.name)
        t0 = t1 = time.perf_counter()
        try:
            with tr.span("build", layer):
                built = op.build()
            t1 = time.perf_counter()
            rec["build_jobs"] = self.jobs(gid, mark)
            with tr.span("action", layer):
                if verify:
                    result, problems = op.verify(built)
                else:
                    result = op.act(built)
        except Exception as e:  # every failure is counted, none swallowed
            problems = [f"{op.name}: {type(e).__name__}: {str(e)[:400]}"]
        t2 = time.perf_counter()
        tr.end_op()
        rec["end_ms"] = time.time() * 1e3
        rec.update(build_s=t1 - t0, act_s=t2 - t1, s=t2 - t0)
        if not verify and not problems:
            try:
                problems = op.check(result)
            except Exception as e:
                problems = [f"{op.name}: check {type(e).__name__}: {e}"]
        rec["jobs"] = self.jobs(gid, mark)
        rec["stream_runs"] = self.stream_runs[mark:]
        # outputs compared between traced and untraced passes (write results
        # carry table versions, which differ by construction)
        rec["result"] = result if op.kind in ("query", "read") else None
        if probe:
            rec["bytes_written"] = probe() - b0
        rec["problems"] = problems
        return rec

    def run_pass(self, ops, pass_seed: int, idx: int, verify: bool = False) -> dict:
        import numpy as np

        rng = np.random.default_rng(pass_seed)
        self.wl.begin_pass(self.ctx, rng)
        seq = self.wl.order(ops, rng)
        t0 = time.perf_counter()
        recs = [self.run_op(op, f"pb-{idx}-{j}", verify) for j, op in enumerate(seq)]
        wall = time.perf_counter() - t0
        try:
            problems = self.wl.end_pass(self.ctx)
        except Exception as e:
            problems = [f"end of pass: {type(e).__name__}: {e}"]
        rec = {"pass": idx, "seed": pass_seed, "wall_s": wall, "ops": recs,
               "problems": problems}
        if hasattr(self.wl, "pass_record"):
            rec.update(self.wl.pass_record())
        return rec


def install_stream_capture(runner: Runner) -> None:
    """Record the runId of every streaming query started (jobs of its
    micro-batches run under that job group) and every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    start = DataStreamWriter.start

    def capture_start(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        runner.stream_runs.append(str(q.runId))
        return q

    DataStreamWriter.start = capture_start

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            try:
                runner.progress.append(json.loads(event.progress.json))
            except Exception:
                pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    runner.ctx.spark.streams.addListener(Progress())


def rss_mb(spark) -> tuple[float, float]:
    """Peak resident memory of the JVM (``VmHWM``) and the Python driver."""
    jvm = 0.0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024.0
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    return jvm, py


def udf_profile_s(spark) -> float:
    """Total Python-worker time the perf UDF profiler has collected."""
    try:
        stats = spark._profiler_collector._perf_profile_results
        return float(sum(s.total_tt for s in stats.values()))
    except Exception:
        return 0.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    try:
        spark.stop()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def layer_metrics(tr, spans, passes, runner) -> dict:
    """Per-pass layer figures from spans and the event log (median over
    the given passes)."""
    self_t = tr.self_times(spans)
    by_op: dict[str, list] = {}
    for s in spans:
        if s.op is not None:
            by_op.setdefault(s.op, []).append(s)
    per_pass = []
    for p in passes:
        m: dict[str, float] = {}

        def add(k, v):
            m[k] = m.get(k, 0.0) + v

        for o in p["ops"]:
            if o["kind"] == "query":
                add("plans.build_s", o["build_s"])
                add("plans.action_s", o["act_s"])
                add("plans.build_jobs", o["build_jobs"])
            for k, v in tr.spark_metrics_for_window(
                runner.ev_jobs, runner.ev_stages, o["start_ms"], o["end_ms"]
            ).items():
                add(k, v)
            for s in by_op.get(o["gid"], []):
                layer = s.layer
                if layer.startswith("operators."):
                    add("operators.calls", 1)
                    add("operators.self_s", self_t[s.sid])
                    add(f"{layer}.calls", 1)
                    add(f"{layer}.self_s", self_t[s.sid])
                elif layer in ("eager", "checkpoint"):
                    add("eager.actions" if layer == "eager" else "checkpoint.calls", 1)
                    add(f"{layer}.s", s.end - s.start)
                elif layer in ("txtable", "txsql", "etl", "tables", "session"):
                    add(f"{layer}.calls", 1)
                    add(f"{layer}.self_s", self_t[s.sid])
                    if layer == "txtable":
                        add(f"{s.name}.s", s.end - s.start)
            if o["name"] == "run_etl":
                writes = sorted(
                    (s for s in by_op.get(o["gid"], [])
                     if s.name == "etl.write_parquet_partitioned"),
                    key=lambda s: s.start,
                )
                w = [s.end - s.start for s in writes]
                add("etl.write_curated_s", w[0] if w else 0.0)
                add("etl.write_agg_s", sum(w[1:]))
                add("etl.clean_s", o["act_s"] - sum(w))
        per_pass.append(m)
    keys = set().union(*per_pass) if per_pass else set()
    return {k: median([pp.get(k, 0.0) for pp in per_pass]) for k in sorted(keys)}


def streaming_metrics(runner, passes) -> dict:
    runs = {r for p in passes for o in p["ops"] for r in o["stream_runs"]}
    batches = [e for e in runner.progress if e.get("runId") in runs]
    if not batches:
        return {"streaming.batches": 0}
    dur = [e.get("durationMs", {}) for e in batches]
    trig = [d.get("triggerExecution", 0) / 1e3 for d in dur]
    by_run: dict[str, list[float]] = {}
    for e, t in zip(batches, trig):
        by_run.setdefault(e["runId"], []).append(t)
    growth = [v[-1] / v[0] for v in by_run.values() if len(v) > 1 and v[0] > 0]
    n_pass = max(1, len(passes))
    return {
        "streaming.batches": len(batches) / n_pass,
        "streaming.batch_p50_s": median(trig),
        "streaming.trigger_s": sum(trig) / n_pass,
        "streaming.addBatch_s": sum(d.get("addBatch", 0) for d in dur) / 1e3 / n_pass,
        "streaming.planning_s": sum(d.get("queryPlanning", 0) for d in dur) / 1e3 / n_pass,
        "streaming.commit_s": sum(
            d.get("commitOffsets", 0) + d.get("walCommit", 0) for d in dur
        ) / 1e3 / n_pass,
        "streaming.history_growth": median(growth) if growth else 1.0,
    }


def op_latencies(passes) -> dict[str, float]:
    lat: dict[str, list[float]] = {}
    for p in passes:
        for o in p["ops"]:
            lat.setdefault(o["name"], []).append(o["s"])
    return {k: median(v) for k, v in lat.items()}


def geomean(vals) -> float:
    vals = [v for v in vals if v > 0]
    return math.exp(sum(math.log(v) for v in vals) / len(vals)) if vals else 0.0


def more_time(t0: float, last_s: float, seconds: int) -> bool:
    """True when another round as long as the last (``last_s``) would end
    past ``seconds`` (at least one always runs, and each runs to its end)."""
    return time.perf_counter() - t0 + last_s > seconds


def run(args, work: str, host: dict) -> dict:
    import numpy as np

    from perfbench import trace as tr
    from perfbench.fixtures import generate
    from perfbench.workloads import WORKLOADS

    sf_dir = os.path.join(work, "fixtures")
    host["fixture_rows"] = generate(sf_dir, FIXTURE_SF, FIXTURE_SEED)
    t_start = time.perf_counter()
    if args.trace:
        tr.install()  # before the registry imports the plans modules
    from nyc_taxi_etl_pyspark_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    host["session_start_s"] = time.perf_counter() - t_start
    try:
        return _run(args, spark, sf_dir, work, host, tr, np, WORKLOADS)
    finally:
        stop_spark(spark)


def _run(args, spark, sf_dir, work, host, tr, np, WORKLOADS) -> dict:
    from nyc_taxi_etl_pyspark_spark.plans.registry import all_oracle_sql, all_queries

    wl = WORKLOADS[args.workload]()
    ctx = Ctx(spark, sf_dir, work, all_queries(), all_oracle_sql())
    runner = Runner(ctx, wl, tr)
    install_stream_capture(runner)
    rng = np.random.default_rng(args.seed)

    tr.ACTIVE = bool(args.trace)  # traced set-up: layer spans during load
    setups = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        info = wl.setup(ctx)
        info["s"] = time.perf_counter() - t0
        setups.append(info)
    tr.ACTIVE = False
    cached = sum(
        r.memSize() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )
    ops = wl.make_ops(ctx)

    # Every registry query runs once untimed and is checked against its
    # oracle. Storage and ETL operations are timed from their first run, as
    # a batch job pays its warm-up on every run; a traced run warms them
    # too, so its traced and untraced passes compare like with like.
    warm_ops = ops if args.trace else [o for o in ops if o.kind == "query"]
    warm = runner.run_pass(warm_ops, int(rng.integers(2**31)), 0, verify=True)
    passes, traced, untraced = [], [], []
    if args.trace:
        # Every pass reuses one seed. With traced passes on both sides of the
        # untraced one, a steady drift over the run cancels in the traced
        # median.
        seed_t, udf_s = int(rng.integers(2**31)), 0.0
        t0 = time.perf_counter()
        while True:
            b0 = time.perf_counter()
            for on in TRACE_BLOCK:
                if on:
                    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
                    udf0 = udf_profile_s(spark)
                tr.ACTIVE = on
                p = runner.run_pass(ops, seed_t, 1 + len(passes))
                tr.ACTIVE = False
                if on:
                    spark.conf.unset("spark.sql.pyspark.udf.profiler")
                    udf_s += udf_profile_s(spark) - udf0
                p["traced"] = on
                passes.append(p)
                (traced if on else untraced).append(p)
            if more_time(t0, time.perf_counter() - b0, args.seconds):
                break
        udf_s /= len(traced)
    else:
        t0 = time.perf_counter()
        while True:
            passes.append(runner.run_pass(ops, int(rng.integers(2**31)), 1 + len(passes)))
            if more_time(t0, passes[-1]["wall_s"], args.seconds):
                break
    jvm_mb, py_mb = rss_mb(spark)
    time.sleep(0.5)  # let the last streaming progress events arrive

    all_passes = [warm] + passes
    attempted = sum(len(p["ops"]) for p in all_passes)
    failed = sum(1 for p in all_passes for o in p["ops"] if o["problems"])
    failed += sum(len(p["problems"]) for p in all_passes)
    mismatches = []
    if args.trace:
        base = {o["name"]: o for o in untraced[0]["ops"]}
        for p in passes[1:]:
            kind = "traced" if p["traced"] else "untraced"
            for o in p["ops"]:
                b = base[o["name"]]
                if (o["jobs"], o["result"]) != (b["jobs"], b["result"]):
                    mismatches.append(
                        f"{o['name']}: {kind} pass {p['pass']} jobs/result "
                        f"{o['jobs']}/{o['result']} != first untraced pass "
                        f"{b['jobs']}/{b['result']}"
                    )
        failed += len(mismatches)

    timed = traced if args.trace else passes
    lat = op_latencies(timed)
    e2e = {
        "setup_s": median([s["s"] for s in setups]),
        "pass_p50_s": median([p["wall_s"] for p in timed]),
        "op_geomean_s": geomean(lat.values()),
        "driver_rss_peak_mb": jvm_mb + py_mb,
    }
    extra = wl.extra_metrics(ctx, timed)
    extra.update(streaming_metrics(runner, timed))
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host,
        "setups": setups, "end_to_end": e2e, "extra": extra,
        "op_latency_s": lat,
        "op_jobs": {o["name"]: o["jobs"] for o in timed[-1]["ops"]},
        "problems": [pr for p in all_passes for o in p["ops"] for pr in o["problems"]]
        + [pr for p in all_passes for pr in p["problems"]] + mismatches,
        "passes": [
            {k: v for k, v in p.items() if k != "ops"}
            | {"ops": [{k: o[k] for k in ("name", "s", "build_s", "act_s", "jobs",
                                          "build_jobs", "bytes_written") if k in o}
                       for o in p["ops"]]}
            for p in all_passes
        ],
    }
    metrics = {}
    if args.trace:
        stop_spark(spark)  # flushes the event log
        runner.ev_jobs, runner.ev_stages = tr.read_event_log(os.path.join(work, "eventlog"))
        spans = tr.spans()
        layers = layer_metrics(tr, spans, traced, runner)
        layers.update({k: v for k, v in extra.items() if k.startswith("streaming.")})
        layers["functions.udf_s"] = udf_s
        layers["tables.load_s"] = median([s["tables.load_s"] for s in setups])
        layers["tables.cached_bytes"] = cached
        layers["driver.jvm_rss_peak_mb"] = jvm_mb
        layers["driver.py_rss_peak_mb"] = py_mb
        layers["trace.overhead_s"] = (
            median([p["wall_s"] for p in traced]) - median([p["wall_s"] for p in untraced])
        )
        layers["trace.job_mismatch_ops"] = len(mismatches)
        record["layers"] = layers
        record["untraced_layers"] = layer_metrics(tr, [], untraced, runner)
        record["spans"] = [s.as_dict() for s in spans]
        for k, unit in PER_LAYER.items():
            metrics[k] = {"value": layers.get(k, 0), "unit": unit}
    else:
        for k, unit in END_TO_END.items():
            metrics[k] = {"value": e2e[k], "unit": unit}
    host["loadavg_end"] = os.getloadavg()
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "record": record}


def run_all(args, names: list[str]) -> int:
    """Run every workload, each in its own process, and print all of
    their metrics as ``<workload>.<metric>`` in one result line."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in names:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, capture_output=True, text=True)
        if p.returncode != 0:
            sys.stderr.write(p.stderr[-4000:])
            return p.returncode
        lines = p.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"# {name} {line.lstrip('# ')}")
        res = json.loads(lines[-1])
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            total["metrics"][f"{name}.{k}"] = v
    print(json.dumps(total))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, help="a workload name, or all")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="also write the full record to this JSON file")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, LIB, "__init__.py")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle_harness.py")
    ):
        print(f"perfbench: {LIB}/ and tests/oracle_harness.py must sit next to "
              "perfbench/ (run from a checkout of the repository)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    from perfbench.workloads import WORKLOADS

    if args.workload == "all":
        return run_all(args, sorted(WORKLOADS))
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    host = host_info()
    configure_env(work, bool(args.trace), host)
    try:
        out = run(args, work, host)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    record = out.pop("record")
    if args.record:
        with open(args.record, "w") as f:
            json.dump({**out, **record}, f, indent=1, default=str)
    for pr in record["problems"][:20]:
        print(f"# problem: {pr}", file=sys.stderr)
    if record["extra"]:
        print("# " + json.dumps({k: round(v, 6) for k, v in record["extra"].items()}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
