#!/usr/bin/env python3
"""Benchmark of the archival analytics engine (``osarchiver_spark``).

    python3 perfbench/run.py --workload archive_cycle --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

One closed-loop client (this process) issues one op at a time to a
``local[<cores>]`` session.  A run generates its inputs from the seed,
then starts a session ``SESSIONS`` times.  The first start launches
the JVM and runs the first op of a fresh workload; each later one is
timed with a warm-up (``setup_s`` is the median); the last session runs
the first op of another fresh workload (``first_op_s``) and then steady
ops until all ops together have run for ``--seconds`` (and at least
``MIN_STEADY`` steady ops).  The run checks every output and prints one
JSON result as its last stdout line.
``--trace 1`` adds spans, the Spark event log, the UDF profiler and a
streaming listener, and reports per-layer figures instead.  Both modes
leave a record in ``.perfbench_out/`` for ``perfbench/layers.py``.

``--smoke`` runs every workload once on the smallest inputs, traced and
untraced, and checks that each metric named in BENCHMARK.json prints
with its unit.  NOTES.md describes the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
# session starts per run.  The first launches the JVM and runs the
# first op of a fresh workload at once, with no warm-up: the first op a
# new process runs (``jvm_first_op_s``).  It pays for class loading and
# JIT compilation of the op's code, and alone it spread more than its
# bound from run to run on a contended 4-core host, so it is printed
# beside the result.  Each later start is followed by the warm-up
# (``setup_s`` is the median of those), and the last one runs the first
# op of another fresh workload (``first_op_s``): it still fills every
# per-session cache and builds the workload's own state.
SESSIONS = 4
# steady ops on the last session.  In archive_cycle the second steady
# op (the third cycle) is the first to append over an archive that
# already holds an appended batch (from the second cycle on the Parquet
# sink appends through its primary-key anti-join).
MIN_STEADY = 2
DEFAULT_SF = 0.01
SMOKE_SF = 0.001
GROUP = "perfbench-op-"
_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------- session


def _configure_environment(work: str, trace: bool) -> str:
    """Environment the session inherits; all scratch space stays in
    ``work``.  Returns the driver log path."""
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    log_path = os.path.join(work, "spark.log")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    # no hsperfdata file, from the driver JVM or the JVM spark-submit
    # launches first: HotSpot writes it to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = (
        "-XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')} "
        f"-Dperfbench.log={log_path}"
    )
    confs = [
        f"spark.driver.extraJavaOptions={java_opts}",
        f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
            "spark.eventLog.compress=true",
            "spark.eventLog.compression.codec=zstd",
            "spark.eventLog.rolling.enabled=true",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    )
    return log_path


def _warm_up(spark, python_workers: bool) -> None:
    """First-use costs of a session: the noop writer, whole-stage
    codegen, a shuffle and a window function, and, for a workload whose
    ops run pandas UDFs, one Python worker per core with NumPy and
    pandas imported (a new session starts its workers afresh; starting
    them took about 3 s of the first op on 4 cores, and it varied more
    than the rest of the op)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.range(1_000).selectExpr("sum(id) AS s").write.format("noop").mode("overwrite").save()
    spark.range(1_000).select(
        F.row_number().over(Window.partitionBy(F.col("id") % 7).orderBy("id")).alias("rn")
    ).write.format("noop").mode("overwrite").save()
    if python_workers:
        def touch(batches):
            import numpy  # noqa: F401
            import pandas  # noqa: F401

            yield from batches

        cores = _cores()
        spark.range(0, 1_000, 1, cores).mapInPandas(touch, schema="id long") \
            .write.format("noop").mode("overwrite").save()


def _start_session(app: str):
    """Start a session; returns it and the time the start took."""
    from osarchiver_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app)
    return spark, time.perf_counter() - t0


def _shutdown() -> None:
    """Stop the session, then the JVM it runs in and the JVM's Python
    workers, and wait for all of them."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from tracing import descendants

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


# ------------------------------------------------------------------ run


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest nearest-rank percentile with at least ten samples
    above it; the maximum when there are too few samples for one."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return s[-1], f"p100 of {n}"
    rank = n - 10  # 1-based rank of the value with ten above it
    return s[rank - 1], f"p{100 * rank // n} of {n}"


def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of the host's CPUs so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return sum(fields), fields[7] if len(fields) > 7 else 0


class Loop:
    """The closed loop: one op at a time, each checked after it ends."""

    def __init__(self, args, tracer):
        from workloads import OpResult

        self.args, self.tracer = args, tracer
        self.result, self.ops, self.measured = OpResult(), [], 0.0

    def steady(self) -> int:
        return sum(1 for o in self.ops if not o["cold"])

    def more(self) -> bool:
        return len(self.ops) < self.args.max_ops and (
            self.steady() < MIN_STEADY or self.measured < self.args.seconds
        )

    def run_op(self, spark, wl, probes, session: int, local: int) -> None:
        """Op ``local`` of workload ``wl``; its global index tags its
        spans and Spark jobs."""
        from workloads import OpResult

        args, tracer = self.args, self.tracer
        sc = spark.sparkContext
        i = len(self.ops)
        tracer.op = i
        sc.setJobGroup(f"{GROUP}{i}", f"{args.workload}:op")
        before = probes.snapshot() if probes else {}
        err = None
        with tracer.span("op") as span:
            try:
                wl.op(local)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted
                err = f"op {i}: {type(exc).__name__}: {str(exc)[:300]}"
        tracer.op = None
        sc.setJobGroup("perfbench-check", f"{args.workload}:check")
        rec = {"index": i, "session": session, "cold": local == 0,
               "start": span["start"], "end": span["end"], "dur": span["dur"]}
        if probes:
            rec.update({k: v - before[k] for k, v in probes.snapshot().items()})
        if err is None:
            self.result.add(wl.check(local, span["dur"]))
            rec.update(wl.op_counts())
        else:
            self.result.add(OpResult(wl.items, wl.items, [err]))
        self.ops.append(rec)
        self.measured += span["dur"]
        _log(f"op {i} (session {session}{', first' if local == 0 else ''}): {span['dur']:.2f}s")


def run(args) -> int:
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "osarchiver_spark")):
        print(f"perfbench: engine package osarchiver_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = _configure_environment(work, bool(args.trace))
    try:
        return _run(args, work, log_path)
    finally:
        if "pyspark" in sys.modules:
            _shutdown()
        shutil.rmtree(work, ignore_errors=True)
        _log("stopped")


def _run(args, work: str, log_path: str) -> int:
    import datagen
    import workloads
    from tracing import MemorySampler, OpProbes, Tracer

    trace = bool(args.trace)
    data_dir = os.path.join(work, "input")
    rows = datagen.generate(data_dir, args.seed, args.sf,
                            deleted_at=args.workload == "archive_cycle")
    _log(f"inputs generated: {rows}")
    tracer = Tracer(trace)
    loop = Loop(args, tracer)
    app = f"perfbench_{args.workload}"
    starts, warms, app_ids = [], [], []

    def new_workload(spark, k: int):
        """A workload with its own state, and its probes, on session k."""
        app_ids.append(spark.sparkContext.applicationId)
        ctx = workloads.Ctx(spark, tracer, args.seed, data_dir,
                            os.path.join(work, f"session{k}"), rows)
        return workloads.WORKLOADS[args.workload](ctx), OpProbes(spark) if trace else None

    last = SESSIONS - 1
    cpu0 = _cpu_jiffies()
    with MemorySampler() as memory:
        spark, start_s = _start_session(app)
        _log(f"session 0: start {start_s:.2f}s, launching the JVM")
        if args.max_ops > 1:
            wl, probes = new_workload(spark, 0)
            loop.run_op(spark, wl, probes, 0, 0)
            wl.finish()
            shutil.rmtree(wl.ctx.work_dir, ignore_errors=True)
        for k in range(1, SESSIONS):
            spark.stop()
            spark, start_s = _start_session(app)
            t0 = time.perf_counter()
            _warm_up(spark, workloads.WORKLOADS[args.workload].python_workers)
            starts.append(start_s)
            warms.append(time.perf_counter() - t0)
            _log(f"session {k}: start {start_s:.2f}s, warm-up {warms[-1]:.2f}s")
        wl, probes = new_workload(spark, last)
        first = len(loop.ops)
        loop.run_op(spark, wl, probes, last, 0)
        while loop.more():
            loop.run_op(spark, wl, probes, last, len(loop.ops) - first)
        wl.finish()
        peak_kb = memory.peak_kb
    cpu1 = _cpu_jiffies()
    result, ops = loop.result, loop.ops
    durations = [o["dur"] for o in ops]
    firsts = [o["dur"] for o in ops if o["cold"]]
    steady = [o["dur"] for o in ops if not o["cold"]] or durations
    op_tail, tail_label = tail(steady)
    metrics = {
        "setup_s": (_median([a + b for a, b in zip(starts, warms)]), "s"),
        "first_op_s": (firsts[-1], "s"),
        "op_p50_s": (_median(steady), "s"),
        "op_tail_s": (op_tail, "s"),
        "peak_rss_mb": (peak_kb / 1024.0, "MB"),
    }
    extra = {
        "ops": (len(ops), "count"),
        "steady_samples": (len(steady), "count"),
        "jvm_first_op_s": (firsts[0], "s"),
        "ops_failed_ratio": (result.failed / max(1, result.attempted), "ratio"),
        # CPU time the hypervisor gave to other guests during the run
        "cpu_steal_share": ((cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]), "ratio"),
        **wl.extra,
    }
    queries = []
    if trace:
        spark.stop()  # flushes the event log
        metrics, queries = _trace_metrics(args, wl, tracer, ops, app_ids, log_path, work,
                                          starts, warms, _median(steady))
    _write_record(args, wl, metrics, extra, result, tracer, ops, queries)
    for e in result.errors[:20]:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "tail": tail_label,
                      **{k: {"value": v, "unit": u} for k, (v, u) in extra.items()}}))
    print(json.dumps({
        "correct": not result.wrong,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


# ---------------------------------------------------------------- traced


def _error_lines_by_op(log_path: str, ops: list[dict]) -> list[int]:
    """ERROR lines of the driver log, attributed to ops by timestamp."""
    counts = [0] * len(ops)
    if not os.path.exists(log_path):
        return counts
    with open(log_path, errors="replace") as f:
        for line in f:
            if " ERROR " not in line:
                continue
            try:
                ts = time.mktime(time.strptime(line[:17], "%y/%m/%d %H:%M:%S"))
            except ValueError:
                continue
            for i, op in enumerate(ops):
                if int(op["start"]) <= ts <= op["end"]:
                    counts[i] += 1
                    break
    return counts


def _span_layers(spans: list[dict]) -> dict:
    """One op's layer times from its spans."""

    def total(name: str) -> float:
        return sum(s["dur"] for s in spans if s["name"] == name)

    sinks = sum(s["dur"] for s in spans if s["name"].startswith("sinks."))
    return {
        "plans.load_config_s": total("plans.load_config"),
        "sources.dataframes_s": total("sources.dataframes"),
        "operators.archive_self_s": total("operators.archive") - sinks,
        "sinks.parquet.write_s": total("sinks.parquet.write"),
        "sinks.csv.write_s": total("sinks.csv.write"),
        "sinks.sql.write_s": total("sinks.sql.write"),
        "sinks.source_rewrite_s": total("sinks.source_rewrite"),
        "queries.build_s": total("queries.build"),
        "queries.exec_s": total("queries.exec"),
    }


def _trace_metrics(args, wl, tracer, ops, app_ids, log_path, work, starts, warms, op_p50):
    """Per-layer metrics: for each, the median over steady ops of the
    op's value.  Also returns the per-query Spark figures."""
    from tracing import attribute_jobs, jobs_from_events, read_event_log

    # one event log per session; job ids restart in each
    jobs = [j for a in app_ids
            for j in jobs_from_events(read_event_log(os.path.join(work, "eventlog"), a))]
    windows = [{"key": o["index"], "start": o["start"], "end": o["end"]} for o in ops]
    by_op = attribute_jobs(jobs, windows, lambda j, w: j["group"] == f"{GROUP}{w['key']}")
    for o, spark_rec, n_err in zip(ops, by_op, _error_lines_by_op(log_path, ops)):
        o.update({f"spark.{k}": v for k, v in spark_rec.items() if k != "driver_self_s"})
        o["driver.self_s"] = spark_rec["driver_self_s"]
        o["spark.error_log_lines"] = n_err
        o.update(_span_layers([s for s in tracer.spans if s["op"] == o["index"]]))
    steady = [o for o in ops if not o["cold"]] or ops
    values = {
        "session.start_s": _median(starts),
        "session.warmup_s": _median(warms),
        "traced.op_p50_s": op_p50,
    }
    for q, times in getattr(wl, "times", {}).items():
        values[f"queries.{q}_s"] = _median(times[1:] or times)
    units = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    metrics = {
        name: (values[name] if name in values
               else _median([o.get(name, 0.0) for o in steady]), unit)
        for name, unit in units.items()
    }
    queries = [
        {"key": s["op"], "cold": ops[s["op"]]["cold"], "query": s["query"],
         "start": s["start"], "end": s["end"]}
        for s in tracer.spans
        if s["name"].startswith("queries.") and "query" in s
        and tracer.spans[s["parent"]]["name"] == "op"
    ]
    by_query = attribute_jobs(
        jobs, queries,
        lambda j, w: j["group"] == f"{GROUP}{w['key']}"
        and j["desc"] == f"{args.workload}:{w['query']}",
    )
    for w, rec in zip(queries, by_query):
        w.update(rec)
    return metrics, queries


def _write_record(args, wl, metrics, extra, result, tracer, ops, queries) -> None:
    """Keep the run's figures (and, traced, its spans) for layers.py."""
    os.makedirs(OUT_DIR, exist_ok=True)
    rec = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": int(args.trace),
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "extra": {k: v for k, (v, _) in extra.items()},
        "attempted": result.attempted,
        "failed": result.failed,
        "errors": result.errors,
        "ops": ops,
        "query_times": getattr(wl, "times", {}),
        "spans": tracer.spans,
        "queries": queries,
    }
    path = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{int(args.trace)}.json")
    with open(path, "w") as f:
        json.dump(rec, f, default=str)


# ----------------------------------------------------------------- smoke


def smoke() -> int:
    """Every workload once on the smallest inputs, untraced and traced;
    every metric of BENCHMARK.json must print with its unit."""
    spec = _spec()
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            label = f"{w['name']} trace={trace}"
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
                   "--seed", "1", "--seconds", "1", "--trace", str(trace),
                   "--sf", str(SMOKE_SF), "--max-ops", "1"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            found = []
            if proc.returncode != 0 or not lines:
                found.append(f"exit {proc.returncode}: {proc.stderr[-2000:]}")
            else:
                out = json.loads(lines[-1])
                if sorted(out) != ["attempted", "correct", "failed", "metrics"]:
                    found.append(f"result keys {sorted(out)}")
                if not out["correct"] or out["failed"] or out["attempted"] < 1:
                    found.append(f"correct={out['correct']} "
                                 f"failed={out['failed']}/{out['attempted']}")
                got = {k: v.get("unit") for k, v in out["metrics"].items()}
                if got != want[trace]:
                    found.append(f"metrics differ: missing={sorted(set(want[trace]) - set(got))} "
                                 f"extra={sorted(set(got) - set(want[trace]))} "
                                 f"units={[k for k in got if got[k] != want[trace].get(k)]}")
            problems += [f"{label}: {p}" for p in found]
            _log(f"smoke {label}: {'ok' if not found else 'FAILED'}")
    for p in problems:
        print(f"perfbench smoke: {p}", file=sys.stderr)
    print(json.dumps({"smoke": "failed" if problems else "ok", "problems": len(problems)}))
    return 1 if problems else 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=["archive_cycle", "scan_analytics", "corpus_index"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, default=DEFAULT_SF, help="input scale factor")
    p.add_argument("--max-ops", type=int, default=10_000, help="stop after this many ops")
    p.add_argument("--smoke", action="store_true", help="run the benchmark's self-test")
    args = p.parse_args(argv)
    if args.smoke:
        return smoke()
    if args.workload is None:
        p.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
