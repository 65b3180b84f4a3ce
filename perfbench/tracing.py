"""Spans, process memory and Spark event-log attribution.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into each layer, memory is read from ``/proc``
and job, stage and task figures come from the event log Spark writes.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from contextlib import contextmanager

import pyarrow


class Tracer:
    """In-memory spans: name, start, end, parent and op id.

    ``span`` always returns its duration through the yielded dict, so
    callers can time a call whether or not tracing is on; only a
    tracing tracer keeps the span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "op": self.op, "start": time.time(), **attrs}
        if self.enabled:
            rec["parent"] = self._stack[-1] if self._stack else None
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            if self.enabled:
                self._stack.pop()


class MemorySampler:
    """Peak resident memory (PSS, see ``engine_memory_kb``) of this
    process's descendants -- the Spark driver JVM and its Python
    workers -- sampled from /proc.  This process is left out: it also
    holds the benchmark's own DuckDB checks."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="memory-sampler", daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, engine_memory_kb(os.getpid()))
            self._stop.wait(self.interval)


def _children(pid: int) -> list[int]:
    out: list[int] = []
    for path in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(path) as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(_children(p))
    return seen[1:]


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def engine_memory_kb(pid: int) -> int:
    """Proportional resident memory (PSS) of ``pid``'s descendants.
    PSS splits pages a forked Python worker still shares with its
    daemon instead of counting them twice.  A child running the same
    executable as its parent JVM is a process the JVM is spawning,
    still sharing its memory until it execs, and is skipped."""
    total = 0
    todo = [(c, _exe(pid)) for c in _children(pid)]
    while todo:
        p, parent_exe = todo.pop()
        exe = _exe(p)
        if exe and exe == parent_exe and "java" in os.path.basename(exe):
            continue
        total += _pss_kb(p)
        todo.extend((c, exe) for c in _children(p))
    return total


class OpProbes:
    """Cumulative counters the traced run reads before and after each
    op: Python UDF time from the session's UDF profiler
    (``spark.sql.pyspark.udf.profiler=perf``) and micro-batch progress
    from a StreamingQueryListener."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        self.batches = 0
        self.add_batch_ms = 0.0
        self.commit_ms = 0.0
        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                d = event.progress.durationMs
                outer.batches += 1
                outer.add_batch_ms += d.get("addBatch", 0)
                outer.commit_ms += d.get("commitOffsets", 0) + d.get("walCommit", 0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def snapshot(self) -> dict[str, float]:
        time.sleep(0.2)  # listener events arrive asynchronously
        profiles = self.spark._profiler_collector._perf_profile_results
        return {
            "functions.udf_s": sum(s.total_tt for s in profiles.values()),
            "streaming.batches": self.batches,
            "streaming.add_batch_s": self.add_batch_ms / 1e3,
            "streaming.commit_s": self.commit_ms / 1e3,
        }


# ---------------------------------------------------------------- event log


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Events of one application, from Spark's (rolling, zstd) log."""
    paths = glob.glob(os.path.join(log_dir, f"*{app_id}*"))
    files: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            files.extend(
                sorted(
                    (f for f in glob.glob(os.path.join(p, "events_*"))),
                    key=lambda f: int(re.search(r"events_(\d+)_", f).group(1)),
                )
            )
        else:
            files.append(p)
    events = []
    for path in files:
        codec = "zstd" if path.endswith(".zstd") else None
        with pyarrow.input_stream(path, compression=codec) as stream:
            data = stream.read()
        for line in data.splitlines():
            if line.strip():
                events.append(json.loads(line))
    return events


def jobs_from_events(events: list[dict]) -> list[dict]:
    """One record per job: group, description, times and the summed
    metrics of its stages and tasks."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = {
                "job": e["Job ID"],
                "group": props.get("spark.jobGroup.id"),
                "desc": props.get("spark.job.description"),
                "submit": e["Submission Time"] / 1e3,
                "end": None,
                "stages": 0,
                "single_task_stages": 0,
                "task_cpu_s": 0.0,
                "gc_s": 0.0,
                "input_bytes": 0,
                "shuffle_bytes": 0,
                "spill_bytes": 0,
                "output_bytes": 0,
                "failed_tasks": 0,
            }
            jobs[job["job"]] = job
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = job["job"]
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"]))
            if job is not None and "Submission Time" in info:
                job["stages"] += 1
                job["single_task_stages"] += int(info["Number of Tasks"] == 1)
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(e["Stage ID"]))
            if job is None:
                continue
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                job["failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            job["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            job["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            job["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j["job"])


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


SPARK_SUMS = (
    "stages",
    "single_task_stages",
    "task_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_bytes",
    "spill_bytes",
    "output_bytes",
    "failed_tasks",
)


def attribute_jobs(jobs: list[dict], windows: list[dict], owns) -> list[dict]:
    """Per window (an op or a query span, with ``start`` and ``end``):
    the Spark figures of the jobs it launched.  A job belongs to a
    window when ``owns(job, window)`` -- by its job group and
    description -- or, when it carries no group because it was
    launched from a thread that did not inherit the caller's
    properties, when it was submitted inside the window."""
    out = []
    for w in windows:
        mine = [
            j
            for j in jobs
            if owns(j, w) or (j["group"] is None and w["start"] <= j["submit"] <= w["end"])
        ]
        rec = {k: sum(j[k] for j in mine) for k in SPARK_SUMS}
        rec["jobs"] = len(mine)
        rec["untagged_jobs"] = sum(1 for j in mine if j["group"] is None)
        rec["job_s"] = covered_seconds(
            [(j["submit"], j["end"] or w["end"]) for j in mine], w["start"], w["end"]
        )
        rec["driver_self_s"] = (w["end"] - w["start"]) - rec["job_s"]
        out.append(rec)
    return out
