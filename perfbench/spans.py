"""Layer spans for the benchmark's traced run (``--trace 1``).

Spans are recorded from outside the program: ``install`` replaces the
public functions at each layer boundary with wrappers that open a span
around the original call. A span records its name, start, end, parent
span and the op it belongs to, and is kept in memory until the run
ends. Every Spark job launched inside a span carries the job tag
``perfbench-span-<span id>``, so the Spark event log, parsed after the session
stops, attributes jobs, task time, CPU, GC, shuffle and spill to spans.

With tracing off the tracer is inert: ``span`` yields without
recording and ``install`` is never called, so the untraced run executes
the program's own functions unwrapped.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time


_TAG = "perfbench-span-"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op: int | None = None
        self.phase = "setup"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        from pyspark import SparkContext

        rec = {
            "id": len(self.spans), "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "op": self.op, "phase": self.phase,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc = SparkContext._active_spark_context
        tag = f"{_TAG}{rec['id']}"
        if sc is not None:
            sc.addJobTag(tag)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if sc is not None and SparkContext._active_spark_context is sc:
                sc.removeJobTag(tag)

    def wrap_fn(self, fn, name: str):
        if not self.enabled:
            return fn

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def wrap(self, owner, attr: str, name: str) -> None:
        setattr(owner, attr, self.wrap_fn(getattr(owner, attr), name))


def install(tracer: Tracer) -> None:
    """Wrap each layer's public entry points. Must run before the
    session, server and runner are built: ``spark_script_runner``
    binds ``register_views`` and ``execute_script`` when it is called,
    and the engine looks up ``parse_script``/``console_sink`` in its
    own module namespace on every call."""
    import analyst_spark.aql.engine as engine
    import analyst_spark.functions.dedup as dedup
    import analyst_spark.session as session
    import analyst_spark.tables as tables
    from analyst_spark.aql.connections import SQLiteConnection
    from analyst_spark.server import AnalystServer

    tracer.wrap(session, "get_spark", "session.start")
    tracer.wrap(AnalystServer, "handle", "server.handle")
    tracer.wrap(AnalystServer, "tick", "scheduling.tick")
    tracer.wrap(tables, "register_views", "tables.register_views")
    tracer.wrap(engine, "execute_script", "aql.execute")
    tracer.wrap(engine, "parse_script", "aql.parse")
    tracer.wrap(engine, "console_sink", "sinks.console")
    tracer.wrap(SQLiteConnection, "source", "sources.sqlite_read")
    tracer.wrap(dedup, "release_cached", "functions.release_cached")

    write = SQLiteConnection.write

    @functools.wraps(write)
    def traced_write(self, df, options):
        with tracer.span("sinks.sqlite_write") as rec:
            before = self.conn.total_changes
            write(self, df, options)
            rec["rows"] = self.conn.total_changes - before

    SQLiteConnection.write = traced_write


# -- Spark event log ---------------------------------------------------

_TASK_FIELDS = ("task_s", "executor_cpu_s", "gc_s",
                "shuffle_write_bytes", "spill_bytes")


def read_event_logs(log_dir: str) -> list[dict]:
    """One record per Spark job: its job tags and the summed metrics
    of the tasks its stages ran. Job and stage ids restart with every
    SparkContext, so each log file is read on its own."""
    jobs: list[dict] = []
    for fn in sorted(os.listdir(log_dir)):
        by_id: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tags = (ev.get("Properties") or {}).get("spark.job.tags", "")
                    job = {"tags": {t for t in tags.split(",") if t}}
                    job.update(dict.fromkeys(_TASK_FIELDS, 0))
                    by_id[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault(sid, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd":
                    job = by_id.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics") or {}
                    if job is None or not m:
                        continue
                    job["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    job["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    job["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
        jobs.extend(by_id.values())
    return jobs


def attach_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Give every span the inclusive job count and task metrics of the
    jobs launched while it was open (nested spans' tags stack)."""
    for s in spans:
        s["jobs"] = 0
        s.update(dict.fromkeys(_TASK_FIELDS, 0))
    for job in jobs:
        for tag in job["tags"]:
            if not tag.startswith(_TAG):
                continue
            s = spans[int(tag[len(_TAG):])]
            s["jobs"] += 1
            for k in _TASK_FIELDS:
                s[k] += job[k]


# -- process CPU and memory from /proc ---------------------------------

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int, int]:
    """(ppid, own cpu ticks, reaped children's cpu ticks)"""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[1]), int(fields[11]) + int(fields[12]),
            int(fields[13]) + int(fields[14]))


def cpu_sample(jvm_pid: int) -> dict[str, float]:
    """Cumulative CPU seconds of the JVM, of the Python workers it
    forked (live descendants plus those already reaped) and of this
    driver process."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stats[int(d)] = _stat(int(d))
            except (OSError, ValueError, IndexError):
                continue
    children: dict[int, list[int]] = {}
    for pid, (ppid, _own, _reaped) in stats.items():
        children.setdefault(ppid, []).append(pid)
    _ppid, jvm_own, jvm_reaped = stats[jvm_pid]
    workers = jvm_reaped
    todo = list(children.get(jvm_pid, ()))
    while todo:
        pid = todo.pop()
        workers += stats[pid][1] + stats[pid][2]
        todo.extend(children.get(pid, ()))
    t = os.times()
    return {"cpu.jvm_s": jvm_own / _TICKS,
            "cpu.py_workers_s": workers / _TICKS,
            "cpu.driver_py_s": t.user + t.system}


def rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmRSS for pid {pid}")


# -- per-layer metrics ---------------------------------------------------

def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


def layer_metrics(tracer: Tracer, entries, pass_cpu: list[dict]) -> dict:
    """Per-layer medians over the timed window's spans; a layer the
    workload never reaches reads 0."""
    spans = tracer.spans
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def self_s(s):
        return _dur(s) - sum(_dur(c) for c in kids.get(s["id"], ()))

    win = [s for s in spans if s["phase"] == "window"]

    def named(name, **attrs):
        return [s for s in win if s["name"] == name
                and all(s.get(k) == v for k, v in attrs.items())]

    passes = named("pass")
    out = {
        "session.start_s": _median(_dur(s) for s in spans
                                   if s["name"] == "session.start"),
        "server.handle_self_s": _median(self_s(s) for s in named("server.handle")),
        "scheduling.tick_self_s": _median(
            self_s(s) for s in named("scheduling.tick")),
        "tables.register_views_s": _median(
            _dur(s) for s in named("tables.register_views")),
        "tables.register_views_jobs": _median(
            s["jobs"] for s in named("tables.register_views")),
        "aql.parse_s": _median(
            sum(_dur(c) for c in kids.get(s["id"], ()) if c["name"] == "aql.parse")
            for s in named("aql.execute")),
        "aql.execute_self_s": _median(self_s(s) for s in named("aql.execute")),
        "sinks.console_s": _median(_dur(s) for s in named("sinks.console")),
        "sinks.sqlite_write_s": _median(
            _dur(s) for s in named("sinks.sqlite_write")),
        "sinks.sqlite_write_rows": _median(
            s["rows"] for s in named("sinks.sqlite_write")),
        "sources.sqlite_read_s": _median(
            _dur(s) for s in named("sources.sqlite_read")),
        "functions.release_cached_s": _median(
            _dur(s) for s in named("functions.release_cached")),
    }
    for e in entries:
        build = named("plans.construct", entry=e)
        run = named("spark.execute", entry=e)
        out[f"plans.construct_s.{e}"] = _median(_dur(s) for s in build)
        out[f"plans.construct_jobs.{e}"] = _median(s["jobs"] for s in build)
        out[f"spark.execute_s.{e}"] = _median(self_s(s) for s in run)
        out[f"spark.execute_jobs.{e}"] = _median(s["jobs"] for s in run)
    out["spark.jobs_per_op"] = _median(s["jobs"] for s in named("op"))
    for k in _TASK_FIELDS:
        out[f"spark.{k}"] = _median(s[k] for s in passes)
    for k in ("cpu.jvm_s", "cpu.py_workers_s", "cpu.driver_py_s"):
        out[k] = _median(d[k] for d in pass_cpu)
    out["trace.pass_s"] = _median(_dur(s) for s in passes)
    return out
