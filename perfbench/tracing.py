"""Spans, counters and Spark-side statistics for the traced run.

Everything here observes the program from outside: spans wrap calls into
the package's public entry points, Py4J round trips are counted at the
gateway client, Catalyst phase times are read from each DataFrame's
``QueryExecution`` tracker, and execution statistics come from Spark's
event log after the session stops.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError

# Spark local property carrying the id of the span that submitted a job.
JOB_TAG = "perfbench.span"


class Span:
    """One timed call.  ``start``/``end`` are epoch seconds so spans line up
    with the event log; ``label`` names the model a span worked on."""

    __slots__ = ("id", "name", "start", "end", "parent", "trace_id", "label", "py4j")

    def __init__(self, id, name, start, parent, trace_id, label=None):
        self.id, self.name, self.start = id, name, start
        self.end = None
        self.parent, self.trace_id, self.label = parent, trace_id, label
        self.py4j = 0

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """In-memory span recorder.

    Each thread keeps its own stack of open spans.  A thread with no open
    span (a worker of the program's own thread pool) parents its spans to
    the innermost span open on the thread that started the op, so the
    per-model spans of a DAG run hang under that run's span.
    """

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root_stack: list[Span] = []
        self.trace_id: str | None = None
        # Spans whose Spark jobs are tagged with the span id, and the
        # function that sets the tag on the calling thread.
        self.tagged: frozenset[str] = frozenset()
        self.set_job_tag = None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        if st:
            return st[-1]
        return self._root_stack[-1] if self._root_stack else None

    @contextmanager
    def span(self, name: str, label: str | None = None):
        parent = self.current()
        sp = Span(next(self._ids), name, time.time(),
                  parent.id if parent else None, self.trace_id, label)
        st = self._stack()
        if not st and not self._root_stack:
            self._root_stack = st
        st.append(sp)
        self.spans.append(sp)
        tag = self.set_job_tag if name in self.tagged else None
        if tag:
            tag(str(sp.id))
        try:
            yield sp
        finally:
            if tag:
                tag(None)
            sp.end = time.time()
            st.pop()

    @contextmanager
    def op(self, trace_id: str):
        """Root span of one op; every span opened inside shares its id."""
        self.trace_id = trace_id
        self._root_stack = self._stack()
        with self.span("op") as sp:
            yield sp

    def count_py4j(self) -> None:
        sp = self.current()
        if sp is not None:
            with self._lock:
                sp.py4j += 1

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.as_dict()) + "\n")


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of it covered by child spans.
    Children of one span may run in parallel threads, so their union is
    subtracted, never their sum."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {
        sp.id: sp.duration - union_length(children.get(sp.id, ()), sp.start, sp.end)
        for sp in spans
    }


def children_coverage(spans: list[Span], parent: Span) -> float:
    """Share of ``parent``'s wall time covered by its direct children."""
    kids = [(s.start, s.end) for s in spans if s.parent == parent.id]
    return union_length(kids, parent.start, parent.end) / parent.duration


# -- Catalyst ---------------------------------------------------------------

PHASES = ("analysis", "optimization", "planning")


def catalyst_phases(df, plan: bool = False) -> dict[str, float] | None:
    """Seconds per Catalyst phase from ``QueryExecution.tracker()``, or
    None when the JVM internal is unreachable (it is not public API).

    A sink such as ``df.write`` plans the query in a fresh
    ``QueryExecution``, so for a DataFrame executed that way ``plan=True``
    plans ``df``'s own once more (after the op) and reads that."""
    try:
        qe = df._jdf.queryExecution()
        if plan:
            qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in PHASES:
            opt = phases.get(name)
            out[name] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
        return out
    except (Py4JError, AttributeError, TypeError):
        return None


# -- event log ---------------------------------------------------------------

_PY_METRICS = {
    "time to start Python workers": "py_boot",
    "time to initialize Python workers": "py_init",
    "time to run Python workers": "py_run",
    "data sent to Python workers": "bytes_to_py",
    "data returned from Python workers": "bytes_from_py",
}


def read_event_log(path: str) -> dict:
    """Jobs, stages and tasks from a Spark event log, timestamps in ms."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[tuple[int, int], dict] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"submit": ev["Submission Time"], "end": None,
                             "first_task": None, "span": props.get(JOB_TAG)}
                for sid in ev.get("Stage IDs", ()):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {}
                for a in info.get("Accumulables", ()):
                    key = _PY_METRICS.get(a.get("Name"))
                    if key is not None:
                        acc[key] = acc.get(key, 0) + int(a.get("Value") or 0)
                stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                    "job": stage_job.get(info["Stage ID"]), "acc": acc}
            elif kind == "SparkListenerTaskEnd":
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                jid = stage_job.get(ev["Stage ID"])
                if jid in jobs:
                    ft = jobs[jid]["first_task"]
                    jobs[jid]["first_task"] = ti["Launch Time"] if ft is None else min(
                        ft, ti["Launch Time"])
                tasks.append({
                    "job": jid,
                    "failed": bool(ti.get("Failed")),
                    "run_ms": tm.get("Executor Run Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "scan_bytes": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0)
                    + tm.get("Disk Bytes Spilled", 0),
                })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def exec_stats(log: dict, lo_ms: float, hi_ms: float, cores: int) -> dict[str, float]:
    """``spark.exec.*`` and ``pipeline.*`` figures for the jobs submitted in
    the wall-clock window ``[lo_ms, hi_ms]`` (one op)."""
    jids = {j for j, v in log["jobs"].items() if lo_ms <= v["submit"] <= hi_ms}
    tasks = [t for t in log["tasks"] if t["job"] in jids]
    stages = [s for s in log["stages"].values() if s["job"] in jids]
    jobs = [log["jobs"][j] for j in jids]
    durs = [(j["end"] - j["submit"]) / 1e3 for j in jobs if j["end"] is not None]
    waits = [(j["first_task"] - j["submit"]) / 1e3 for j in jobs
             if j["first_task"] is not None]
    task_s = sum(t["run_ms"] for t in tasks) / 1e3
    wall = max(hi_ms - lo_ms, 1) / 1e3
    py = {k: sum(s["acc"].get(k, 0) for s in stages) for k in _PY_METRICS.values()}
    return {
        "spark.exec.jobs": len(jobs),
        "spark.exec.stages": len(stages),
        "spark.exec.tasks": len(tasks),
        "spark.exec.failed_tasks": sum(t["failed"] for t in tasks),
        "spark.exec.job_s_p50": statistics.median(durs) if durs else 0.0,
        "spark.exec.sched_wait_s": sum(waits),
        "spark.exec.task_s": task_s,
        "spark.exec.task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "spark.exec.gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "spark.exec.slot_busy_frac": task_s / (wall * cores),
        "spark.exec.scan_bytes": sum(t["scan_bytes"] for t in tasks),
        "spark.exec.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.exec.shuffle_read_bytes": sum(t["shuffle_read"] for t in tasks),
        "spark.exec.spill_bytes": sum(t["spill"] for t in tasks),
        # Python worker timings are millisecond SQL metrics.
        "pipeline.py_boot_s": py["py_boot"] / 1e3,
        "pipeline.py_init_s": py["py_init"] / 1e3,
        "pipeline.py_run_s": py["py_run"] / 1e3,
        "pipeline.bytes_to_py": py["bytes_to_py"],
        "pipeline.bytes_from_py": py["bytes_from_py"],
    }


# -- instrumentation -----------------------------------------------------------

def instrument(tracer: Tracer, spark):
    """Wrap the calls the program makes into its own layers and into
    PySpark, from outside the package.  Returns a function that undoes it.

    - ``Runner.build`` → ``models.build`` (label: model; its jobs tagged);
    - ``DataFrame.localCheckpoint`` → ``df.localCheckpoint`` and
      ``DataFrameWriter.parquet`` → ``df.write.parquet``, labelled with the
      model last built on the calling thread (the runner materializes a
      model on the thread that built it);
    - ``io.load_table`` in every package module → ``io.load_table``
      (label ``hit`` when it returned a DataFrame it had returned before);
    - Py4J ``send_command`` → a count on the innermost open span.
    """
    import sys

    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from getdbt_spark import io
    from getdbt_spark.runner import Runner

    sc = spark.sparkContext
    local = threading.local()
    undo: list[tuple[object, str, object]] = []
    tracer.built = []

    def patch(owner, attr, new):
        undo.append((owner, attr, owner.__dict__[attr] if isinstance(owner, type)
                     else getattr(owner, attr)))
        setattr(owner, attr, new)

    orig_build = Runner.build

    def build(self, name, resolved):
        local.model = name
        with tracer.span("models.build", label=name):
            df = orig_build(self, name, resolved)
        tracer.built.append(df)
        return df

    orig_ckpt = DataFrame.localCheckpoint

    def local_checkpoint(self, *args, **kwargs):
        with tracer.span("df.localCheckpoint", label=getattr(local, "model", None)):
            return orig_ckpt(self, *args, **kwargs)

    orig_parquet = DataFrameWriter.parquet

    def parquet(self, *args, **kwargs):
        with tracer.span("df.write.parquet", label=getattr(local, "model", None)):
            return orig_parquet(self, *args, **kwargs)

    orig_load = io.load_table
    returned: dict[int, object] = {}  # id → DataFrame, kept alive so ids stay unique

    def load_table(spark_, sf_dir, name):
        with tracer.span("io.load_table") as sp:
            df = orig_load(spark_, sf_dir, name)
        sp.label = "hit" if id(df) in returned else "miss"
        returned[id(df)] = df
        return df

    patch(Runner, "build", build)
    patch(DataFrame, "localCheckpoint", local_checkpoint)
    patch(DataFrameWriter, "parquet", parquet)
    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("getdbt_spark")
                and getattr(mod, "load_table", None) is orig_load):
            patch(mod, "load_table", load_table)

    client = sc._gateway._gateway_client
    orig_send = client.send_command

    def send_command(*args, **kwargs):
        tracer.count_py4j()
        return orig_send(*args, **kwargs)

    client.send_command = send_command
    tracer.tagged = frozenset({"models.build", "queries.build"})
    tracer.set_job_tag = lambda v: sc.setLocalProperty(JOB_TAG, v)

    def restore():
        tracer.set_job_tag = None
        del client.send_command
        for owner, attr, old in reversed(undo):
            setattr(owner, attr, old)

    return restore


# -- per-layer figures ---------------------------------------------------------

CRITICAL_PATH = ("atinternet_smarttag_streams_daily_v4",
                 "integral_reporting_vodstreaming",
                 "integral_reporting_dashboard_channel_weekly")


def op_layers(spans: list[Span], op: Span, log: dict, cores: int) -> dict[str, float]:
    """Per-layer figures of one op from its spans and the event log."""
    mine = [s for s in spans if s.trace_id == op.trace_id]
    kids: dict[int, list[Span]] = {}
    for s in mine:
        kids.setdefault(s.parent, []).append(s)

    def inclusive_py4j(s: Span) -> int:
        return s.py4j + sum(inclusive_py4j(k) for k in kids.get(s.id, ()))

    def named(name):
        return [s for s in mine if s.name == name]

    def total(name):
        return sum(s.duration for s in named(name))

    def jobs_of(name):
        ids = {str(s.id) for s in named(name)}
        return sum(1 for j in log["jobs"].values() if j["span"] in ids)

    by_id = {s.id: s for s in mine}
    builds = named("models.build") + named("queries.build")
    build_ids = {s.id for s in builds}

    def materializations(name):
        """The runner's own checkpoints or writes: labelled with a model
        and not nested inside a builder."""
        return [s for s in named(name) if s.label and s.parent not in build_ids]

    ckpts = materializations("df.localCheckpoint")
    writes = materializations("df.write.parquet")
    per_model: dict[str, float] = {}
    for s in named("models.build") + ckpts + writes:
        per_model[s.label] = per_model.get(s.label, 0.0) + s.duration
    loads = named("io.load_table")
    run_wall = total("runner.run")
    out = {
        "fixtures.sources_map_s": total("fixtures.sources_map"),
        "io.anchor_s": total("io.anchor"),
        "io.load_table_calls": len(loads),
        "io.table_cache_hit_ratio": (sum(s.label == "hit" for s in loads) / len(loads)
                                     if loads else 0.0),
        "models.build_s": total("models.build"),
        "models.py4j_calls": sum(inclusive_py4j(s) for s in named("models.build")),
        "models.build_jobs": jobs_of("models.build"),
        "runner.run_s": run_wall,
        "runner.checkpoint_s": sum(s.duration for s in ckpts),
        "runner.checkpoints": len(ckpts),
        "runner.insert_overwrite_s": sum(s.duration for s in writes),
        "runner.critical_path_s": sum(per_model.get(m, 0.0) for m in CRITICAL_PATH),
        "runner.overlap": sum(per_model.values()) / run_wall if run_wall else 0.0,
        "queries.build_s": total("queries.build"),
        "queries.py4j_calls": sum(inclusive_py4j(s) for s in named("queries.build")),
        "queries.build_jobs": jobs_of("queries.build"),
        "program.build_s": sum(s.duration for s in builds),
        "program.build_py4j_calls": sum(inclusive_py4j(s) for s in builds),
        "program.build_jobs": jobs_of("models.build") + jobs_of("queries.build"),
        "exec.action_s": total("exec.action"),
        "py4j.calls": sum(s.py4j for s in mine),
        "trace.coverage": children_coverage(spans, op),
    }
    for sid, own in self_times(mine).items():
        key = f"self_s.{by_id[sid].name}"
        out[key] = out.get(key, 0.0) + own
    out.update(exec_stats(log, op.start * 1e3, op.end * 1e3, cores))
    return out
