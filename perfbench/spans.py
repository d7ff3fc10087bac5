"""Spans, process sampling and Spark event-log attribution for one run.

Spans are recorded by the benchmark around the calls it makes into each
module of the engine. For the calls ``pipeline`` makes internally,
``patched_engine`` swaps the module bindings (``pipeline.run_tier``,
``pipeline.rollup_*``, ``compression.pack_tier``, the ``PartitionedTable``
and ``CheckpointLog`` methods, ...) for timing wrappers for the duration of
the traced pass and restores them afterwards; no engine source changes.

Each span carries name, start, end, parent and the run id, plus the CPU
seconds the JVM and the Python worker processes used while it was open
(read from ``/proc``). Entering a span sets the Spark job group to the
span id, so every Spark job in the event log maps back to the innermost
span that launched it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


# -- /proc ------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


def descendants(root: int) -> list[tuple[int, str, list[str]]]:
    """(pid, comm, stat fields) of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    info: dict[int, tuple[str, list[str]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        ppid = int(st[2])
        children.setdefault(ppid, []).append(int(name))
        info[int(name)] = (st[0], st)
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        comm, st = info[pid]
        out.append((pid, comm, st))
        todo.extend(children.get(pid, []))
    return out


def cpu_split() -> tuple[float, float]:
    """(JVM CPU s, Python worker CPU s) of this process's descendants.

    The JVM's own utime+stime counts its threads only; the Python daemon
    and workers are counted with their reaped children, so a worker that
    exits moves its time into the daemon's total instead of losing it."""
    jvm = py = 0
    for _pid, comm, st in descendants(os.getpid()):
        ut, stt, cut, cst = (int(x) for x in st[12:16])
        if comm == "java":
            jvm += ut + stt
        else:
            py += ut + stt + cut + cst
    return jvm / _TICK, py / _TICK


def tree_pss_bytes() -> int:
    """Proportional set size of this process and its descendants: pages
    the forked Python workers share are counted once, not per process."""
    total = 0
    for pid in [os.getpid()] + [d[0] for d in descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of the process tree's resident memory (PSS)."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes())


# -- spans ------------------------------------------------------------------

@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    jvm_cpu_s: float = 0.0
    py_cpu_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``write`` dumps the spans as JSON lines."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.bookkeeping_s = 0.0   # time spent in the tracer's own work

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(str(span.id), span.name)

    @contextlib.contextmanager
    def span(self, name: str, cpu: bool = True):
        """Open a span; ``cpu=False`` skips the two /proc scans for spans
        too short to carry a CPU split (checkpoint marks, plan builds)."""
        t0 = time.perf_counter()
        parent = self._stack[-1].id if self._stack else None
        jvm0, py0 = cpu_split() if cpu else (0.0, 0.0)
        sp = Span(len(self.spans), name, parent, self.run_id,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        self.bookkeeping_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            sp.end = t1 = time.perf_counter()
            if cpu:
                jvm1, py1 = cpu_split()
                sp.jvm_cpu_s, sp.py_cpu_s = jvm1 - jvm0, py1 - py0
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.bookkeeping_s += time.perf_counter() - t1

    def self_time(self, sp: Span) -> float:
        kids = [c for c in self.spans if c.parent == sp.id]
        return sp.dur - sum(c.dur for c in kids)

    def under(self, sp: Span) -> list[Span]:
        """``sp`` and every span nested inside it."""
        ids = {sp.id}
        for s in self.spans[sp.id + 1:]:   # children follow their parent
            if s.parent in ids:
                ids.add(s.id)
        return [self.spans[i] for i in sorted(ids)]

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = dict(s.__dict__, dur=s.dur)
                f.write(json.dumps(rec, default=str) + "\n")


# -- runtime patches --------------------------------------------------------

def _wrap(tracer: Tracer, fn, name):
    """Timing wrapper; ``name`` is a string or a callable of the call args.
    Spans that launch no Spark job of their own skip the CPU split."""

    @functools.wraps(fn)
    def inner(*args, **kwargs):
        label = name(*args, **kwargs) if callable(name) else name
        cpu = not label.endswith((".plan", ".mark")) and ".read." not in label
        with tracer.span(label, cpu=cpu) as sp:
            out = fn(*args, **kwargs)
            sp.attrs["result"] = out if isinstance(out, (int, list)) else None
            return out

    return inner


@contextlib.contextmanager
def patched_engine(tracer: Tracer):
    from tods_spark import pipeline
    from tods_spark.operators import compression, rollup
    from tods_spark.plans import checkpoint
    from tods_spark.sources.storage import PartitionedTable

    def table_name(self, *a, **k):
        return os.path.basename(self.path.rstrip("/"))

    swaps = [
        (pipeline, "run_tier",
         lambda *a, **k: f"checkpoint.run_tier.{a[6] if len(a) > 6 else k['tier']}"),
        (pipeline, "rollup_raw_partial_digest", "rollup.raw_1m.plan"),
        (pipeline, "rollup_raw", "rollup.raw_1m.plan"),
        (pipeline, "rollup_cascade",
         lambda df, f, t, **k: f"rollup.cascade_{t}.plan"),
        (pipeline, "expire_partitions", "retention.expire"),
        (rollup, "refresh_tier", "rollup.refresh_tier.plan"),
        (compression, "pack_tier", "compression.pack.plan"),
        (checkpoint, "_per_partition_stats", "checkpoint.readback"),
        (checkpoint.CheckpointLog, "mark", "checkpoint.mark"),
        (PartitionedTable, "read",
         lambda self, *a, **k: "storage.read." + table_name(self)),
    ]
    overwrite = PartitionedTable.overwrite_partitions

    @functools.wraps(overwrite)
    def traced_overwrite(self, *args, **kwargs):
        t_wall = time.time()
        with tracer.span("storage.overwrite." + table_name(self)) as sp:
            out = overwrite(self, *args, **kwargs)
        # data files this write left in the table (whole-second mtimes on
        # some filesystems: compare against the start second)
        t0 = time.perf_counter()
        files = [os.path.join(d, f) for d, _, fs in os.walk(self.path)
                 for f in fs if f.endswith(".parquet")]
        new = [f for f in files if os.path.getmtime(f) >= int(t_wall)]
        sp.attrs["files"] = len(new)
        sp.attrs["bytes"] = sum(os.path.getsize(f) for f in new)
        tracer.bookkeeping_s += time.perf_counter() - t0
        return out

    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in swaps]
    saved.append((PartitionedTable, "overwrite_partitions", overwrite))
    try:
        for obj, attr, name in swaps:
            setattr(obj, attr, _wrap(tracer, getattr(obj, attr), name))
        PartitionedTable.overwrite_partitions = traced_overwrite
        yield
    finally:
        for obj, attr, fn in saved:
            setattr(obj, attr, fn)


# -- Spark event log --------------------------------------------------------

@dataclass
class Job:
    id: int
    group: int | None
    call_site: str
    start_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stage_job: dict[int, int]
    tasks: list[dict]   # one dict per SparkListenerTaskEnd


def read_event_log(log_dir: str) -> EventLog:
    """Jobs and task metrics of the newest event log in ``log_dir``: the
    run's last session, the one that ran the pass."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    path = max((os.path.join(log_dir, f) for f in os.listdir(log_dir)),
               key=os.path.getmtime)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                job = Job(ev["Job ID"], int(group) if group else None,
                          props.get("callSite.short", ""),
                          ev["Submission Time"], stages=list(ev["Stage IDs"]))
                jobs[job.id] = job
                # a stage's tasks run in the first job that lists it; later
                # jobs that reuse its shuffle output list it as skipped
                for stage in job.stages:
                    stage_job.setdefault(stage, job.id)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "dur_ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                })
    return EventLog(jobs, stage_job, tasks)


def _tasks_in(log: EventLog, groups: set[int]):
    for t in log.tasks:
        job = log.jobs.get(log.stage_job.get(t["stage"], -1))
        if job is not None and job.group in groups:
            yield t


def task_totals(log: EventLog, groups: set[int]) -> dict:
    """Summed task metrics of the jobs launched in the spans ``groups``."""
    keys = ("run_ms", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write",
            "spill")
    out = dict.fromkeys(keys, 0)
    out["tasks"] = 0
    for t in _tasks_in(log, groups):
        for k in keys:
            out[k] += t[k]
        out["tasks"] += 1
    return out


def task_skew(log: EventLog, groups: set[int]) -> float:
    """max / median task duration within the stage (of jobs in ``groups``)
    with the most task time."""
    by_stage: dict[int, list[int]] = {}
    for t in _tasks_in(log, groups):
        by_stage.setdefault(t["stage"], []).append(max(t["dur_ms"], 1))
    if not by_stage:
        return 0.0
    durs = max(by_stage.values(), key=sum)
    durs.sort()
    return durs[-1] / durs[len(durs) // 2]
