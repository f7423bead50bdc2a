"""Measurement from outside the program: spans around the public functions
of the traced modules, CPU and RSS of the driver / JVM / Python-worker
process tree read from /proc, and Spark's own event log.

Nothing here edits the program. Spans are installed by replacing a module
attribute with a wrapper in every loaded `gtec_etl_spark` namespace that
holds the same function object, so call sites that imported the function
by name (`from ...scale import cpu_fanout_repartition`) are traced too.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


# ---------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    pass_id: int
    child_s: float = 0.0
    args: tuple = field(default=(), repr=False)
    result: object = field(default=None, repr=False)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s


class Tracer:
    """In-memory span recorder. `pass_id` is set by the benchmark loop;
    while it is None (set-up, untraced passes) nothing is recorded."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.pass_id: int | None = None
        self._open: list[int] = []  # indices of the spans now open
        self._installed: list[tuple[object, str, object]] = []

    def span(self, name: str):
        """Context manager yielding the new Span, or a detached one (not
        recorded) outside a traced pass."""
        if self.pass_id is None:
            return contextlib.nullcontext(Span(name, 0.0, 0.0, None, -1))
        return _SpanCtx(self, name)

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                sp.args = args
                sp.result = fn(*args, **kwargs)
                return sp.result

        return traced

    def install(self, module, prefix: str) -> None:
        """Wrap every public function defined in `module` wherever a loaded
        gtec_etl_spark module (or `module` itself) binds it."""
        for attr, fn in list(vars(module).items()):
            if (
                attr.startswith("_")
                or not inspect.isfunction(fn)
                or fn.__module__ != module.__name__
            ):
                continue
            wrapped = self.wrap(f"{prefix}.{attr}", fn)
            for mod in list(sys.modules.values()):
                mname = getattr(mod, "__name__", "") or ""
                if not mname.startswith("gtec_etl_spark"):
                    continue
                for k, v in list(vars(mod).items()):
                    if v is fn:
                        setattr(mod, k, wrapped)
                        self._installed.append((mod, k, fn))

    def uninstall(self) -> None:
        for mod, k, fn in reversed(self._installed):
            setattr(mod, k, fn)
        self._installed.clear()

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        t = self.tracer
        self.sp = Span(self.name, time.perf_counter(), 0.0,
                       t._open[-1] if t._open else None, t.pass_id)
        t.spans.append(self.sp)
        t._open.append(len(t.spans) - 1)
        return self.sp

    def __exit__(self, *exc) -> None:
        t = self.tracer
        self.sp.end = time.perf_counter()
        t._open.pop()
        if self.sp.parent is not None:
            t.spans[self.sp.parent].child_s += self.sp.dur


# ------------------------------------------------------------- /proc


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs (the `steal` column of /proc/stat). load_1m cannot show
    co-tenants of a virtual machine; this can."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return out


def _stat(pid: int) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    return comm, raw[raw.rindex(")") + 2:].split()


def _cpu_s(fields: list[str], with_children: bool) -> float:
    # fields[11..14] = utime stime cutime cstime (stat fields 14-17)
    ticks = int(fields[11]) + int(fields[12])
    if with_children:
        ticks += int(fields[13]) + int(fields[14])
    return ticks / CLK_TCK


def _rss_mb(fields: list[str]) -> float:
    return int(fields[21]) * PAGE_MB  # stat field 24


class ProcTree:
    """The benchmark process (Python driver), its JVM child and the JVM's
    Python-worker descendants. CPU includes the cutime/cstime of reaped
    children, so Python workers that exited are still counted."""

    def __init__(self, driver_pid: int | None = None):
        self.driver = driver_pid or os.getpid()

    def _classify(self):
        """Yield (class, pid, fields) for every live process in the tree.
        Only `java` children of the driver and `python*` descendants of the
        JVM count: a process the JVM forks to exec a helper (Hadoop's shell
        calls) briefly shares the JVM's pages and would double its RSS."""
        d = _stat(self.driver)
        if d is None:
            return
        yield "driver_py", self.driver, d[1]
        for pid in _children(self.driver):
            st = _stat(pid)
            if st is None or st[0] != "java":
                continue
            yield "jvm", pid, st[1]
            todo = _children(pid)
            while todo:
                w = todo.pop()
                wst = _stat(w)
                if wst is None or not wst[0].startswith("python"):
                    continue
                yield "pyworker", w, wst[1]
                todo.extend(_children(w))

    def cpu(self) -> dict[str, float]:
        """CPU seconds per class. The driver's own cutime is left out: its
        only reaped children are short-lived helpers, and the JVM is
        counted live. A worker's cutime covers its reaped forks."""
        out = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0}
        for cls, _, fields in self._classify():
            out[cls] += _cpu_s(fields, with_children=(cls != "driver_py"))
        return out

    def rss_mb(self) -> float:
        return sum(_rss_mb(f) for _, _, f in self._classify())


class RssSampler:
    """Background thread that keeps the peak total RSS of the tree."""

    def __init__(self, tree: ProcTree, period_s: float = 0.2):
        self.tree, self.period_s = tree, period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, self.tree.rss_mb())
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------- event log


def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (single, uncompressed) application log."""
    events = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    try:
                        events.append(json.loads(line))
                    except ValueError:
                        continue  # a half-flushed last line
    return events


def spark_counts(events: list[dict], windows: list[tuple[float, float]]) -> dict[str, float]:
    """Totals over the jobs submitted inside any [t0, t1] window (epoch ms)."""
    stage_ids: set[int] = set()
    jobs = 0
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            t = ev.get("Submission Time", 0)
            if any(t0 <= t <= t1 for t0, t1 in windows):
                jobs += 1
                stage_ids.update(ev.get("Stage IDs", []))
    stages_done: set[int] = set()
    per_stage_run: dict[int, list[float]] = {}
    run_ms = cpu_ns = rd = wr = spill = recs = 0
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_ids:
                stages_done.add(sid)
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_ids:
            m = ev.get("Task Metrics") or {}
            run = m.get("Executor Run Time", 0)
            run_ms += run
            cpu_ns += m.get("Executor CPU Time", 0)
            sr = m.get("Shuffle Read Metrics", {})
            rd += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            wr += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Disk Bytes Spilled", 0)
            recs += m.get("Input Metrics", {}).get("Records Read", 0)
            per_stage_run.setdefault(ev["Stage ID"], []).append(run)
    skew = 1.0
    for runs in per_stage_run.values():
        if len(runs) >= 2:
            med = statistics.median(runs)
            skew = max(skew, max(runs) / max(med, 1.0))
    tasks = sum(len(v) for v in per_stage_run.values())
    return {
        "jobs": jobs,
        "stages": len(stages_done),
        "tasks": tasks,
        "executor_run_s": run_ms / 1e3,
        "executor_cpu_s": cpu_ns / 1e9,
        "shuffle_read_mb": rd / 2**20,
        "shuffle_write_mb": wr / 2**20,
        "spill_mb": spill / 2**20,
        "input_records": recs,
        "task_skew_max": skew,
    }
