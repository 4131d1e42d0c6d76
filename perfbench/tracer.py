"""Outside-in tracer: spans around the public functions of each layer.

A span is (id, name, start, end, parent, run, thread). Spans live in
memory and are written out once, when the run ends. Each span runs its
Spark jobs under its own job group (``setJobGroup`` is thread-local, so
the wrapper sets it on whichever thread runs the span), which lets
``spark_counters`` attribute every stage in the status store to the
innermost span that launched it.

Nothing here edits the program: callables are wrapped where they are
bound (``patch`` replaces a module attribute, ``wrap`` returns a wrapped
callable for registries) and ``restore`` puts the originals back.
"""

from __future__ import annotations

import functools
import itertools
import json
import operator
import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

GROUP_PREFIX = "perfbench-"


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Time a block; ``parent`` links a span started on a worker thread
        to the span that caused it on another thread."""
        t0 = time.perf_counter()
        sid = next(self._ids)
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        stack.append(sid)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name, False)
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "thread": threading.get_ident(), "ok": True}
        rec["start"] = time.perf_counter()
        own = rec["start"] - t0
        try:
            yield rec
        except BaseException:
            rec["ok"] = False
            raise
        finally:
            rec["end"] = time.perf_counter()
            t1 = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(f"{GROUP_PREFIX}{stack[-1]}", "", False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += own + time.perf_counter() - t1

    def wrap(self, name: str, fn, parent_of=None) -> "_Traced":
        """``fn`` traced as ``name``. ``parent_of`` is a callable giving the
        causing span for calls made on other threads."""
        return _Traced(self, name, fn, parent_of)

    def patch(self, module, attr: str, name: str) -> None:
        orig = getattr(module, attr)
        self._patched.append((module, attr, orig))
        setattr(module, attr, self.wrap(name, orig))

    def patch_bound(self, package: str, module, attr: str, name: str) -> None:
        """Wrap ``module.attr`` and every binding of the same function that
        another module of ``package`` imported by name."""
        import sys

        orig = getattr(module, attr)
        wrapped = self.wrap(name, orig)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "") or "").startswith(package) and (
                getattr(mod, attr, None) is orig
            ):
                self._patched.append((mod, attr, orig))
                setattr(mod, attr, wrapped)

    def restore(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    # ---- derived views ---------------------------------------------------

    def by_name(self, prefix: str) -> list[dict]:
        return [s for s in self.spans if s["name"].startswith(prefix)]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of its interval its children cover."""
        kids = sorted(
            (max(c["start"], span["start"]), min(c["end"], span["end"]))
            for c in self.spans
            if c["parent"] == span["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span["end"] - span["start"] - covered

    def dump(self, path: str, t_zero: float) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        out = []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            r = dict(s)
            r["start"] = round(s["start"] - t_zero, 6)
            r["end"] = round(s["end"] - t_zero, 6)
            out.append(r)
        with open(path, "w") as f:
            json.dump(out, f, indent=0)


class _Traced:
    """A traced callable. It pickles as the function it wraps: a wrapped
    function can travel inside a pickled Python data source reader, and a
    worker then runs the original, untraced."""

    def __init__(self, tracer: Tracer, name: str, fn, parent_of):
        functools.update_wrapper(self, fn)
        self._tracer, self._name, self._fn, self._parent_of = tracer, name, fn, parent_of

    def __call__(self, *args, **kwargs):
        parent = self._parent_of() if self._parent_of is not None else None
        with self._tracer.span(self._name, parent=parent):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return operator.itemgetter(0), ([self._fn],)


def spark_counters(sc) -> dict[int, dict]:
    """Counters per span id, summed over the stages of every job that ran
    under that span's job group."""
    store = sc._jsc.sc().statusStore()
    group_of_stage: dict[int, int | None] = {}
    jobs = store.jobsList(None)
    n_jobs = jobs.size()
    jobs_per_span: dict[int, int] = {}
    for i in range(n_jobs):
        j = jobs.apply(i)
        g = j.jobGroup()
        sid = None
        if g.isDefined() and str(g.get()).startswith(GROUP_PREFIX):
            sid = int(str(g.get())[len(GROUP_PREFIX):])
            jobs_per_span[sid] = jobs_per_span.get(sid, 0) + 1
        ids = j.stageIds()
        for k in range(ids.size()):
            group_of_stage.setdefault(int(ids.apply(k)), sid)
    fields = {
        "stages": 0, "tasks": 0, "task_s": 0.0, "sched_wait_s": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "input_mb": 0.0, "failed_tasks": 0, "gc_s": 0.0,
    }
    per_span: dict[int, dict] = {}
    mb = 1024.0 * 1024.0
    for stage_id, sid in group_of_stage.items():
        try:
            st = store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # a stage the status store never saw run
            continue
        sub, first = st.submissionTime(), st.firstTaskLaunchedTime()
        wait = 0.0
        if sub.isDefined() and first.isDefined():
            wait = max(0.0, (first.get().getTime() - sub.get().getTime()) / 1000.0)
        row = {
            "stages": 1,
            "tasks": st.numCompleteTasks() + st.numFailedTasks(),
            "task_s": st.executorRunTime() / 1000.0,
            "sched_wait_s": wait,
            "shuffle_read_mb": (st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()) / mb,
            "shuffle_write_mb": st.shuffleWriteBytes() / mb,
            "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / mb,
            "input_mb": st.inputBytes() / mb,
            "failed_tasks": st.numFailedTasks(),
            "gc_s": st.jvmGcTime() / 1000.0,
        }
        if sid is not None:
            acc = per_span.setdefault(sid, dict(fields, jobs=jobs_per_span.get(sid, 0)))
            for k, v in row.items():
                acc[k] += v
    for sid, n in jobs_per_span.items():
        per_span.setdefault(sid, dict(fields, jobs=n))
    return per_span


# ---- process counters ------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, own utime+stime seconds) from /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(") ", 1)[1].split()
        return int(rest[1]), (int(rest[11]) + int(rest[12])) / _TICK
    except (OSError, IndexError, ValueError):
        return None


def jvm_pid(sc) -> int:
    name = sc._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getName()
    return int(name.split("@")[0])


def proc_cpu(jvm: int) -> tuple[float, float]:
    """(JVM CPU s, CPU s of the JVM's live descendant processes — the
    Python workers). A worker that exited between two samples is lost,
    so the worker figure is a lower bound."""
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                parent[int(d)], cpu[int(d)] = st
    own = cpu.get(jvm, 0.0)
    kids = 0.0
    for pid in cpu:
        p = parent.get(pid)
        while p is not None and p > 1:
            if p == jvm:
                kids += cpu[pid]
                break
            p = parent.get(p)
    return own, kids


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
