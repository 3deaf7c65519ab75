"""Span tracing from outside the program, plus the process-tree RSS sampler.

Spans are recorded around calls into the engine's public functions (see
`workloads.Instrumented`); nothing inside `era_parser_spark` changes.  Each span has
a name, start, end, parent and the run id, and is kept in memory until
`dump` writes them out.

Spark is lazy, so wall time alone would charge execution to whichever call
happened to trigger it.  Every span therefore tags the Spark jobs started
inside it (the `spark.jobGroup.id` local property carries the span id), and
after the run the jobs' stage metrics are read back from the status store,
which Spark keeps even with the UI off.  A job belongs to the innermost
span that was open when it started; a span's Spark totals include its
descendants'.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time

# Stage metrics read from the status store, with the scale to seconds/bytes.
STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
}
SPARK_KEYS = ("jobs", "stages", "tasks", "failed_tasks", *STAGE_FIELDS)


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "spark")

    def __init__(self, sid: int, name: str, parent: int | None, start: float):
        self.id = sid
        self.name = name
        self.parent = parent
        self.start = start
        self.end = start
        self.spark = dict.fromkeys(SPARK_KEYS, 0)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder for one benchmark run.

    `Tracer(None)` is the untraced mode: `span()` costs one branch and
    records nothing, so the timed code is the same in both modes.
    """

    def __init__(self, spark, run_id: str = ""):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @property
    def enabled(self) -> bool:
        return self.spark is not None

    def _set_group(self, span: Span | None) -> None:
        self.spark.sparkContext.setLocalProperty(
            "spark.jobGroup.id", None if span is None else f"perfbench-{span.id}"
        )

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- after the run ------------------------------------------------------

    def harvest(self) -> None:
        """Attach each finished Spark job's stage metrics to its span, then
        roll the totals up to the ancestors.  Call once, after the run."""
        if not self.enabled or not self.spans:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        stages = {}
        sl = store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
        for i in range(sl.size()):
            st = sl.apply(i)
            if str(st.status()) == "SKIPPED":
                continue
            m = {k: getattr(st, f)() * scale for k, (f, scale) in STAGE_FIELDS.items()}
            m["tasks"] = st.numTasks()
            m["failed_tasks"] = st.numFailedTasks()
            stages.setdefault(st.stageId(), []).append(m)
        seen = set()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined() or not str(group.get()).startswith("perfbench-"):
                continue
            span = self.spans[int(str(group.get()).split("-", 1)[1])]
            span.spark["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen or sid not in stages:
                    continue
                seen.add(sid)
                for m in stages[sid]:
                    span.spark["stages"] += 1
                    for key, v in m.items():
                        span.spark[key] += v
        # children were appended after their parents: roll up in reverse
        for s in reversed(self.spans):
            if s.parent is not None:
                p = self.spans[s.parent].spark
                for k, v in s.spark.items():
                    p[k] += v

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Span duration minus the union of its children's intervals."""
        covered, edge = 0.0, span.start
        for c in sorted(self.children(span), key=lambda c: c.start):
            lo, hi = max(c.start, edge), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        return span.wall - covered

    def self_spark(self, span: Span, key: str) -> float:
        return span.spark[key] - sum(c.spark[key] for c in self.children(span))

    def named(self, prefix: str) -> list[Span]:
        return [s for s in self.spans if s.name.startswith(prefix)]

    def total(self, prefix: str) -> float:
        """Wall time of spans named `prefix*`, counting nested ones once."""
        picked = self.named(prefix)
        ids = {s.id for s in picked}
        return sum(s.wall for s in picked if not self._has_ancestor_in(s, ids))

    def _has_ancestor_in(self, span: Span, ids: set[int]) -> bool:
        p = span.parent
        while p is not None:
            if p in ids:
                return True
            p = self.spans[p].parent
        return False

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            json.dump(
                [
                    {"run_id": self.run_id, "id": s.id, "name": s.name, "parent": s.parent,
                     "start_s": s.start - t0, "end_s": s.end - t0, "spark": s.spark}
                    for s in self.spans
                ],
                f,
                indent=1,
            )

    def tree(self) -> str:
        """Indented span tree; same-named siblings are folded into one line
        (count, summed wall and Spark totals) and their children merged."""
        lines: list[str] = []

        def walk(parents: set[int], depth: int) -> None:
            groups: dict[str, list[Span]] = {}
            for s in self.spans:
                if s.parent in parents:
                    groups.setdefault(s.name, []).append(s)
            for name, ss in groups.items():
                lines.append(
                    f"{'  ' * depth}{name} x{len(ss)}  wall={sum(s.wall for s in ss):.3f}s  "
                    f"jobs={sum(s.spark['jobs'] for s in ss)}  "
                    f"executor_run={sum(s.spark['executor_run_s'] for s in ss):.3f}s"
                )
                walk({s.id for s in ss}, depth + 1)

        walk({None}, 0)
        return "\n".join(lines)


# -- peak RSS of this process tree ---------------------------------------------


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _mem_kb(pid: int) -> tuple[int, int] | None:
    """(VmSize, VmRSS) of `pid` in KiB, None once it has gone."""
    size = rss = None
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmSize:"):
                    size = int(line.split()[1])
                elif line.startswith("VmRSS:"):
                    rss = int(line.split()[1])
    except OSError:
        return None
    return None if rss is None else (size, rss)


def descendants(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        kids = _children(todo.pop())
        out += kids
        todo += kids
    return out


def alive(pid: int) -> bool:
    """True while `pid` runs (a zombie waiting to be reaped has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_rss_kb(root: int) -> int:
    """Summed RSS of `root` and its descendants.  A child caught between
    vfork and exec (the JVM spawns helpers that way) still runs in its
    parent's address space and reports the parent's exact VmSize and VmRSS;
    it is skipped, or the JVM would be counted twice."""
    total, todo = 0, [(root, None)]
    while todo:
        pid, parent_mem = todo.pop()
        mem = _mem_kb(pid)
        if mem is not None and mem != parent_mem:
            total += mem[1]
        todo += [(c, mem) for c in _children(pid)]
    return total


class RssSampler(threading.Thread):
    """Samples the RSS of this process and all its descendants (driver JVM,
    Python workers) every `period` seconds; `peak_mb` is the maximum."""

    def __init__(self, period: float = 0.1):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(me))
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))
        return self.peak_kb / 1024.0
