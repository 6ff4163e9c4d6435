"""Outside-in tracing: spans around calls into the program's layers.

The program carries no tracing code. ``Tracer.patch`` replaces a module
or class attribute of the program with a wrapper that opens a span
around the original call, so every call into a layer's public function
is timed from the outside. Each span also tags its thread's Spark job
description with its id; ``EngineCounters`` later reads the finished
stages from the status store and attributes every stage to the span
whose call submitted its job. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import threading
import time
from dataclasses import asdict, dataclass
from typing import Callable, Iterator

TAG = "perfbench-span:"
_DESC = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float | None = None


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part of it its direct children cover.

    Children may overlap (they run on pool threads), so the covered part
    is the union of their intervals, clipped to the parent's."""
    intervals = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.id and c.end is not None
    )
    covered, lo, hi = 0.0, None, None
    for s, e in intervals:
        if e <= s:
            continue
        if hi is None or s > hi:
            if hi is not None:
                covered += hi - lo
            lo, hi = s, e
        else:
            hi = max(hi, e)
    if hi is not None:
        covered += hi - lo
    return (span.end - span.start) - covered


def subtree(root: int, spans: list[Span]) -> set[int]:
    """Ids of ``root`` and every span below it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out, todo = set(), [root]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids.get(i, ()))
    return out


class Tracer:
    """Span recorder. Disabled, ``span`` records nothing and touches no
    Spark state, so untraced runs pay only a context-manager call."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: dict[int, Span] = {}
        self.overhead_s: dict[int, float] = {}  # op id -> tracer time inside it
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._open_ops: dict[int, list[Span]] = {}  # op id -> its thread's stack
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: bool = False) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._stack()
        with self._lock:
            if op:
                parent = None
            elif stack:
                parent = stack[-1].id
            elif len(self._open_ops) == 1:
                # a pool thread the program started inside the only open
                # op: its caller is the innermost span open on the op's
                # own thread
                (op_stack,) = self._open_ops.values()
                parent = op_stack[-1].id
            else:
                parent = None
            op_id = None if parent is None else self.spans[parent].op
            sp = Span(next(self._ids), name, op_id, parent, 0.0)
            if op:
                sp.op = sp.id
                self._open_ops[sp.id] = stack
            self.spans[sp.id] = sp
        prev = self.sc.getLocalProperty(_DESC)
        self.sc.setJobDescription(f"{TAG}{sp.id}")
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(_DESC, prev)
            with self._lock:
                self._open_ops.pop(sp.id, None)
                if sp.op is not None:
                    spent = (sp.start - t_in) + (time.perf_counter() - sp.end)
                    self.overhead_s[sp.op] = self.overhead_s.get(sp.op, 0.0) + spent

    def patch(self, owner: object, attr: str, name: Callable[..., str] | str) -> None:
        """Wrap ``owner.attr`` so each call runs inside a span.

        ``name`` is the span name, or a function of the call's arguments
        that returns it."""
        orig = getattr(owner, attr)
        name_of = name if callable(name) else (lambda *a, **k: name)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def finished(self) -> list[Span]:
        with self._lock:
            return [s for s in self.spans.values() if s.end is not None]

    def dump(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.finished(), key=lambda s: s.id)]


# ------------------------------------------------------------ engine counters

STAGE_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_mb",
    "output_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "task_wait_s",
)
_MB = 1024.0 * 1024.0


def _opt(o):
    return o.get() if o.isDefined() else None


def _span_of(desc: str | None) -> int | None:
    if desc and desc.startswith(TAG):
        return int(desc[len(TAG):])
    return None


class EngineCounters:
    """Finished jobs and stages from Spark's status store, each tagged
    with the span whose job description submitted it.

    Call ``collect`` after every op: the store keeps a bounded number of
    jobs and stages, so collecting late could lose some."""

    def __init__(self, sc):
        self.sc = sc
        self._jobs_seen: set[int] = set()
        self._stages_seen: set[tuple[int, int]] = set()
        self._stage_span: dict[int, int | None] = {}
        self._lock = threading.Lock()

    def collect(self) -> tuple[list[dict], list[dict]]:
        """New finished ``(jobs, stages)`` since the last call."""
        with self._lock:
            jsc = self.sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            store = jsc.statusStore()
            jobs = []
            seq = store.jobsList(None)
            for i in range(seq.length()):
                j = seq.apply(i)
                jid = j.jobId()
                if jid in self._jobs_seen:
                    continue
                if j.status().toString() not in ("SUCCEEDED", "FAILED"):
                    continue
                self._jobs_seen.add(jid)
                span = _span_of(_opt(j.description()))
                ids = j.stageIds()
                for k in range(ids.length()):
                    self._stage_span.setdefault(ids.apply(k), span)
                jobs.append({"job": jid, "span": span})
            gw = self.sc._gateway
            no_quantiles = gw.new_array(gw.jvm.double, 0)
            stages = []
            seq = store.stageList(None, False, False, no_quantiles, None)
            for i in range(seq.length()):
                s = seq.apply(i)
                key = (s.stageId(), s.attemptId())
                status = s.status().toString()
                if key in self._stages_seen or status in ("ACTIVE", "PENDING"):
                    continue
                if key[0] not in self._stage_span and status != "SKIPPED":
                    continue  # its job has not finished yet
                self._stages_seen.add(key)
                stages.append(self._stage_record(s, status))
            return jobs, stages

    def _stage_record(self, s, status: str) -> dict:
        span = _span_of(_opt(s.description()))
        if span is None:
            span = self._stage_span.get(s.stageId())
        rec = {"stage": s.stageId(), "span": span, "skipped": status == "SKIPPED"}
        if rec["skipped"]:
            return rec | {f: 0.0 for f in STAGE_FIELDS}
        submitted = _opt(s.submissionTime())
        first = _opt(s.firstTaskLaunchedTime())
        wait = 0.0
        if submitted is not None and first is not None:
            wait = max(0.0, (first.getTime() - submitted.getTime()) / 1000.0)
        return rec | {
            "tasks": float(s.numTasks()),
            "executor_run_s": s.executorRunTime() / 1000.0,
            "executor_cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1000.0,
            "input_mb": s.inputBytes() / _MB,
            "output_mb": s.outputBytes() / _MB,
            "shuffle_read_mb": s.shuffleReadBytes() / _MB,
            "shuffle_write_mb": s.shuffleWriteBytes() / _MB,
            "spill_mb": s.diskBytesSpilled() / _MB,
            "task_wait_s": wait,
        }


def pinned_mb(sc) -> float:
    """Memory and disk held by persisted RDDs (cache and checkpoint blocks)."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum((r.memSize() + r.diskSize()) for r in infos) / _MB


# ------------------------------------------------------------- process tree

_HZ = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from 'state' on


def tree_pids(root: int) -> list[int]:
    """``root`` and its live descendants."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                parent[int(d)] = int(st[1])
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the process tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:  # utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _HZ


def tree_peak_rss_mb(root: int) -> dict[str, float]:
    """VmHWM of each live process in the tree, in MB, keyed ``pid:name``."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms steps)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat(os.getpid())[19]) / _HZ
