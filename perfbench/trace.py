"""Spans around the benchmark's calls into each layer, with the Spark jobs
they ran as child spans, plus the ``/proc`` readers for process and host
figures.

A span is opened by the benchmark around one public call (``topk``,
``.collect()``, ``bulk`` ...) and tags the Spark jobs submitted inside it
with a job group, ``<request id>/<span name>``. After the operation has been
timed, :meth:`Tracer.harvest` reads each job back from Spark's status store
(it works with the UI disabled): submission and completion times, and the
metrics of every stage it ran. A job's call site names the module that
submitted it, which gives the layer below the span when the call site is
inside the engine's package.
"""

from __future__ import annotations

import ast
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import lru_cache

PKG = "es_indexer_spark"


@dataclass
class Job:
    id: int
    call_site: str
    layer: str | None  # module of the engine that submitted it, if any
    function: str | None
    t0: float
    t1: float
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_bytes: int = 0


@dataclass
class Span:
    rid: int
    name: str
    t0: float
    t1: float
    jobs: list[Job] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1e3

    def self_ms(self) -> float:
        """Duration minus the part of it that child jobs cover."""
        return self.ms - covered_ms(self.jobs, self.t0, self.t1)


def covered_ms(jobs: list[Job], t0: float, t1: float) -> float:
    iv = sorted((max(j.t0, t0), min(j.t1, t1)) for j in jobs)
    total, end = 0.0, t0
    for a, b in iv:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total * 1e3


@lru_cache(maxsize=None)
def _functions(path: str) -> list[tuple[int, int, str]]:
    with open(path) as f:
        tree = ast.parse(f.read())
    return [(n.lineno, n.end_lineno, n.name) for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]


def locate(call_site: str) -> tuple[str | None, str | None]:
    """``"collect at /x/es_indexer_spark/query/engine.py:242"`` ->
    ``("query.engine", "_dict_lookup")``: the module and the innermost
    function holding that line; ``(None, None)`` outside the package."""
    try:
        path, line = call_site.rsplit(" at ", 1)[1].rsplit(":", 1)
        line = int(line)
    except (IndexError, ValueError):
        return None, None
    parts = path.split(os.sep)
    if PKG not in parts or not os.path.isfile(path):
        return None, None
    layer = ".".join(parts[parts.index(PKG) + 1:])[: -len(".py")]
    inner = [(a, name) for a, b, name in _functions(path) if a <= line <= b]
    return layer, max(inner)[1] if inner else None


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op,
    so the untraced run pays nothing for it."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._pending: list[tuple[Span, str]] = []

    @contextmanager
    def span(self, rid: int, name: str):
        if not self.enabled:
            yield
            return
        group = f"{rid}/{name}"
        self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            s = Span(rid, name, t0, t1)
            self.spans.append(s)
            self._pending.append((s, group))

    def harvest(self, timeout_s: float = 5.0) -> None:
        """Attach the finished jobs of every span closed since the last
        call. Job-end events reach the status store asynchronously, so this
        waits (briefly) until each job has a completion time."""
        if not self._pending:
            return
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        for span, group in self._pending:
            for jid in sorted(tracker.getJobIdsForGroup(group)):
                deadline = time.time() + timeout_s
                jd = store.job(jid)
                while not jd.completionTime().isDefined() and time.time() < deadline:
                    time.sleep(0.005)
                    jd = store.job(jid)
                if not jd.completionTime().isDefined():
                    raise RuntimeError(f"job {jid} of {group} never completed")
                name = str(jd.name())
                layer, fn = locate(name)
                job = Job(jid, name, layer, fn,
                          jd.submissionTime().get().getTime() / 1e3,
                          jd.completionTime().get().getTime() / 1e3)
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else []:
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # py4j: stage evicted or never ran
                        continue
                    if str(sd.status()) != "COMPLETE":
                        continue
                    job.stages += 1
                    job.tasks += sd.numTasks()
                    job.run_ms += sd.executorRunTime()
                    job.cpu_ms += sd.executorCpuTime() / 1e6
                    job.input_bytes += sd.inputBytes()
                    job.output_bytes += sd.outputBytes()
                    job.shuffle_bytes += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
                span.jobs.append(job)
        self._pending.clear()


# ---------------------------------------------------------------------------
# /proc readers (Linux)

_TICK = os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def peak_rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmHWM") / 1024.0


def _ppid_and_cpu(pid: str) -> tuple[int, float] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    rest = s[s.rindex(")") + 2:].split()
    return int(rest[1]), (int(rest[11]) + int(rest[12])) / _TICK


def _tree() -> dict[int, tuple[int, float]]:
    out = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            r = _ppid_and_cpu(p)
            if r is not None:
                out[int(p)] = r
    return out


def descendants(root: int, tree: dict | None = None) -> list[int]:
    tree = _tree() if tree is None else tree
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in tree.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every live descendant (the
    Spark JVM and its Python workers, for the driver process)."""
    tree = _tree()
    return sum(tree[p][1] for p in [root, *descendants(root, tree)] if p in tree)


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1]) / 1024.0
