"""Traced runs: spans around the engine's layer entry points, attributed
to Spark stage totals through the in-process status store.

The tracer patches the entry points from outside the engine. Each
wrapper records a span (name, start, end, parent, batch id) and sets a
Spark job group ``pb:<span id>`` on the calling thread, so every job the
layer launches is attributable to it. After a phase the tracer reads
``executorRunTime``, ``executorCpuTime``, shuffle, spill, output bytes
and task counts per job group from ``SparkContext.statusStore()``; no UI
and no REST endpoint are needed. Spans stay in memory until the run ends
and writes out :meth:`Tracer.dump`.

A wrapped entry point that is missing raises at install time, and a
required one that was never called raises at :meth:`Tracer.require`,
so a moved function cannot silently report 0 for its layer.
"""

from __future__ import annotations

import contextlib
import importlib
import threading
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "pb:"
_LOCAL_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

# (label, module, attribute path, span name). A span name of None counts
# calls and attaches arguments to the enclosing span without opening one.
ENTRY_POINTS = (
    ("applier", "gear5_spark.pipeline.apply", "TranscriptsApplier.__call__", "batch"),
    ("dedup", "gear5_spark.pipeline.apply", "TranscriptsApplier._count_and_discover", "dedup"),
    ("normalize", "gear5_spark.pipeline.apply", "normalize_changes", None),
    ("merge_into", "gear5_spark.pipeline.apply", "merge_into", "merge"),
    ("merge_delta", "gear5_spark.lake.mor", "merge_delta", "merge"),
    ("compact", "gear5_spark.lake.mor", "compact", "compact"),
    ("reconstruct", "gear5_spark.lake.mor", "reconstruct", None),
    ("read_file_entries", "gear5_spark.lake.table", "read_file_entries", None),
    ("write_data_files", "gear5_spark.lake.table", "LakeTable.write_data_files", "write"),
    ("commit", "gear5_spark.lake.table", "LakeTable.commit", "commit"),
    ("read_changelog", "gear5_spark.pipeline.runner", "read_changelog", None),
    ("stream_changelog", "gear5_spark.pipeline.runner", "stream_changelog", None),
)


class TraceError(RuntimeError):
    """A wrapped entry point is missing or was never called."""


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    batch: int | None
    phase: str
    start: float = 0.0  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    out_mb: float = 0.0
    input_records: int = 0
    max_task_s: float = 0.0
    busy_s: float = 0.0  # union of job intervals, clipped to the span


def _resolve(module: str, path: str):
    owner = importlib.import_module(module)
    *parents, attr = path.split(".")
    for p in parents:
        owner = getattr(owner, p)
    if not hasattr(owner, attr):
        raise TraceError(f"entry point {module}.{path} is missing")
    return owner, attr


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.calls: dict[str, int] = {label: 0 for label, *_ in ENTRY_POINTS}
        self.active = False
        self.phase = "setup"
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self._stages: dict[int, dict] = {}
        self._jobs_by_group: dict[str, list[dict]] = {}

    # ------------------------------------------------------------- spans
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, batch: int | None = None, **attrs):
        if not self.active:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            s = Span(
                id=len(self.spans) + 1,
                name=name,
                parent=parent.id if parent else None,
                batch=batch if batch is not None else (parent.batch if parent else None),
                phase=self.phase,
                attrs=dict(attrs),
            )
            self.spans.append(s)
        prev = [self.sc.getLocalProperty(k) for k in _LOCAL_KEYS]
        self.sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", name)
        stack.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            for k, v in zip(_LOCAL_KEYS, prev):
                self.sc.setLocalProperty(k, v)

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    # ----------------------------------------------------------- patches
    def install(self) -> None:
        for label, module, path, span_name in ENTRY_POINTS:
            owner, attr = _resolve(module, path)
            orig = getattr(owner, attr)
            setattr(owner, attr, self._wrapper(label, span_name, orig))
            self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _wrapper(self, label: str, span_name: str | None, orig):
        tracer = self

        def wrapped(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer._lock:
                tracer.calls[label] += 1
            if span_name is None:
                tracer._note(label, args, kwargs)
                return orig(*args, **kwargs)
            batch = None
            if label == "applier" and len(args) > 2:
                batch = int(args[2])
            with tracer.span(span_name, batch=batch) as s:
                out = orig(*args, **kwargs)
                tracer._after(label, s, out)
                return out

        wrapped.__wrapped__ = orig
        return wrapped

    def _note(self, label: str, args, kwargs) -> None:
        cur = self.current()
        if cur is None or label not in ("reconstruct", "read_file_entries"):
            return
        # reconstruct(table, snap, files), read_file_entries(spark, dir, files, schema)
        files = kwargs.get("files", args[2] if len(args) > 2 else [])
        if label == "reconstruct":
            n = sum(1 for f in files if f.get("kind") == "delta")
            cur.attrs["delta_files"] = cur.attrs.get("delta_files", 0) + n
        elif label == "read_file_entries":
            cur.attrs["files_opened"] = cur.attrs.get("files_opened", 0) + len(files)

    def _after(self, label: str, s: Span, out) -> None:
        if label == "dedup":
            s.attrs["winners"] = int(out[0])
        elif label == "write_data_files":
            s.attrs["files"] = len(out[1])
        elif label == "commit":
            s.attrs["snapshot_version"] = int(out.version)

    def require(self, labels) -> None:
        missing = [lb for lb in labels if self.calls.get(lb, 0) == 0]
        if missing:
            raise TraceError(f"wrapped entry points never called: {missing}")

    # ------------------------------------------------------ status store
    def collect(self) -> None:
        """Read job and stage totals for every ``pb:`` job group."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 1)
        q[0] = 1.0
        by_group: dict[str, list[dict]] = {}
        for j in _seq(store.jobsList(None)):
            g = j.jobGroup()
            if not g.isDefined() or not str(g.get()).startswith(GROUP_PREFIX):
                continue
            sub, done = j.submissionTime(), j.completionTime()
            by_group.setdefault(str(g.get()), []).append(
                {
                    "stages": _seq(j.stageIds()),
                    "t0": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                    "t1": done.get().getTime() / 1e3 if done.isDefined() else None,
                }
            )
        for jobs in by_group.values():
            for job in jobs:
                for sid in job["stages"]:
                    if sid in self._stages:
                        continue
                    st = store.lastStageAttempt(sid)
                    rec = {"complete": st.status().toString() == "COMPLETE"}
                    if rec["complete"]:
                        summ = store.taskSummary(sid, st.attemptId(), q)
                        rec.update(
                            tasks=st.numCompleteTasks(),
                            task_s=st.executorRunTime() / 1e3,
                            cpu_s=st.executorCpuTime() / 1e9,
                            shuffle_write_mb=st.shuffleWriteBytes() / 2**20,
                            spill_mb=(st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20,
                            out_mb=st.outputBytes() / 2**20,
                            input_records=st.inputRecords(),
                            max_task_s=(
                                summ.get().executorRunTime().apply(0) / 1e3
                                if summ.isDefined()
                                else 0.0
                            ),
                        )
                    self._stages[sid] = rec
        self._jobs_by_group = by_group

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def totals(self, s: Span, inclusive: bool = True) -> Totals:
        """Stage totals of the jobs ``s`` launched (and, inclusive, its
        descendants). Needs :meth:`collect` after the span closed."""
        t = Totals()
        spans = self.subtree(s) if inclusive else [s]
        intervals = []
        for sp in spans:
            for job in self._jobs_by_group.get(f"{GROUP_PREFIX}{sp.id}", []):
                t.jobs += 1
                if job["t0"] is not None and job["t1"] is not None:
                    intervals.append((max(job["t0"], s.start), min(job["t1"], s.end)))
                for sid in job["stages"]:
                    st = self._stages.get(sid, {})
                    if not st.get("complete"):
                        continue
                    t.stages += 1
                    t.tasks += st["tasks"]
                    t.task_s += st["task_s"]
                    t.cpu_s += st["cpu_s"]
                    t.shuffle_write_mb += st["shuffle_write_mb"]
                    t.spill_mb += st["spill_mb"]
                    t.out_mb += st["out_mb"]
                    t.input_records += st["input_records"]
                    t.max_task_s = max(t.max_task_s, st["max_task_s"])
        t.busy_s = _union(intervals)
        return t

    def self_time(self, s: Span) -> float:
        """Wall time of ``s`` not covered by its child spans."""
        return s.wall - _union(
            [(max(c.start, s.start), min(c.end, s.end)) for c in self.children(s)]
        )

    def find(self, name: str, phase: str | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (phase is None or s.phase == phase)
        ]

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "parent": s.parent, "batch": s.batch,
             "phase": s.phase, "start": s.start, "end": s.end, **s.attrs}
            for s in self.spans
        ]


def _union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    end = None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
