"""Tracing from outside the engine: spans around calls into the layers'
public functions, and job/stage data read from Spark's status store.

Nothing in ``sdc_spark`` is edited. ``Tracer.install`` replaces each traced
function with a wrapper on every ``sdc_spark`` module attribute bound to it
(``from x import f as _f`` included) and ``uninstall`` puts the originals
back.
"""

from __future__ import annotations

import importlib
import itertools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

# (module, function) pairs per layer. Index writes cover every write_,
# append_, compact_ and delete_from_ function of the three index modules.
INDEX_MODULES = (
    "sdc_spark.operators.dedup",
    "sdc_spark.operators.similarity",
    "sdc_spark.operators.retrieval",
)
INDEX_WRITE_PREFIXES = ("write_", "append_", "compact_", "delete_from_")
LAYERS = {
    "materialize": [
        ("sdc_spark.materialize", "materialize"),
        ("sdc_spark.materialize", "materialize_lazy"),
        ("sdc_spark.materialize", "unmaterialize"),
    ],
    "index_read": [
        ("sdc_spark.operators.similarity", "ann_ivf_search_index"),
        ("sdc_spark.operators.dedup", "screen_against_index"),
    ],
    "index_write": [
        ("sdc_spark.operators.maintenance", "takedown_documents"),
        ("sdc_spark.operators.maintenance", "compact_indexes"),
    ],
}


def _targets() -> list[tuple[str, str, str]]:
    """(module, function, layer) of every traced function."""
    out = [(m, f, layer) for layer, pairs in LAYERS.items() for m, f in pairs]
    for m in INDEX_MODULES:
        for f, v in sorted(vars(importlib.import_module(m)).items()):
            if f.startswith(INDEX_WRITE_PREFIXES) and callable(v):
                out.append((m, f, "index_write"))
    return out


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float  # epoch seconds, the clock Spark stamps jobs with
    end: float
    parent: int | None
    op: int | None
    thread: str


class Tracer:
    """Keeps spans in memory; ``op_scope`` opens the root span of one
    operation and every traced call under it records that operation's id."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: int | None = None
        self._op_span: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._op_span
        sid = next(self._ids)
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(sid, name, layer, start, end, parent, self._op,
                         threading.current_thread().name)
                )

    @contextmanager
    def op_scope(self, op: int, name: str):
        """Root span of one operation; spans opened on other threads (the
        engine's concurrent index writes) attach to it."""
        self._op = op
        try:
            with self.span(name, "op") as sid:
                self._op_span = sid
                yield sid
        finally:
            self._op_span = None
            self._op = None

    # -- patching ----------------------------------------------------------
    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        traced.__name__ = fn.__name__
        return traced

    def install(self) -> None:
        originals = {}
        for mod, fname, layer in _targets():
            fn = getattr(importlib.import_module(mod), fname)
            originals[id(fn)] = self._wrap(fn, f"{mod.rsplit('.', 1)[-1]}.{fname}", layer)
        for modname, module in list(sys.modules.items()):
            if not modname.startswith("sdc_spark") or module is None:
                continue
            for attr, value in list(vars(module).items()):
                wrapper = originals.get(id(value))
                if wrapper is not None and wrapper.__wrapped__ is value:
                    self._patched.append((module, attr, value))
                    setattr(module, attr, wrapper)

    def uninstall(self) -> None:
        for module, attr, value in reversed(self._patched):
            setattr(module, attr, value)
        self._patched.clear()

    def dump(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]


@dataclass
class Job:
    id: int
    start: float
    end: float
    tasks: int
    failed_tasks: int
    task_s: float
    stage_tasks: list[int]
    input_bytes: int
    shuffle_write_bytes: int


def read_jobs(spark, group: str) -> list[Job]:
    """Job and stage data of one job group from the status store. Call it
    right after the operation: the store keeps only the newest 1000 jobs
    and stages. A stage skipped because an earlier job computed its shuffle
    output counts once, under the job that ran it."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        jd = store.job(jid)
        if jd.completionTime().isEmpty():
            continue  # still running: a cancelled job of a failed operation
        stage_tasks, task_ms, tasks, failed, inb, shw = [], 0, 0, 0, 0, 0
        sids = jd.stageIds()
        for i in range(sids.size()):
            st = store.lastStageAttempt(sids.apply(i))
            if st.status().toString() == "SKIPPED":
                continue
            stage_tasks.append(st.numCompleteTasks() + st.numFailedTasks())
            tasks += st.numCompleteTasks()
            failed += st.numFailedTasks()
            task_ms += st.executorRunTime()
            inb += st.inputBytes()
            shw += st.shuffleWriteBytes()
        jobs.append(
            Job(jid, jd.submissionTime().get().getTime() / 1000.0,
                jd.completionTime().get().getTime() / 1000.0, tasks, failed,
                task_ms / 1000.0, stage_tasks, inb, shw)
        )
    return jobs


def catalyst_seconds(df) -> float:
    """Analysis + optimization + planning time of ``df``'s plan, from its
    QueryExecution's phase tracker. Forces physical planning, so callers
    keep this call outside the timed interval."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    total = 0
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1000.0


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, from /proc."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
