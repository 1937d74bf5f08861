"""Out-of-package tracing for the benchmark's traced run.

``Tracer.install`` replaces the engine's public layer functions with
wrappers at every place they are looked up: the defining module and every
package module that imported the function by name (``finalize_stats`` is
imported by ``operators.build``, ``streaming.incremental`` and
``operators.merge``), plus the ``SnapshotTable`` methods on the class.
Each wrapper records a span (name, start, end, parent, root operation)
and sets the Spark job description of its calling thread to the span id,
so jobs submitted from ``build_index``'s shard threads are attributed to
the write that submitted them.  Spans stay in memory; job and stage
metrics are read from Spark's status store once, after the run.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "open_source_search_engine_spark"

# (module, attribute) of each traced function, by layer
TARGETS = [
    ("operators.build", "build_index"),
    ("operators.build", "finalize_stats"),
    ("operators.topk", "search_wand"),
    ("operators.topk", "search_wand_batch"),
    ("operators.merge", "delete_docs"),
    ("operators.merge", "compact_deltas"),
    ("plans.query", "parse_query"),
    ("plans.exec", "search"),
    ("plans.exec", "cached_result"),
    ("streaming.incremental", "add_documents"),
    ("functions.bloom", "build_bloom_distributed"),
]
TABLE_METHODS = ["write_segment", "commit", "read", "read_pruned", "pruned_segments"]
DESC = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    root: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Job:
    id: int
    start: float
    end: float
    span: int | None
    stages: list[int]


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Spans for one benchmark run.  ``enabled`` switches the engine-side
    wrappers on and off between operations (the traced run alternates to
    measure its own overhead); benchmark-side operation spans are always
    recorded while the tracer is installed."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.enabled = True
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._root: Span | None = None
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> Span:
        st = self._stack()
        parent = st[-1] if st else self._root
        with self._lock:
            sp = Span(next(self._ids), name, time.time(), parent.id if parent else None,
                      parent.root if parent else None)
            if sp.root is None:
                sp.root = sp.id
            self.spans.append(sp)
        st.append(sp)
        return sp

    def finish(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack().pop()

    def op(self, name: str):
        """Context manager for one top-level benchmark operation."""
        tracer = self

        class _Op:
            def __enter__(self):
                sp = tracer.begin(name)
                tracer._root = sp
                tracer._set_desc(sp.id)
                return sp

            def __exit__(self, *exc):
                sp = tracer._root
                tracer._set_desc(None)
                tracer.finish(sp)
                tracer._root = None
                return False

        return _Op()

    def _set_desc(self, span_id: int | None) -> None:
        self.sc.setLocalProperty(DESC, None if span_id is None else f"span:{span_id}")

    def wrap(self, name: str, fn, attrs=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sp = tracer.begin(name(args) if callable(name) else name)
            prev = tracer.sc.getLocalProperty(DESC)
            tracer._set_desc(sp.id)
            try:
                out = fn(*args, **kwargs)
                if attrs is not None:
                    sp.attrs.update(attrs(args, out))
                return out
            finally:
                tracer.sc.setLocalProperty(DESC, prev)
                tracer.finish(sp)

        return traced

    # -- installation ----------------------------------------------------------
    def install(self) -> None:
        import importlib

        from open_source_search_engine_spark.sources.tables import SnapshotTable

        for modname, _attr in TARGETS:
            importlib.import_module(f"{PKG}.{modname}")
        mods = [m for k, m in list(sys.modules.items()) if k.startswith(PKG) and m]
        for modname, attr in TARGETS:
            mod = sys.modules[f"{PKG}.{modname}"]
            fn = getattr(mod, attr)
            layer = modname.split(".")[-1]
            w = self.wrap(f"{layer}.{attr}", fn)
            for m in mods:
                for k, v in list(vars(m).items()):
                    if v is fn:
                        self._undo.append((m, k, v))
                        setattr(m, k, w)

        def table_name(args) -> str:
            import os

            return os.path.basename(args[0].dir)

        for meth in TABLE_METHODS:
            fn = getattr(SnapshotTable, meth)
            attrs = None
            if meth == "pruned_segments":
                attrs = lambda _a, out: {"kept": len(out[0]), "total": out[1]}  # noqa: E731
            w = self.wrap(
                (lambda m: lambda args: f"tables.{m}.{table_name(args)}")(meth), fn, attrs
            )
            self._undo.append((SnapshotTable, meth, fn))
            setattr(SnapshotTable, meth, w)

    def uninstall(self) -> None:
        for obj, k, v in reversed(self._undo):
            setattr(obj, k, v)
        self._undo.clear()

    # -- Spark status store ----------------------------------------------------
    def jobs(self) -> tuple[list[Job], dict[int, dict]]:
        """Every finished job (with the span that submitted it) and the
        metrics of every stage those jobs ran."""
        store = self.sc._jsc.sc().statusStore()
        seq = store.jobsList(None)
        jobs = []
        for i in range(seq.size()):
            j = seq.apply(i)
            if not (j.submissionTime().isDefined() and j.completionTime().isDefined()):
                continue
            d = j.description()
            desc = d.get() if d.isDefined() else ""
            span = int(desc[5:]) if desc.startswith("span:") else None
            sids = j.stageIds()
            jobs.append(Job(
                j.jobId(),
                j.submissionTime().get().getTime() / 1000.0,
                j.completionTime().get().getTime() / 1000.0,
                span,
                [sids.apply(k) for k in range(sids.size())],
            ))
        stages: dict[int, dict] = {}
        for sid in sorted({s for j in jobs for s in j.stages}):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # skipped stages never ran: no attempt stored
                continue
            if st.status().toString() != "COMPLETE":
                continue
            stages[sid] = {
                "executor_run_s": st.executorRunTime() / 1000.0,
                "shuffle_write_bytes": st.shuffleWriteBytes(),
                "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            }
        jobs.sort(key=lambda j: j.id)
        return jobs, stages


def write_spans(spans: list[Span], jobs: list[Job], path: str) -> None:
    """Write every span (with its self time) and every job's span id."""
    import json

    selfs = self_times(spans)
    with open(path, "w") as f:
        json.dump({
            "spans": [
                {"id": s.id, "name": s.name, "parent": s.parent, "root": s.root,
                 "start": s.start, "end": s.end, "self_s": selfs[s.id], **s.attrs}
                for s in spans
            ],
            "jobs": [vars(j) for j in jobs],
        }, f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        iv = [(max(a, s.start), min(b, s.end)) for a, b in kids.get(s.id, [])]
        out[s.id] = s.dur - union_length([(a, b) for a, b in iv if b > a])
    return out
