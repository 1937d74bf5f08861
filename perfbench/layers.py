"""Per-layer metrics of a traced run, from its spans and Spark's status
store.  Every metric is computed on every workload.  A metric with no
samples fails the run (``ValueError``), with one exception: on a workload
that commits no delta, ``delta.jobs`` and ``delta.commits`` are the true
count, 0."""

from __future__ import annotations

import bisect
import statistics
from collections import defaultdict

from tracing import Job, Span, Tracer, union_length, write_spans

TABLES = ["postings", "docstats", "termdict", "termstats_partial", "termstats", "collstats"]
SHAPES = ["and", "kwrare", "or", "neg", "phrase", "heavy", "needle"]


def _med(xs, name: str) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError(f"{name}: no samples")
    return float(statistics.median(xs))


def _ratio(num: float, den: float, name: str) -> float:
    if not den:
        raise ValueError(f"{name}: no samples")
    return num / den


class OpStats:
    """Jobs, job time and stage metrics of each top-level operation."""

    def __init__(self, spans: list[Span], jobs: list[Job], stages: dict[int, dict]):
        self.by_id = {s.id: s for s in spans}
        roots = sorted((s for s in spans if s.parent is None), key=lambda s: s.start)
        starts = [s.start for s in roots]
        self.jobs: dict[int, list[Job]] = defaultdict(list)
        for j in jobs:
            sp = self.by_id.get(j.span)
            if sp is None:  # no description: the operation running at submission
                i = bisect.bisect_right(starts, j.start) - 1
                if i < 0 or j.start > roots[i].end:
                    continue
                sp = roots[i]
            self.jobs[sp.root].append(j)
        self.stages = stages

    def n_jobs(self, root: int) -> int:
        return len(self.jobs[root])

    def job_s(self, root: int) -> float:
        return union_length([(j.start, j.end) for j in self.jobs[root]])

    def stage_sum(self, root: int, key: str) -> float:
        sids = {s for j in self.jobs[root] for s in j.stages if s in self.stages}
        return float(sum(self.stages[s][key] for s in sids))

    def n_stages(self, root: int) -> int:
        return len({s for j in self.jobs[root] for s in j.stages if s in self.stages})


def per_layer(run, tracer: Tracer, session_start_s: float,
              spans_path: str | None = None) -> dict[str, tuple[float, str]]:
    spans = tracer.spans
    jobs, stages = tracer.jobs()
    if spans_path is not None:
        write_spans(spans, jobs, spans_path)
    st = OpStats(spans, jobs, stages)
    ops = {o.span: o for o in run.ops if o.span is not None}

    def named(prefix: str) -> list[Span]:
        return [s for s in spans if s.name.startswith(prefix)]

    def roots(kind: str) -> list[Span]:
        return [s for s in spans if s.parent is None and s.name == kind and s.id in ops]

    def under(root: int, prefix: str) -> list[Span]:
        return [s for s in spans if s.root == root and s.name.startswith(prefix)]

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (session_start_s, "s")
    m["spark.jobs"] = (float(len(jobs)), "count")

    builds = roots("build")
    if not builds:
        raise ValueError("build: no samples")
    b = builds[0].id
    m["build.jobs"] = (float(st.n_jobs(b)), "count")
    m["build.stages"] = (float(st.n_stages(b)), "count")
    m["build.driver_gap_s"] = (ops[b].wall - st.job_s(b), "s")
    m["build.executor_run_s"] = (st.stage_sum(b, "executor_run_s"), "s")
    m["build.shuffle_write_bytes"] = (st.stage_sum(b, "shuffle_write_bytes"), "bytes")
    m["build.spill_bytes"] = (st.stage_sum(b, "spill_bytes"), "bytes")
    m["tables.commits"] = (float(len(under(b, "tables.commit."))), "count")
    for t in TABLES:
        m[f"tables.write_segment_s.{t}"] = (
            sum(s.dur for s in named(f"tables.write_segment.{t}")), "s")
    m["tables.commit_s"] = (sum(s.dur for s in named("tables.commit.")), "s")
    m["bloom.build_s"] = (sum(s.dur for s in named("bloom.")), "s")
    fin = [s.dur for s in sorted(named("build.finalize_stats"), key=lambda s: s.start)]
    m["build.finalize_stats_s"] = (_med(fin, "build.finalize_stats_s"), "s")
    m["build.finalize_stats_growth"] = (fin[-1] / fin[0], "ratio")

    deltas = roots("delta")
    m["delta.jobs"] = (_med([st.n_jobs(d.id) for d in deltas] or [0], "delta.jobs"), "count")
    m["delta.commits"] = (
        _med([len(under(d.id, "tables.commit.")) for d in deltas] or [0], "delta.commits"), "count")
    m["index.postings_segments"] = (float(run.extra["index.postings_segments"]), "count")
    m["index.bytes_per_source_byte"] = (run.extra["index_bytes_per_source_byte"], "ratio")

    def query_layer(kind: str, jobs: bool = True) -> list[Span]:
        rs = roots(kind)
        if jobs:
            m[f"{kind}.jobs_per_query"] = (
                _med((st.n_jobs(r.id) for r in rs), f"{kind}.jobs_per_query"), "count")
        m[f"{kind}.job_ms"] = (_med((1e3 * st.job_s(r.id) for r in rs), f"{kind}.job_ms"), "ms")
        m[f"{kind}.driver_ms"] = (
            _med((1e3 * (ops[r.id].wall - st.job_s(r.id)) for r in rs), f"{kind}.driver_ms"), "ms")
        return rs

    wands = query_layer("wand")
    for shape in SHAPES:
        name = f"wand.jobs_per_query.{shape}"
        m[name] = (_med((st.n_jobs(r.id) for r in wands if ops[r.id].shape == shape), name),
                   "count")
    query_layer("exhaustive")
    query_layer("batch", jobs=False)

    m["query.parse_ms"] = (
        _med((1e3 * s.dur for s in named("query.parse_query")), "query.parse_ms"), "ms")
    m["tables.read_pruned_ms"] = (
        _med((1e3 * s.dur for s in named("tables.read_pruned.postings")),
             "tables.read_pruned_ms"), "ms")
    pr = named("tables.pruned_segments.postings")
    m["tables.segments_kept_ratio"] = (_ratio(
        sum(s.attrs.get("kept", 0) for s in pr), sum(s.attrs.get("total", 0) for s in pr),
        "tables.segments_kept_ratio"), "ratio")
    m["wand.prune_ratio"] = (run.extra["wand.prune_ratio"], "ratio")

    cr = named("exec.cached_result")
    hits = [c for c in cr if not any(s.parent == c.id for s in spans)]
    m["serp_cache.hit_ratio"] = (_ratio(len(hits), len(cr), "serp_cache.hit_ratio"), "ratio")

    on = [o.wall for o in run.ops if o.kind == "wand" and o.traced]
    off = [o.wall for o in run.ops if o.kind == "wand" and not o.traced]
    m["trace.overhead_ratio"] = (
        _med(on, "trace.overhead_ratio") / _med(off, "trace.overhead_ratio"), "ratio")
    return m
