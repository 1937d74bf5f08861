"""The benchmark's workloads and their correctness gate.

Both workloads are one client running a single-threaded closed loop
against the engine's public API: each call waits for the previous one to
return.  Operation counts are fixed by ``--seconds`` (never by a clock),
so a run at a given seed issues the same calls in the same order on any
host.

``query-serve``  serves a seeded stream of single WAND queries (every
                 shape at least once), 32-query batches and repeated
                 cached queries from a bulk-built index.
``ingest-mixed`` starts from a small base index, commits one
                 ``add_documents`` delta, checks its needle, deletes
                 seeded docs, then serves a seeded stream of singles of
                 every shape, batches and cached queries over the
                 tombstoned segment set.

Each run's results are compared against the exhaustive ``search`` plan,
the planted needles and each other (see ``Gate``).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import sys
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

from corpus import BASE_SEED, IM_BASE_DOCS, QS_DOCS, QS_NEEDLES, make_corpus, make_query_pool, write_corpus
# modules, not functions: attributes are looked up at call time, so the
# traced run's wrappers apply
from open_source_search_engine_spark.operators import build, merge, stats, topk
from open_source_search_engine_spark.plans import exec as pexec
from open_source_search_engine_spark.streaming import incremental

K = 10
REL_TOL = 1e-9
QUERY_LIMIT_S = 30.0   # a query slower than this counts as failed (timeout)
WRITE_LIMIT_S = 120.0  # same for a build, delta commit or delete

# sizes of one run: each SECONDS_PER_PASS of --seconds adds one pass of
# the timed stream
SECONDS_PER_PASS = 6
BASES = {  # make_corpus arguments of each workload's base index
    "query-serve": (BASE_SEED, QS_DOCS, 0, QS_NEEDLES),
    "ingest-mixed": (BASE_SEED, IM_BASE_DOCS),
}
TRACED_BUILD = BASES["ingest-mixed"]  # the build the traced run splits per layer
BUILD_ARGS = {"n_shards": 2, "bigram_terms": True}
QUERY_SHAPES = ["and", "kwrare", "or", "neg", "phrase", "heavy"]  # all but needle
QS_SINGLES_PER_SHAPE = 3  # per pass, and one needle
QS_BATCHES = 7
QS_CACHED = ["and", "phrase"]  # shapes of the repeated use_cache queries
QS_CACHED_BURSTS = 8
QS_ORACLE = 3          # singles compared with the exhaustive plan, shapes rotate with the seed
IM_DELTA_DOCS = 40
IM_SINGLES_PER_SHAPE = 3
IM_BATCHES = 8
IM_CACHED_BURSTS = 8
CACHED_BURST = 10  # back-to-back use_cache hits per cached stream item
WARMUP_BATCHES = 2  # untimed; the first takes the query path's first-call costs


@dataclass
class Op:
    kind: str
    shape: str | None
    span: int | None
    wall: float
    traced: bool


@dataclass
class Run:
    """State of one benchmark run: the session, the optional tracer, the
    operation log and the attempted/failed accounting."""

    spark: object
    work: str
    seed: int
    seconds: int
    cache_dir: str
    tracer: object | None = None
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    ops: list[Op] = field(default_factory=list)
    samples: dict[str, list[float]] = field(default_factory=lambda: defaultdict(list))
    extra: dict[str, float] = field(default_factory=dict)
    n_wand: int = 0
    deadline: float = float("inf")  # perf_counter time past which operations are skipped

    @property
    def passes(self) -> int:
        return max(1, self.seconds // SECONDS_PER_PASS)

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.failures) < 50:
            self.failures.append(msg)
        print(f"FAILED: {msg}", file=sys.stderr, flush=True)

    def check(self, ok: bool, msg: str) -> bool:
        self.attempted += 1
        if not ok:
            self.fail(msg)
        return ok

    def op(self, kind: str, fn, shape: str | None = None, sample: str | None = None,
           limit: float = QUERY_LIMIT_S):
        """Run one operation; its wall time goes to ``samples[sample]``
        when it succeeds.  Returns the operation's result, or None when it
        raised or exceeded its time limit.  The traced run turns the
        engine-side wrappers off for every second ``wand`` operation to
        measure its own overhead.  Past the run's deadline an operation is
        not started and counts as failed, so the run still ends in time."""
        self.attempted += 1
        if time.perf_counter() > self.deadline:
            self.fail(f"{kind} {shape or ''}: not started, the run's time limit has passed")
            return None
        traced = True
        if kind == "wand":
            traced = self.n_wand % 2 == 0
            self.n_wand += 1
        tr = self.tracer
        if tr is not None:
            tr.enabled = traced
        ctx = tr.op(kind) if tr is not None else nullcontext()
        t0 = time.perf_counter()
        try:
            with ctx as sp:
                out = fn()
        except Exception:  # boundary: record it and keep the run going
            self.fail(f"{kind} {shape or ''}: {traceback.format_exc(limit=3)}")
            return None
        finally:
            if tr is not None:
                tr.enabled = True
        wall = time.perf_counter() - t0
        if wall > limit:
            self.fail(f"{kind} {shape or ''}: took {wall:.1f}s > {limit}s")
            return None
        self.ops.append(Op(kind, shape, sp.id if sp is not None else None, wall, traced))
        if sample is not None:
            self.samples[sample].append(wall)
        return out


def _ranked(rows) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def _close(x: float, y: float) -> bool:
    return abs(x - y) <= REL_TOL * max(abs(x), abs(y), 1e-12)


def same_ranking(a: list[tuple[int, float]], b: list[tuple[int, float]], cut: bool = True) -> bool:
    """Rank-identical doc ids with scores within ``REL_TOL``.  Docs whose
    scores tie within the tolerance may swap.  The last tie group's doc ids
    are compared too, unless the results fill k and ``cut`` says the group
    may continue past the k limit (then either side may hold any of its
    docs)."""
    if len(a) != len(b):
        return False
    if not all(_close(x[1], y[1]) for x, y in zip(a, b)):
        return False
    cut = cut and len(a) == K
    i = 0
    while i < len(a):
        j = i + 1
        while j < len(a) and _close(a[j][1], a[i][1]):
            j += 1
        if (j < len(a) or not cut) and {d for d, _ in a[i:j]} != {d for d, _ in b[i:j]}:
            return False
        i = j
    return True


def dir_bytes(path: str) -> int:
    """Bytes of the files under ``path``, leaving out the snapshot logs
    (their commit timestamps vary in length from run to run)."""
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _d, fs in os.walk(path) if "_snapshots" not in r.split(os.sep)
        for f in fs
    )


class Engine:
    """Thin closures over the engine's public API for one index."""

    def __init__(self, run: Run, idx):
        self.run, self.idx = run, idx

    def wand(self, q: str, cache: bool = False, prune: bool = False):
        return topk.search_wand(
            self.run.spark, self.idx, q, k=K, use_cache=cache, with_prune_stats=prune
        ).collect()

    def exhaustive(self, q: str):
        """One row past k, so the gate knows whether the k-th result's tie
        group is cut by the k limit."""
        return pexec.search(self.run.spark, self.idx, q, k=K + 1).collect()

    def batch(self, qs: list[str]):
        rows = topk.search_wand_batch(self.run.spark, self.idx, qs, k=K).collect()
        out: dict[str, list] = {q: [] for q in qs}
        for r in rows:
            out[r["query"]].append(r)
        return out


# -- the gate ---------------------------------------------------------------

class Gate:
    """Result comparisons, made outside the timed operations; each is
    one attempted check."""

    def __init__(self, run: Run):
        self.run = run
        self.uncut: set[str] = set()  # queries whose k-th result ties nothing past k

    def same(self, got, want, what: str, q: str) -> bool:
        return self.run.check(
            got is not None and want is not None
            and same_ranking(_ranked(got), _ranked(want), cut=q not in self.uncut),
            f"{what}: {None if got is None else _ranked(got)[:3]} != "
            f"{None if want is None else _ranked(want)[:3]}",
        )

    def needle(self, rows, expect, what: str) -> bool:
        got = None if rows is None else sorted((r["repo"], r["path"]) for r in rows)
        return self.run.check(
            got == sorted(tuple(e) for e in expect), f"{what}: {got} != {expect}"
        )

    def oracle(self, eng: Engine, p: dict, got) -> None:
        """WAND top-k against the exhaustive ``search`` plan."""
        full = self.run.op("exhaustive", lambda: eng.exhaustive(p["q"]), shape=p["shape"])
        if full is not None:
            fr = _ranked(full)
            if len(fr) <= K or not _close(fr[K][1], fr[K - 1][1]):
                self.uncut.add(p["q"])
        self.same(got, None if full is None else full[:K], f"wand vs search {p['q']!r}", p["q"])

    def served(self, pool: list[dict], results: dict, single: dict) -> None:
        """Repeats, batches and cache hits agree with the first single of
        each query; needle singles return exactly their planted docs."""
        for p in pool:
            q = p["q"]
            if q not in single:
                continue
            for again in results[("wand", q)][1:]:
                self.same(again, single[q], f"repeat wand {q!r}", q)
            for rows in results.get(("cached", q), []):
                self.same(rows, single[q], f"cached vs uncached {q!r}", q)
            if p["shape"] == "needle":
                self.needle(single[q], p["expect"], f"needle {q!r}")
        for batch in results[("batch", "*")]:
            for q in single:
                self.same(None if batch is None else batch[q], single[q],
                          f"batch vs single {q!r}", q)


# -- shared pieces ----------------------------------------------------------

def source_key(params: tuple) -> str:
    """Hash of the engine's source and of a base corpus's parameters: a
    cached base index is only reused by the code that built it."""
    import open_source_search_engine_spark as pkg

    h = hashlib.sha256(repr((params, BUILD_ARGS)).encode())
    top = os.path.dirname(pkg.__file__)
    for path in sorted(glob.glob(os.path.join(top, "**", "*.py"), recursive=True)
                       + [os.path.join(os.path.dirname(__file__), "corpus.py")]):
        h.update(os.path.relpath(path, top).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def cache_path(cache_dir: str, workload: str) -> str:
    return os.path.join(cache_dir, source_key(BASES[workload]))


def bulk_build(run: Run, corpus, root: str):
    """``build_index`` of the whole corpus, then the build's checks:
    ``fsck_index`` is clean and docstats holds one row per source row."""
    spark = run.spark
    src = write_corpus(corpus, os.path.join(run.work, "build.parquet"))
    idx = run.op(
        "build", lambda: build.build_index(spark, spark.read.parquet(src), root, **BUILD_ARGS),
        limit=WRITE_LIMIT_S,
    )
    if idx is not None:
        fsck = stats.fsck_index(spark, idx)
        run.check(fsck["ok"], f"fsck: {fsck['issues']}")
        n = idx.docstats.read(spark).count()
        run.check(n == len(corpus.docs), f"docstats rows {n} != corpus rows {len(corpus.docs)}")
    return idx


def build_cache(run: Run, workload: str) -> bool:
    """Build ``workload``'s base index and store it in the cache; True when
    the build passed its checks.  Runs in its own process, before a
    measured run, so every measured run starts from the same cold state."""
    root = os.path.join(run.work, "index")
    idx = bulk_build(run, make_corpus(*BASES[workload]), root)
    if idx is None or run.failed:
        return False
    cached = cache_path(run.cache_dir, workload)
    tmp = f"{cached}.tmp{os.getpid()}"
    shutil.copytree(root, tmp)
    try:
        os.rename(tmp, cached)
    except OSError:  # another run cached it first
        shutil.rmtree(tmp, ignore_errors=True)
    return True


def traced_build(run: Run) -> None:
    """Traced run only, before the workload: one ``build_index`` of the
    300-doc base corpus, whose spans and jobs give the build's per-layer
    split."""
    bulk_build(run, make_corpus(*TRACED_BUILD), os.path.join(run.work, "traced-build"))


def base_index(run: Run, workload: str):
    """The index a workload starts from, built by ``build_index`` from the
    fixed base corpus of ``BASES``.  It depends only on the engine's code,
    so every run copies the checkout's cached build.  Returns (index,
    corpus); the index is None when it is not available."""
    corpus = make_corpus(*BASES[workload])
    root = os.path.join(run.work, "index")
    cached = cache_path(run.cache_dir, workload)
    if not os.path.isdir(cached):
        run.check(False, f"no cached base index at {cached}")
        return None, corpus
    shutil.copytree(cached, root)
    return build.Index(root), corpus


def by_shape(pool: list[dict]) -> dict[str, list[dict]]:
    out: dict[str, list[dict]] = defaultdict(list)
    for p in pool:
        out[p["shape"]].append(p)
    return out


def serve(run: Run, eng: Engine, stream: list, queries: list[str], rng) -> dict:
    """Run a timed stream of ``("wand", p)``, ``("batch", None)`` and
    ``("cached", p)`` operations in order.  A batch asks for every pool
    query in a seeded order.  A query's first ``cached`` item is one
    ``use_cache`` call, a miss, and is not sampled; each later item is a
    burst of ``CACHED_BURST`` back-to-back hits, each one sample.  Returns
    every result by (kind, query)."""
    results: dict[tuple[str, str], list] = defaultdict(list)
    primed: set[str] = set()
    for kind, p in stream:
        if kind == "wand":
            rows = run.op("wand", lambda: eng.wand(p["q"]), shape=p["shape"], sample="wand")
        elif kind == "batch":
            order = [queries[i] for i in rng.permutation(len(queries))]
            rows = run.op("batch", lambda: eng.batch(order), sample="batch")
            p = {"q": "*"}
        elif p["q"] not in primed:
            primed.add(p["q"])
            rows = run.op("cached_miss", lambda: eng.wand(p["q"], cache=True),
                          shape=p["shape"])
        else:
            for _ in range(CACHED_BURST):
                results[(kind, p["q"])].append(
                    run.op("cached", lambda: eng.wand(p["q"], cache=True),
                           shape=p["shape"], sample="cached"))
            continue
        results[(kind, p["q"])].append(rows)
    return results


def warm_up(run: Run, eng: Engine, queries: list[str]) -> None:
    for _ in range(WARMUP_BATCHES):
        run.op("warmup", lambda: eng.batch(queries))


def interleave(*streams: list) -> list:
    """Merge operation lists evenly: item j of a list of n lands at
    (j + 0.5) / n of the stream.  The positions do not depend on the seed,
    so every run warms up along the same operation sequence."""
    keyed = [((j + 0.5) / len(s), k, j) for k, s in enumerate(streams) for j in range(len(s))]
    return [streams[k][j] for _pos, k, j in sorted(keyed)]


def first_singles(results: dict) -> dict[str, list]:
    return {q: rs[0] for (kind, q), rs in results.items() if kind == "wand"}


def prune_probe(run: Run, eng: Engine, pool: list[dict]) -> None:
    """Traced run only: one ``with_prune_stats`` query per shape."""
    skipped = considered = 0
    for ps in by_shape(pool).values():
        p = ps[0]
        rows = run.op("probe", lambda: eng.wand(p["q"], prune=True), shape=p["shape"])
        if rows:
            skipped += rows[0]["blocks_skipped"]
            considered += rows[0]["blocks_scored"] + rows[0]["blocks_skipped"]
    if considered:
        run.extra["wand.prune_ratio"] = skipped / considered


def pick(shapes: dict[str, list[dict]], names: list[str], per_shape: int, rng) -> list[dict]:
    """``per_shape`` pool queries of each shape in ``names``, consecutive
    from a seeded offset: the shape mix of a run does not depend on the
    seed."""
    out = []
    for sh in names:
        ps = shapes[sh]
        at = int(rng.integers(len(ps)))
        out += [ps[(at + i) % len(ps)] for i in range(per_shape)]
    return out


def rotated(seed: int, n: int) -> list[str]:
    """``n`` query shapes, starting at a seeded offset, so consecutive seeds
    put different shapes through the exhaustive gate."""
    return [QUERY_SHAPES[(seed + i) % len(QUERY_SHAPES)] for i in range(n)]


# -- query-serve ------------------------------------------------------------

def query_serve(run: Run) -> None:
    rng = np.random.default_rng([run.seed, 1])
    t_setup = time.perf_counter()
    idx, corpus = base_index(run, "query-serve")
    if idx is None:
        return
    pool = make_query_pool(run.seed, corpus)
    run.extra["index_bytes_per_source_byte"] = dir_bytes(idx.root) / corpus.content_bytes
    run.extra["index.postings_segments"] = len(idx.postings.latest().segments)

    eng, gate = Engine(run, idx), Gate(run)
    queries = [p["q"] for p in pool]
    shapes = by_shape(pool)
    # the warm-up batches (untimed passes over the pool) take the query
    # path's first-call costs and part of its JIT warm-up
    warm_up(run, eng, queries)
    run.extra["setup_s"] = time.perf_counter() - t_setup

    # the timed stream: seeded singles, with batches and cached queries
    # spread evenly between them
    singles = (pick(shapes, QUERY_SHAPES, QS_SINGLES_PER_SHAPE, rng)
               + pick(shapes, ["needle"], 1, rng))
    singles = [singles[i] for i in rng.permutation(len(singles))]
    first = {}
    for p in singles:
        first.setdefault(p["shape"], p)
    cached = [first[sh] for sh in QS_CACHED]
    n = run.passes
    stream = interleave(
        [("wand", p) for p in singles] * n,
        [("batch", None)] * (QS_BATCHES * n),
        [("cached", cached[i % len(cached)]) for i in range(QS_CACHED_BURSTS * n + len(cached))],
    )
    t_timed = time.perf_counter()
    results = serve(run, eng, stream, queries, rng)
    run.extra["workload_s"] = time.perf_counter() - t_timed

    # -- gate (untimed) --
    single = first_singles(results)
    for sh in rotated(run.seed, QS_ORACLE):
        gate.oracle(eng, first[sh], single.get(first[sh]["q"]))
    gate.served(pool, results, single)
    if run.tracer is not None:
        prune_probe(run, eng, pool)


# -- ingest-mixed -----------------------------------------------------------

def ingest_mixed(run: Run) -> None:
    spark = run.spark
    rng = np.random.default_rng([run.seed, 2])
    t_setup = time.perf_counter()
    idx, base = base_index(run, "ingest-mixed")
    if idx is None:
        return
    pool = make_query_pool(run.seed, base)
    delta = make_corpus(run.seed, IM_DELTA_DOCS, start=IM_BASE_DOCS, n_needles=1, tag="delta")
    delta_src = write_corpus(delta, os.path.join(run.work, "delta.parquet"))
    eng, gate = Engine(run, idx), Gate(run)
    queries = [p["q"] for p in pool]
    shapes = by_shape(pool)
    # the warm-up batches take the query path's first-call costs; the
    # write path's fall in the timed delta (a warm-up delta does not fit
    # the run budget)
    warm_up(run, eng, queries)
    run.extra["setup_s"] = time.perf_counter() - t_setup

    # the top docs of the AND query that matches the most base docs are
    # deleted: results remain after the delete, so the cached query's
    # hits are timed on a non-empty result like query-serve's
    singles = pick(shapes, QUERY_SHAPES, IM_SINGLES_PER_SHAPE, rng)
    words = [set(c.split()) for c in base.docs["content"]]
    ands = [p for p in singles if p["shape"] == "and"]
    victim = max(ands, key=lambda p: sum(set(p["q"].split()) <= w for w in words))

    t_timed = time.perf_counter()
    run.op("delta", lambda: incremental.add_documents(spark, idx, spark.read.parquet(delta_src)),
           limit=WRITE_LIMIT_S)
    run.extra["index.postings_segments"] = len(idx.postings.latest().segments)
    (tok, expect), = delta.needles.items()
    found = run.op("wand", lambda: eng.wand(tok), shape="needle")
    gate.needle(found, expect, f"delta needle {tok!r} right after its commit")
    before = run.op("wand", lambda: eng.wand(victim["q"]), shape=victim["shape"])
    victims = [d for d, _ in _ranked(before or [])[:3]]
    run.op("delete", lambda: merge.delete_docs(spark, idx, victims), limit=WRITE_LIMIT_S)

    n = run.passes
    singles = [singles[i] for i in rng.permutation(len(singles))]
    stream = interleave(
        [("wand", p) for p in singles] * n,
        [("batch", None)] * (IM_BATCHES * n),
        [("cached", victim)] * (IM_CACHED_BURSTS * n + 1),
    )
    results = serve(run, eng, stream, queries, rng)
    run.extra["workload_s"] = time.perf_counter() - t_timed

    # -- gate (untimed): deleted ids never appear, and WAND matches the
    # exhaustive plan over the tombstoned segment set
    gone = set(victims)
    for (kind, q), rs in results.items():
        for rows in rs:
            got = rows.values() if isinstance(rows, dict) else [rows or []]
            hit = {d for r in got for d, _ in _ranked(r)} & gone
            run.check(not hit, f"deleted ids {sorted(hit)} returned by {kind} {q!r}")
    single = first_singles(results)
    gate.oracle(eng, victim, single.get(victim["q"]))
    gate.served(pool, results, single)
    run.extra["index_bytes_per_source_byte"] = (
        dir_bytes(idx.root) / (base.content_bytes + delta.content_bytes))
    if run.tracer is not None:
        prune_probe(run, eng, pool)


WORKLOADS = {"query-serve": query_serve, "ingest-mixed": ingest_mixed}
