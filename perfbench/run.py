"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload query-serve --seed 1 --seconds 6 --trace 0

Run from the repository root.  The engine runs in this process on
``get_spark(cores=nproc)``; everything the run writes (inputs, index,
Spark scratch space, temp files) stays under ``.bench_build/`` in the
repository root and is removed at the end.  Diagnostics go to stderr and
to stdout lines before the last; the last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
split from a separate traced run.  The metric names and units are listed
in ``BENCHMARK.json``.

A run copies its workload's base index from a per-checkout cache; when the cache is missing, a separate process (this script with
``--build-cache``) builds it first, so every measured session starts from
the same cold state.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = os.path.join(ROOT, "open_source_search_engine_spark")
# measured from the end of the base-index cache build (a checkout's first
# run may take longer)
OPS_LIMIT_S = 150.0  # start no operation past this point
RUN_LIMIT_S = 170.0  # cancel outstanding Spark jobs past this point
CACHE_BUILD_LIMIT_S = 600.0


def cpu_burn_ms() -> float:
    """Fixed single-thread CPU work, timed: drift in this figure between
    runs is the host's, not the program's."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    return (time.perf_counter() - t0) * 1e3


def prepare_env(work: str) -> None:
    """Keep the engine's scratch space inside the checkout and make the
    package importable in Spark's Python workers."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, [
        os.environ.get("SPARK_SUBMIT_OPTS", ""),
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-XX:-UsePerfData",
    ]))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH", "")])
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def usable_cores() -> int:
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def ensure_cache(workload: str, cache: str) -> None:
    """Build ``workload``'s base index into the cache in a separate process
    unless it is there.  A failed build leaves no cache entry, and the run
    that needs it counts that as a failed operation."""
    import workloads

    if os.path.isdir(workloads.cache_path(cache, workload)):
        return
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", "0", "--seconds", "1", "--build-cache"]
    try:
        subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, timeout=CACHE_BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"base index cache build for {workload} timed out", file=sys.stderr)


def end_to_end(run, session_start_s: float) -> dict[str, tuple[float, str]]:
    s = run.samples
    med = statistics.median
    return {
        "setup_s": (session_start_s + run.extra["setup_s"], "s"),
        "workload_s": (run.extra["workload_s"], "s"),
        "index_bytes_per_source_byte": (run.extra["index_bytes_per_source_byte"], "ratio"),
        "wand_p50_ms": (1e3 * med(s["wand"]), "ms"),
        "batch_qps": (32.0 / med(s["batch"]), "1/s"),
        "cached_p50_ms": (1e3 * med(s["cached"]), "ms"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["query-serve", "ingest-mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--build-cache", action="store_true", help=argparse.SUPPRESS)
    a = ap.parse_args()
    if not os.path.isdir(PKG):
        print(f"engine package not found at {PKG}; run from a full checkout",
              file=sys.stderr)
        return 2

    # everything native (JVM, Spark workers) writes to stderr; only this
    # process's own result lines reach stdout
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    work = os.path.join(ROOT, ".bench_build", "perfbench", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    sys.path.insert(0, ROOT)
    cache = os.path.join(ROOT, ".bench_build", "perfbench-cache")
    if a.build_cache:
        return build_cache(a.workload, work, cache)
    ensure_cache(a.workload, cache)
    t_start = time.perf_counter()
    burn_before = cpu_burn_ms()

    import workloads
    from open_source_search_engine_spark import session

    cores = usable_cores()
    t0 = time.perf_counter()
    spark = session.get_spark(cores=cores)
    session_start_s = time.perf_counter() - t0

    tracer = None
    if a.trace:
        from tracing import Tracer

        tracer = Tracer(spark)
        tracer.install()
    run = workloads.Run(spark, work, a.seed, a.seconds, cache, tracer,
                        deadline=t_start + OPS_LIMIT_S)
    watchdog = threading.Timer(RUN_LIMIT_S - (time.perf_counter() - t_start),
                               spark.sparkContext.cancelAllJobs)
    watchdog.daemon = True
    watchdog.start()
    try:
        if tracer is not None:
            workloads.traced_build(run)
        workloads.WORKLOADS[a.workload](run)
        metrics = None
        try:
            if tracer is not None:
                from layers import per_layer

                traces = os.path.join(ROOT, ".bench_build", "perfbench-traces")
                os.makedirs(traces, exist_ok=True)
                metrics = per_layer(run, tracer, session_start_s,
                                    os.path.join(traces, f"{a.workload}-{a.seed}.json"))
            else:
                metrics = end_to_end(run, session_start_s)
        except (KeyError, ValueError, statistics.StatisticsError) as e:
            run.fail(f"metrics incomplete: {e!r}")
    finally:
        watchdog.cancel()
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    for o in run.ops:
        print(f"op {o.kind:<12} {o.shape or '':<8} {o.wall * 1e3:10.1f} ms", file=sys.stderr)
    burn_after = cpu_burn_ms()
    host = {
        "host.cores": (float(cores), "count"),
        "host.cpu_burn_ms": (statistics.median([burn_before, burn_after]), "ms"),
        "host.cpu_burn_drift": (burn_after / burn_before, "ratio"),
    }
    if tracer is not None and metrics is not None:
        metrics.update(host)
    else:
        print(json.dumps({"diagnostics": {k: v for k, (v, _u) in host.items()},
                          "workload": a.workload, "seed": a.seed}), file=out)
    if run.failures:
        print(json.dumps({"failures": run.failures[:10]}), file=out)
    result = {
        "correct": run.failed == 0 and metrics is not None,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in (metrics or {}).items()},
    }
    print(json.dumps(result), file=out, flush=True)
    return 0


def build_cache(workload: str, work: str, cache: str) -> int:
    """``--build-cache``: build the base index into the cache; exit 0 when
    it passed the build checks."""
    import workloads
    from open_source_search_engine_spark import session

    spark = session.get_spark(cores=usable_cores())
    try:
        ok = workloads.build_cache(workloads.Run(spark, work, 0, 0, cache), workload)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
