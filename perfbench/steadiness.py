"""Steadiness record: run each workload on several seeds and report, per
end-to-end metric, the spread between the first and third quartile as a
share of the median; then run the traced run twice at one seed and check
that every exact count repeats.

    python3 perfbench/steadiness.py --runs 10 --out perfbench/steadiness.json

Runs are sequential, from the repository root, with the ``command`` and
``run_seconds`` of ``BENCHMARK.json``.  With ``--against FIRST.json`` the
summary also compares this record's medians with an earlier record's, in
both orders: how much worse each set is than the other.  ``--summarize``
writes the summary of an existing record without running anything.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# per-layer metrics that must repeat exactly at a fixed seed and core count
EXACT_UNITS = {"count"}
EXACT_EXTRA = {"index.bytes_per_source_byte"}


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if lines else {}
    diag = json.loads(lines[0]).get("diagnostics", {}) if len(lines) > 1 else {}
    print(f"{workload} seed={seed} trace={trace} exit={p.returncode} wall={wall:.1f}s "
          f"correct={res.get('correct')} failed={res.get('failed')}", file=sys.stderr, flush=True)
    return {"seed": seed, "exit": p.returncode, "wall_s": wall, "result": res, "diagnostics": diag}


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "iqr_share": (q3 - q1) / med if med else 0.0,
            "values": values}


def summary(record: dict) -> str:
    out = [
        "| workload | metric | median | q1 | q3 | (q3-q1)/median | bound | < bound/3 |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for w, rec in record["workloads"].items():
        for m, sp in rec["metrics"].items():
            out.append(
                f"| {w} | {m} | {sp['median']:.4g} | {sp['q1']:.4g} | {sp['q3']:.4g} | "
                f"{sp['iqr_share']:.3f} | {sp['bound']} | {'yes' if sp['within_third_of_bound'] else 'no'} |"
            )
        if "host.cpu_burn_ms" in rec:
            sp = rec["host.cpu_burn_ms"]
            out.append(f"| {w} | host.cpu_burn_ms (diagnostic) | {sp['median']:.4g} | "
                       f"{sp['q1']:.4g} | {sp['q3']:.4g} | {sp['iqr_share']:.3f} | - | - |")
    out.append("")
    for w, rec in record["workloads"].items():
        n = len(rec["runs"])
        out.append(f"- {w}: {n} runs, all correct: {rec['all_correct']}, "
                   f"median wall {rec['wall_s']['median']:.1f} s")
        if "exact" in rec:
            ex = rec["exact"]
            out.append(f"  - traced pair at seed {ex['seed']}: {len(ex['values'])} exact counts, "
                       f"repeat: {ex['repeat']}{'' if ex['repeat'] else ' (differ: ' + ', '.join(ex['differ']) + ')'}; "
                       f"traced wall {', '.join(f'{x:.0f}' for x in ex['traced_wall_s'])} s")
    return "\n".join(out) + "\n"


def worse(base: float, other: float, better: str) -> float:
    """Share by which ``other`` is worse than ``base`` (negative: better)."""
    return other / base - 1 if better == "lower" else base / other - 1


def agreement(first: dict, second: dict, bench: dict) -> str:
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    out = [
        "| workload | metric | first median | second median | second worse by | first worse by | bound |",
        "|---|---|---|---|---|---|---|",
    ]
    for w, rec in second["workloads"].items():
        for m, sp in rec["metrics"].items():
            base = first["workloads"].get(w, {}).get("metrics", {}).get(m)
            if base is None:
                continue
            b, o, better = base["median"], sp["median"], metrics[m]["better"]
            out.append(f"| {w} | {m} | {b:.4g} | {o:.4g} | {worse(b, o, better):+.3f} | "
                       f"{worse(o, b, better):+.3f} | {metrics[m]['bound']} |")
    return "\n".join(out) + "\n"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--exact-seed", type=int, default=3, help="seed of the traced pair; -1 skips")
    ap.add_argument("--out", required=True)
    ap.add_argument("--md", help="also write a markdown summary here")
    ap.add_argument("--against", help="an earlier record to compare medians with")
    ap.add_argument("--summarize", action="store_true",
                    help="write the summary of --out without running anything")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = a.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"run_seconds": bench["run_seconds"], "workloads": {}}
    if a.summarize:
        with open(a.out) as f:
            record = json.load(f)
        names = []
    for w in names:
        runs = [run_once(bench, w, s, 0) for s in range(a.first_seed, a.first_seed + a.runs)]
        rec = {"runs": runs, "metrics": {}}
        for m in bounds:
            vals = [r["result"]["metrics"][m]["value"] for r in runs
                    if m in r["result"].get("metrics", {})]
            if len(vals) >= 2:
                sp = spread(vals)
                sp["bound"] = bounds[m]
                sp["within_third_of_bound"] = sp["iqr_share"] < bounds[m] / 3
                rec["metrics"][m] = sp
        burns = [r["diagnostics"].get("host.cpu_burn_ms") for r in runs]
        if all(burns):
            rec["host.cpu_burn_ms"] = spread(burns)
        rec["all_correct"] = all(r["result"].get("correct") for r in runs)
        rec["wall_s"] = spread([r["wall_s"] for r in runs])
        if a.exact_seed >= 0:
            pair = [run_once(bench, w, a.exact_seed, 1) for _ in range(2)]
            ms = [p["result"].get("metrics", {}) for p in pair]
            exact = {
                k: [m[k]["value"] for m in ms]
                for k in ms[0]
                if ms[0][k]["unit"] in EXACT_UNITS or k in EXACT_EXTRA
            }
            rec["exact"] = {
                "seed": a.exact_seed,
                "values": exact,
                "repeat": all(len(set(v)) == 1 for v in exact.values()),
                "differ": sorted(k for k, v in exact.items() if len(set(v)) > 1),
                "traced_wall_s": [p["wall_s"] for p in pair],
                "traced_correct": [p["result"].get("correct") for p in pair],
            }
        record["workloads"][w] = rec
        with open(a.out, "w") as f:
            json.dump(record, f, indent=1)
    if a.md:
        with open(a.md, "w") as f:
            f.write(summary(record))
            if a.against:
                with open(a.against) as g:
                    f.write("\n" + agreement(json.load(g), record, bench))
    for w, rec in record["workloads"].items():
        for m, sp in rec["metrics"].items():
            print(f"{w:14s} {m:30s} median={sp['median']:.4g} iqr/median={sp['iqr_share']:.4f} "
                  f"bound={sp['bound']}", file=sys.stderr)
        if "exact" in rec:
            print(f"{w:14s} exact counts repeat: {rec['exact']['repeat']} {rec['exact']['differ']}",
                  file=sys.stderr)


if __name__ == "__main__":
    main()
