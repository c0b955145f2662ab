"""Steadiness report across runs of ``perfbench/run.py``.

    python3 perfbench/report.py --workloads publish curate serve --seeds 1 2 3 4 5 [--trace]

Runs the benchmark once per (workload, seed), one run at a time, and
prints per workload and end-to-end metric the ten-run style spread the
benchmark is judged by: first and third quartile as
``statistics.quantiles(values, n=4)`` gives them, their distance as a
share of the median, and that share against the metric's bound from
``BENCHMARK.json``. With ``--trace`` it makes the traced runs instead
and reports, per per-layer counter, whether it repeated exactly across
runs (only exact counters can back a count-based claim), plus the
tracing overhead as traced ``items_per_s`` against the untraced runs
when ``--untraced-json`` names an earlier report.
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


def run_once(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, float]:
    t = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1" if trace else "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False,
    )
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
    out = json.loads(lines[-1])
    if len(lines) > 1:
        out["report"] = json.loads(lines[-2]).get("report", {})
    return out, wall


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf"),
            "n": len(values)}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", nargs="+", required=True)
    p.add_argument("--seeds", nargs="+", type=int, required=True)
    p.add_argument("--trace", action="store_true")
    p.add_argument("--untraced-json", help="an earlier untraced report, for the tracing overhead")
    p.add_argument("--json", help="write the raw runs and the summary here")
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs: dict[str, list[dict]] = {}
    summary: dict[str, dict] = {}
    for w in a.workloads:
        runs[w] = []
        for seed in a.seeds:
            out, wall = run_once(w, seed, bench["run_seconds"], a.trace)
            out["wall_s"] = wall
            runs[w].append(out)
            print(f"{w} seed {seed}: wall {wall:.1f}s correct={out['correct']} "
                  f"attempted={out['attempted']} failed={out['failed']}", file=sys.stderr, flush=True)
        names = sorted(runs[w][0]["metrics"])
        summary[w] = {"wall_s": spread([r["wall_s"] for r in runs[w]]),
                      "failed": sum(r["failed"] for r in runs[w]),
                      "attempted": sum(r["attempted"] for r in runs[w])}
        if a.trace:
            summary[w]["exact_across_runs"] = {
                n: len({r["metrics"][n]["value"] for r in runs[w]}) == 1
                for n in names if n.endswith((".jobs", ".tasks", ".count", ".files"))}
            if a.untraced_json:
                with open(a.untraced_json) as f:
                    base = json.load(f)["summary"][w]["metrics"]["items_per_s"]["median"]
                traced = statistics.median(r["metrics"]["trace.items_per_s"]["value"] for r in runs[w])
                summary[w]["tracing_overhead"] = {"untraced_items_per_s": base,
                                                  "traced_items_per_s": traced,
                                                  "ratio": traced / base}
        else:
            summary[w]["metrics"] = {}
            for n in names:
                s = spread([r["metrics"][n]["value"] for r in runs[w]])
                s["bound"] = bounds.get(n)
                s["within_third_of_bound"] = bool(s["bound"]) and s["spread"] < s["bound"] / 3
                summary[w]["metrics"][n] = s
            lat: dict[str, list[float]] = {}
            for r in runs[w]:
                for k, q in r.get("report", {}).get("latency_s", {}).items():
                    lat.setdefault(k, []).append(q["median"])
            summary[w]["per_call_latency_s"] = {k: spread(v) for k, v in sorted(lat.items())
                                                if len(v) > 1}
    print(json.dumps(summary, indent=1, sort_keys=True))
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"runs": runs, "summary": summary}, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
