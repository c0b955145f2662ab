"""Publish / curate / serve benchmark for lp_etl_plugins_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload publish --seed 1 --seconds 6 --trace 0

One closed-loop client drives the package's public API on inputs
generated from ``--seed`` (``perfbench/gen.py``), checks every output
and prints, as the last line of standard output, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (spans and
Spark counters around every call; spans are written to
``.perfbench/spans/``). The line before it is the run's steadiness
report: quartiles and sample count of every named per-call latency
and, in a traced run, whether each per-call counter repeated exactly.

``--smoke`` runs one pass at tiny sizes;
``--workload all`` (smoke only) runs every workload in one session and
prints one result line per workload with both metric sets.

Workload sizes, session settings and the per-layer → end-to-end map are
in ``perfbench/workloads.json``. Everything the run writes stays under
``.perfbench/`` in the checkout; the scratch part is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(HERE, "workloads.json")
GEN_REPEATS = 3

# per-layer metrics (traced run): name → unit
_DCAT_PHASES = {"build_s": "s", "plan_s": "s", "exec_s": "s", "jobs": "count",
                "shuffle_bytes": "bytes", "gc_ms": "ms"}
_INC = {"s": "s", "jobs": "count", "ms_per_job": "ms", "input_bytes": "bytes", "gc_ms": "ms"}
_VEC = {"s": "s", "jobs": "count", "tasks": "count", "input_bytes": "bytes"}
LAYERS = ("model", "dcat", "cube", "incremental", "textops", "lease", "maintenance", "vectorops")
PER_LAYER: dict[str, str] = {
    "model.parse.s": "s", "model.parse.jobs": "count", "model.parse.input_bytes": "bytes",
    "model.scans.count": "count",
    **{f"dcat.{op}.{c}": u for op in ("ckan", "dkan", "orgs") for c, u in _DCAT_PHASES.items()},
    "dcat.extract_datasets.s": "s", "dcat.extract_distributions.s": "s",
    "dcat.merge.s": "s", "dcat.sink.s": "s", "dcat.orgs.udf_s": "s",
    "cube.extract_spec.s": "s", "cube.extract_spec.jobs": "count",
    **{f"cube.compile.{c}": u for c, u in _DCAT_PHASES.items() if c != "shuffle_bytes"},
    "cube.sink.s": "s",
    **{f"incremental.{op}.{c}": u for op in ("build", "update", "retract", "read", "asof", "compact")
       for c, u in _INC.items()},
    **{f"textops.{op}.{c}": u
       for op in ("dedup_update", "dedup_append_saved", "dedup_retract", "dedup_retract_saved")
       for c, u in (("s", "s"), ("jobs", "count"))},
    "textops.store.files": "count", "textops.store.bytes": "bytes", "textops.store.write_amp": "ratio",
    "lease.acquire.count": "count", "lease.acquire.wait_s": "s",
    "maintenance.vacuum.s": "s", "maintenance.vacuum.jobs": "count",
    **{f"vectorops.{op}.{c}": u for op in ("save", "load", "search", "append", "retract", "compact")
       for c, u in _VEC.items()},
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.overhead_share": "ratio", "trace.items_per_s": "1/s",
}
END_TO_END = {"setup_s": "s", "items_per_s": "1/s", "peak_rss_mb": "MB", "op_geomean_s": "s"}


def _prepare_env(work: str, memory: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR on next use
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = memory
    # no JVM perf-data files in the host's /tmp: spark-submit's launcher
    # JVM here, the driver JVM through its java options below
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.local.dir={local}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # a fixed, pre-touched heap: peak RSS then measures what lives
        # outside it (metaspace, code cache, buffers, the Pythons)
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -Xms{memory} -XX:+AlwaysPreTouch "
        "-XX:-UsePerfData'",
        "pyspark-shell",
    ])


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Summed VmHWM of this process, its JVM and the Python workers."""
    kb = 0
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def _quartiles(vals: list[float]) -> dict:
    if len(vals) == 1:
        q = [vals[0]] * 3
    else:
        q = statistics.quantiles(vals, n=4, method="inclusive")
    return {"q1": q[0], "median": statistics.median(vals), "q3": q[2], "n": len(vals)}


def end_to_end(w, run, setup_s: float) -> dict:
    meds = [statistics.median(run.samples[f"{op}_s"]) for op in w.spec["ops"]
            if run.samples.get(f"{op}_s")]
    vals = {
        "setup_s": setup_s,
        "items_per_s": run.items / run.busy_s if run.busy_s else 0.0,
        "peak_rss_mb": peak_rss_mb(),
        "op_geomean_s": math.exp(statistics.fmean(math.log(m) for m in meds)) if meds else 0.0,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def per_layer(run, passes: int) -> dict:
    tr = run.tracer
    med = tr.median
    vals = {name: 0.0 for name in PER_LAYER}

    def spans_to(span: str, keys) -> None:
        for k in keys:
            vals[f"{span}.{k}"] = med(span, k)

    spans_to("model.parse", ("s", "jobs", "input_bytes"))
    for op in ("ckan", "dkan", "orgs"):
        spans_to(f"dcat.{op}", _DCAT_PHASES)
    vals["dcat.extract_datasets.s"] = med("dcat.extract_datasets")
    vals["dcat.extract_distributions.s"] = med("dcat.extract_distributions")
    vals["dcat.merge.s"] = med("dcat.ckan_noop", "exec_s") - med("dcat.ckan_nolive", "exec_s")
    vals["dcat.sink.s"] = med("dcat.ckan", "exec_s") - med("dcat.ckan_noop", "exec_s")
    vals["dcat.orgs.udf_s"] = med("dcat.orgs", "exec_s") - med("dcat.extract_datasets")
    spans_to("cube.extract_spec", ("s", "jobs"))
    spans_to("cube.compile", ("build_s", "plan_s", "exec_s", "jobs", "gc_ms"))
    vals["cube.sink.s"] = med("cube.compile", "exec_s") - med("cube.compile_noop", "exec_s")
    for op in ("build", "update", "retract", "read", "asof", "compact"):
        name = f"incremental.{op}"
        spans_to(name, ("s", "jobs", "input_bytes", "gc_ms"))
        per_job = [1000 * s["s"] / s["jobs"] for s in tr.named(name) if s.get("jobs")]
        vals[f"{name}.ms_per_job"] = statistics.median(per_job) if per_job else 0.0
    for op in ("dedup_update", "dedup_append_saved", "dedup_retract", "dedup_retract_saved"):
        spans_to(f"textops.{op}", ("s", "jobs"))
    spans_to("maintenance.vacuum", ("s", "jobs"))
    for op in ("save", "load", "search", "append", "retract", "compact"):
        spans_to(f"vectorops.{op}", _VEC)
    vals["lease.acquire.count"] = len(tr.named("lease.acquire")) / max(passes, 1)
    vals["lease.acquire.wait_s"] = med("lease.acquire")
    for name, vs in run.layer.items():
        vals[name] = statistics.median(vs)
    for layer, s in tr.self_times().items():
        if f"{layer}.self_s" in vals:
            vals[f"{layer}.self_s"] = s / max(passes, 1)
    vals["trace.overhead_share"] = tr.overhead_s / max(time.perf_counter() - tr._t0, 1e-9)
    vals["trace.items_per_s"] = run.items / run.busy_s if run.busy_s else 0.0
    return {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in vals.items()}


def steadiness(run) -> dict:
    """Per-run report: quartiles of every named per-call latency, and for
    each traced per-call counter whether it repeated exactly."""
    rep = {"latency_s": {k: _quartiles(v) for k, v in sorted(run.samples.items())},
           "checks": dict(sorted(run.checks.items()))}
    if run.traced:
        by: dict[str, list] = {}
        for s in run.tracer.spans:
            if s["timed"] and "jobs" in s:
                for c in ("jobs", "tasks"):
                    by.setdefault(f"{s['name']}.{c}", []).append(s[c])
        rep["counters"] = {k: {"values": v, "exact": len(set(v)) == 1} for k, v in sorted(by.items())}
    return rep


def bench(spark, session_s: float, name: str, seed: int, seconds: float, traced: bool,
          smoke: bool, work: str) -> tuple[dict, dict]:
    import spans as T
    import workloads as W

    with open(SPEC) as f:
        spec = json.load(f)["workloads"][name]
    run_id = f"{name}-{seed}-{os.getpid()}"
    tracer = T.Tracer(T.Counters(spark), run_id) if traced else T.NullTracer()
    run = W.Run(spark, tracer, os.path.join(work, name), traced)
    os.makedirs(run.work, exist_ok=True)
    w = W.WORKLOADS[name](run, spec, spec["smoke_sizes" if smoke else "sizes"], seed)
    undo = []
    if traced:
        from lp_etl_plugins_spark import lease
        from lp_etl_plugins_spark import textops

        for m, span in (("update", "dedup_update"), ("append_saved", "dedup_append_saved"),
                        ("retract", "dedup_retract"), ("retract_saved", "dedup_retract_saved")):
            undo.append(T.wrap_method(tracer, textops.DedupIndex, m, f"textops.{span}"))
        undo.append(T.wrap_lease(tracer, lease))
    try:
        phases = W.run_workload(w, seconds, 1 if smoke else GEN_REPEATS)
    finally:
        for u in reversed(undo):
            u()
    setup_s = session_s + phases["gen_s"]
    phases["settle_s"] = run.settle_s
    result = {"workload": name, "passes": w.passes, "phases": phases, **steadiness(run)}
    metrics = {}
    if smoke or not traced:
        metrics.update(end_to_end(w, run, setup_s))
    if traced:
        metrics.update(per_layer(run, w.passes))
        spans_dir = os.path.join(ROOT, ".perfbench", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.write(os.path.join(spans_dir, f"{run_id}.jsonl"))
        result["self_s"] = tracer.self_times()
    if run.failures:
        result["failures"] = run.failures[:20]
    out = {"correct": run.failed == 0 and run.attempted > 0, "attempted": run.attempted,
           "failed": run.failed, "metrics": metrics}
    return result, out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    a = p.parse_args(argv)

    with open(SPEC) as f:
        spec = json.load(f)
    names = list(spec["workloads"]) if a.workload == "all" and a.smoke else [a.workload]
    unknown = [n for n in names if n not in spec["workloads"]]
    if unknown:
        print(f"unknown workload {unknown}; choose from {sorted(spec['workloads'])}", file=sys.stderr)
        return 2
    # fail fast, before starting anything, outside a full checkout
    sys.path.insert(0, HERE)
    from workloads import FDP_DESCRIPTOR

    if not os.path.isfile(FDP_DESCRIPTOR) or not os.path.isdir(os.path.join(ROOT, "lp_etl_plugins_spark")):
        print("perfbench: run from the root of a full checkout (package or FDP fixture missing)",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    _prepare_env(work, spec["session"]["driver_memory"])
    sys.path.insert(0, ROOT)
    try:
        t = time.perf_counter()
        from lp_etl_plugins_spark.session import get_spark

        spark = get_spark("perfbench", cpus=spec["session"]["cpus"])
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        try:
            outs = []
            for name in names:
                report, out = bench(spark, session_s, name, a.seed, 0 if a.smoke else a.seconds,
                                    bool(a.trace), a.smoke, work)
                print(json.dumps({"report": report}, sort_keys=True), flush=True)
                print(_summary(report, out), file=sys.stderr)
                outs.append(out)
        finally:
            _shutdown(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for out in outs:
        print(json.dumps(out, sort_keys=True), flush=True)
    return 0


def _summary(report: dict, out: dict) -> str:
    lines = [f"# {report['workload']}: {report['passes']} timed passes, "
             f"{out['attempted']} calls, {out['failed']} failed"]
    for k, q in report["latency_s"].items():
        lines.append(f"#   {k:<12} median {q['median']:.3f}  q1 {q['q1']:.3f}  q3 {q['q3']:.3f}  n={q['n']}")
    for k, v in sorted(out["metrics"].items()):
        if not k.endswith((".input_bytes", ".shuffle_bytes", ".tasks")):
            lines.append(f"#   {k} = {v['value']:.4g} {v['unit']}")
    return "\n".join(lines)


if __name__ == "__main__":
    sys.exit(main())
