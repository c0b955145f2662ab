"""The three benchmark workloads, driven through the package's public API.

Each workload generates its inputs from the seed in a fresh session and
then repeats timed passes. Every call goes through
:meth:`Run.op`, which times it, and is followed by output checks
(:meth:`Run.check`) outside the timed region. In a traced run the same
calls are wrapped in spans and a few extra calls split the publish
components into their phases.
"""

from __future__ import annotations

import gc
import glob
import hashlib
import json
import os
import shutil
import statistics
import time
import traceback
from collections import defaultdict

from pyspark.sql import functions as F

import gen

EXISTING_SCHEMA = "dataset string, distro_url string, id string, raw_json string, url string"
# the committed FDP descriptor the cube component compiles against
FDP_DESCRIPTOR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "tests", "fixtures", "fdp", "descriptor.ttl")


def noop(df) -> None:
    """Materialise the whole plan and discard the rows (never count(),
    which lets the optimizer prune projections)."""
    df.write.format("noop").mode("overwrite").save()


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under a state directory."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def read_parts(path: str) -> list[str]:
    lines: list[str] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8") as f:
            lines.extend(line.rstrip("\n") for line in f)
    return lines


class Run:
    """State of one benchmark run: timed samples, item count, checks and
    (traced run) the tracer and per-layer values."""

    def __init__(self, spark, tracer, work: str, traced: bool) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.traced = traced
        self.timing = False  # False during set-up: calls run but are not sampled
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.items = 0
        self.busy_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, int] = defaultdict(int)
        self.failures: list[str] = []
        self.layer: dict[str, list[float]] = defaultdict(list)
        self._op_failed = False
        self._jvm = spark.sparkContext._jvm
        self.settle_s = 0.0  # heap settling before calls, outside the timings

    def op(self, metric: str, span: str | None, fn, items: int = 0, counted: bool = True):
        """One closed-loop call: settle both heaps, then time ``fn``
        (inside a span named ``span`` unless ``fn`` opens its own).
        ``counted`` calls make up the throughput's busy time."""
        t = time.perf_counter()
        gc.collect()
        self._jvm.System.gc()
        self.settle_s += time.perf_counter() - t
        self.attempted += 1
        self._op_failed = False
        t = time.perf_counter()
        if span is None:
            out = fn()
        else:
            with self.tracer.span(span):
                out = fn()
        dt = time.perf_counter() - t
        if self.timing:
            self.samples[metric].append(dt)
            if counted:
                self.busy_s += dt
                self.items += items
        return out

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """An output check of the last call; a failing check fails it."""
        self.checks[name] += 1
        if not ok:
            self.failures.append(f"{name}: {detail}")
            if not self._op_failed:
                self._op_failed = True
                self.failed += 1

    def crashed(self, where: str) -> None:
        self.failures.append(f"{where}: {traceback.format_exc()}")
        self.failed += 1

    def phased(self, span: str, build, sink):
        """build() → DataFrame, sink(df) materialises it; in a traced run
        the span also records Python plan construction (build_s), physical
        planning (plan_s) and execution (exec_s)."""
        with self.tracer.span(span) as rec:
            t0 = time.perf_counter()
            df = build()
            t1 = time.perf_counter()
            if self.traced:
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            sink(df)
            t3 = time.perf_counter()
            rec.update(build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2)
        return df


class Workload:
    name = ""

    def __init__(self, run: Run, spec: dict, sizes: dict, seed: int) -> None:
        self.run = run
        self.spark = run.spark
        self.spec = spec  # this workload's entry in workloads.json
        self.sizes = sizes
        self.seed = seed
        self.passes = 0
        self._prev_size = 0  # state-directory bytes at the last walk

    def generate(self, out_dir: str) -> dict:
        raise NotImplementedError

    def one_pass(self, k: int) -> None:
        raise NotImplementedError

    def _store(self, path: str, delta_bytes: int) -> None:
        """Walk the state directory after a commit (traced run only):
        files, bytes, and bytes added per byte of delta input."""
        if not self.run.traced:
            return
        files, size = dir_stats(path)
        prev = self._prev_size
        self.run.layer["textops.store.files"].append(files)
        self.run.layer["textops.store.bytes"].append(size)
        if delta_bytes > 0:
            self.run.layer["textops.store.write_amp"].append((size - prev) / delta_bytes)
        self._prev_size = size

    def setup(self, repeats: int) -> float:
        """Generate the inputs ``repeats`` times (each regeneration must be
        byte-identical) and return the median generation time."""
        times, digests = [], []
        for i in range(repeats):
            d = os.path.join(self.run.work, f"inputs-{i}")
            t = time.perf_counter()
            self.inputs = self.generate(d)
            times.append(time.perf_counter() - t)
            digests.append(_tree_digest(d))
        self.run.check("inputs_regenerate_identically", len(set(digests)) == 1, str(digests))
        return statistics.median(times)


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for root, _, names in sorted(os.walk(path)):
        for n in sorted(names):
            with open(os.path.join(root, n), "rb") as f:
                h.update(n.encode() + b"\0" + f.read())
    return h.hexdigest()


# ---------------------------------------------------------------- publish


class Publish(Workload):
    name = "publish"

    def generate(self, out_dir: str) -> dict:
        s = self.sizes
        return gen.write_publish_inputs(out_dir, self.seed, s["datasets"], s["csv_rows"], s["formats"])

    def one_pass(self, k: int) -> None:
        from lp_etl_plugins_spark import cube, dcat, model

        run, spark, inp = self.run, self.spark, self.inputs
        out = os.path.join(run.work, f"publish-{k}")
        items = inp["triples"] + inp["csv_rows"]

        def parse():
            return model.triples_from_ntriples(spark, inp["catalog"])

        def ckan_frame(existing=True):
            ex = spark.read.schema(EXISTING_SCHEMA).json(inp["existing"]) if existing else None
            codes = model.triples_from_ntriples(spark, inp["codelist"])
            return dcat.dcat_to_ckan(spark, parse(), codelists=codes, existing=ex, lang="cs")

        ckan_dir = os.path.join(out, "ckan")
        df = run.op("ckan_s", None, lambda: run.phased(
            "dcat.ckan", ckan_frame, lambda d: dcat.write_jsonl(d, ckan_dir)), items)
        self._check_ckan(ckan_dir)
        if run.traced:
            plan = df._jdf.queryExecution().executedPlan().toString()
            run.layer["model.scans.count"].append(plan.count("FileScan text"))

        run.op("orgs_s", None, lambda: run.phased(
            "dcat.orgs",
            lambda: dcat.organization_payloads(dcat.extract_datasets(spark, parse(), lang="cs")),
            noop))

        def cube_call(path):
            desc = model.triples_from_turtle(spark, FDP_DESCRIPTOR)
            model.write_ntriples(cube.fdp_to_cube(spark, desc, {"budget.csv": inp["csv"]}), path)

        cube_dir = os.path.join(out, "cube")
        run.op("cube_s", "cube.fdp_to_cube", lambda: cube_call(cube_dir))
        lines = read_parts(cube_dir)
        run.check("cube_output_nonempty", len(lines) > inp["csv_rows"], str(len(lines)))
        # the output must not depend on the pass: compile again, untimed
        cube_call(os.path.join(out, "cube-again"))
        digests = {hashlib.sha256("\n".join(sorted(x)).encode()).hexdigest()
                   for x in (lines, read_parts(os.path.join(out, "cube-again")))}
        run.check("cube_hash_equal_across_passes", len(digests) == 1, str(digests))

        if run.traced:
            self._traced_phases(parse, ckan_frame, out)
        shutil.rmtree(out, ignore_errors=True)

    def _check_ckan(self, path: str) -> None:
        inp, run = self.inputs, self.run
        lines = read_parts(path)
        run.check("ckan_one_line_per_dataset", len(lines) == inp["datasets"],
                  f"{len(lines)} lines for {inp['datasets']} datasets")
        names = []
        for line in lines:
            try:
                names.append(json.loads(line).get("name"))
            except ValueError:
                names.append(None)
        run.check("ckan_lines_parse_with_id", all(names) and len(set(names)) == len(names),
                  "unparsable line or missing/duplicate name")
        text = "\n".join(lines)
        missing = [p for p in inp["preserved"] if p not in text]
        run.check("ckan_preserved_resources_verbatim", not missing, f"{len(missing)} missing")

    def _traced_phases(self, parse, ckan_frame, out: str) -> None:
        """Extra calls, traced run only: the catalog parse alone, the
        extraction frames alone, the DKAN encoder over the same extraction
        core, and the CKAN plan without the sink and without the live
        state, so the differences isolate merge and sink; the cube
        compiler without its descriptor collect."""
        from lp_etl_plugins_spark import cube, dcat, graphq_local, model

        spark, run, inp = self.spark, self.run, self.inputs
        with run.tracer.span("model.parse"):
            noop(parse())
        with run.tracer.span("dcat.extract_datasets"):
            noop(dcat.extract_datasets(spark, parse(), lang="cs"))
        with run.tracer.span("dcat.extract_distributions"):
            codes = model.triples_from_ntriples(spark, inp["codelist"])
            noop(dcat.extract_distributions(spark, parse(), codes, lang="cs"))
        run.phased("dcat.dkan", lambda: dcat.dcat_to_dkan(spark, parse(), lang="cs"), noop)
        run.phased("dcat.ckan_noop", ckan_frame, noop)
        run.phased("dcat.ckan_nolive", lambda: ckan_frame(existing=False), noop)

        with open(FDP_DESCRIPTOR, encoding="utf-8") as f:
            graph = graphq_local.LocalGraph(
                [vars(t) for t in model.parse_turtle(f.read())])
        with run.tracer.span("cube.extract_spec"):
            spec = cube.extract_spec(spark, graph)
        dialect = spec.dialects.get("budget.csv", cube.CsvDialect())

        def compiled():
            return cube.compile_cube(spark, spec, cube.read_csv_with_dialect(spark, inp["csv"], dialect))

        run.phased("cube.compile", compiled,
                   lambda d: model.write_ntriples(d, os.path.join(out, "cube-compile")))
        run.phased("cube.compile_noop", compiled, noop)


# ----------------------------------------------------------------- curate


class Curate(Workload):
    name = "curate"

    def generate(self, out_dir: str) -> dict:
        return gen.write_curate_inputs(out_dir, self.seed, self.sizes["docs"])

    def _text_bytes(self, lo: int, hi: int) -> int:
        return sum(self.inputs["text_bytes"][lo:hi])

    def one_pass(self, k: int) -> None:
        from lp_etl_plugins_spark.incremental import CurationState

        run, spark, s = self.run, self.spark, self.sizes
        n = self.inputs["n_docs"]
        base, step = int(n * s["base_frac"]), int(n * s["delta_frac"])
        docs = spark.read.parquet(self.inputs["docs"])
        path = os.path.join(run.work, f"state-{k}")
        self._prev_size = 0
        doc_id = F.col("doc_id")
        commits: list[int] = []  # n_working recorded at each commit (index = mseq)

        st = run.op("build_s", "incremental.build", lambda: CurationState.build(
            spark, docs.filter(doc_id < base), path, max_doc_id=base - 1), base)
        commits.append(int(st.meta["n_working"]))
        self._store(path, self._text_bytes(0, base))

        for u in range(s["updates"]):
            lo, hi = base + u * step, base + (u + 1) * step
            run.op("update_s", "incremental.update",
                   lambda: st.update(docs.filter((doc_id >= lo) & (doc_id < hi))), hi - lo)
            commits.append(int(st.meta["n_working"]))
            run.check("update_absorbed_delta", st.meta["n_updates"] == u + 1, str(st.meta["n_updates"]))
            self._store(path, self._text_bytes(lo, hi))

        for m, want in enumerate(commits):
            view = st.as_of(m)
            run.op("asof_s", "incremental.asof", lambda: noop(view.working()))
            got = view.working().count()
            run.check("asof_count_matches_commit", got == want, f"mseq {m}: {got} != {want}")

        self._read(st, len(commits), ("build",) + ("update",) * s["updates"])
        n_near = st.indexed().count() - st.working().count()
        run.check("near_duplicates_found", n_near > 0, str(n_near))
        n_contam = st.contamination().count()
        run.check("contamination_found", n_contam > 0, str(n_contam))

        gone = docs.filter((doc_id < base) & (doc_id % s["retract_mod"] == 5)).select("doc_id")
        n_gone = gone.count()
        run.op("retract_s", "incremental.retract", lambda: st.retract(gone), n_gone)
        self._store(path, 8 * n_gone)
        alive = st.working().join(gone, "doc_id", "left_semi").count()
        run.check("retracted_ids_absent", alive == 0, f"{alive} retracted ids still working")

        if run.traced:
            # traced run only: serve times compaction end to end
            with run.tracer.span("incremental.compact"):
                st.compact()
            self._store(path, 0)
            run.check("compact_committed", st.meta["n_compactions"] == 1,
                      str(st.meta["n_compactions"]))
        shutil.rmtree(path, ignore_errors=True)

    def _read(self, st, n_commits: int, ops: tuple) -> None:
        run = self.run
        box = {}

        def read():
            for df in (st.working(), st.curated(), st.contamination()):
                noop(df)
            box["manifest"] = st.manifest().collect()

        run.op("read_s", "incremental.read", read)
        man = sorted(box["manifest"], key=lambda r: r["mseq"])
        run.check("manifest_one_row_per_commit",
                  [r["mseq"] for r in man] == list(range(n_commits))
                  and tuple(r["op"] for r in man) == ops,
                  str([(r["mseq"], r["op"]) for r in man]))


# ------------------------------------------------------------------ serve


class Serve(Workload):
    name = "serve"

    def generate(self, out_dir: str) -> dict:
        s = self.sizes
        return gen.write_serve_inputs(out_dir, self.seed, s["vectors"], s["probes"])

    def one_pass(self, k: int) -> None:
        """Save the index (the first call of the session, as a server's
        start-up build), warm the serving calls up untimed on it (one
        search, append and retraction), then time search batches with
        interleaved appends and retractions for the run's seconds, and a
        compaction and a maintenance sweep."""
        from lp_etl_plugins_spark.vectorops import VectorIndex

        run, spark, s = self.run, self.spark, self.sizes
        self.vec = spark.read.parquet(self.inputs["vectors"])
        self.probes = spark.read.parquet(self.inputs["probes"])
        nb = s["base"]
        path = os.path.join(run.work, f"vindex-{k}")
        self._prev_size = 0

        idx = VectorIndex(self.vec.filter(F.col("vec_id") < nb), m=s["m"])
        run.op("save_s", "vectorops.save", lambda: idx.save(path), counted=False)
        run.check("save_max_id", idx.max_id == nb - 1, str(idx.max_id))
        self._store(path, nb * 4 * 64)
        self.idx = run.op("load_s", "vectorops.load", lambda: VectorIndex.load(spark, path),
                          counted=False)
        self.next_id, self.dead, self.batch_no = nb, set(), 0

        run.timing = run.tracer.timed = False
        self._batches(path, 1, 0.0, every_call=True)
        run.timing = run.tracer.timed = True
        self._batches(path, s["min_batches"], time.perf_counter() + self.seconds)
        self._maintain(path)
        shutil.rmtree(path, ignore_errors=True)

    def _batches(self, path: str, n_min: int, deadline: float, every_call: bool = False) -> None:
        """Search batches until ``n_min`` are done and ``deadline`` has
        passed; every second batch appends, every fourth retracts (with
        ``every_call``, each batch does both)."""
        from lp_etl_plugins_spark.vectorops import VectorIndex

        run, spark, s, vec = self.run, self.spark, self.sizes, self.vec
        vid = F.col("vec_id")
        batch, nb = s["batch"], s["base"]
        done = 0
        while done < n_min or time.perf_counter() < deadline:
            b, done = self.batch_no, done + 1
            self.batch_no += 1
            lo = 1_000_000 + (b * batch) % s["probes"]
            pb = self.probes.filter((vid >= lo) & (vid < lo + batch))
            idx = self.idx
            rows = run.op("search_s", "vectorops.search",
                          lambda: idx.search(pb, s["k"], nprobe=s["nprobe"]).collect(), batch)
            per = defaultdict(int)
            for r in rows:
                per[r["probe_id"]] += 1
            run.check("k_rows_per_probe",
                      len(per) == batch and all(c == s["k"] for c in per.values()),
                      f"{len(per)} probes, counts {sorted(set(per.values()))}")
            hit = [r["neighbor_id"] for r in rows if r["neighbor_id"] in self.dead]
            run.check("no_retracted_id_served", not hit, str(hit[:5]))

            if every_call or b % 2 == 1:
                before, d_lo = idx.max_id, self.next_id

                def append():
                    idx.update(vec.filter((vid >= d_lo) & (vid < d_lo + s["delta"])).drop("label"))
                    with run.tracer.span("vectorops.append_saved"):
                        idx.append_saved(path)
                    with run.tracer.span("vectorops.load"):
                        return VectorIndex.load(spark, path)

                idx = self.idx = run.op("append_s", "vectorops.append", append, s["delta"])
                self.next_id += s["delta"]
                run.check("max_id_advances_by_delta", idx.max_id == before + s["delta"],
                          f"{before} -> {idx.max_id}")
                self._store(path, s["delta"] * 4 * 64)
            if every_call or b % 4 == 2:
                ids = [i for i in range(nb) if i % s["retract_mod"] == b % s["retract_mod"]
                       and i not in self.dead]

                def retract():
                    idx.retract(vec.filter(vid.isin(ids)).select("vec_id"))
                    with run.tracer.span("vectorops.retract_saved"):
                        idx.retract_saved(path)
                    with run.tracer.span("vectorops.load"):
                        return VectorIndex.load(spark, path)

                self.idx = run.op("retract_s", "vectorops.retract", retract, len(ids))
                self.dead.update(ids)
                self._store(path, 8 * len(ids))

    def _maintain(self, path: str) -> None:
        from lp_etl_plugins_spark import maintenance
        from lp_etl_plugins_spark.vectorops import VectorIndex

        run, spark = self.run, self.spark
        run.op("compact_s", "vectorops.compact", lambda: VectorIndex.compact(spark, path),
               counted=False)
        self._store(path, 0)
        self.idx = VectorIndex.load(spark, path)
        rows = run.op("vacuum_s", "maintenance.vacuum",
                      lambda: maintenance.vacuum(spark, [path]).collect(), counted=False)
        run.check("vacuum_healthy", len(rows) == 1 and rows[0]["ok"],
                  str(rows[0]["violations"]) if rows else "no report row")


WORKLOADS = {w.name: w for w in (Publish, Curate, Serve)}


def run_workload(w: Workload, seconds: float, repeats: int) -> dict:
    """Set up (generate the inputs ``repeats`` times), then run timed
    passes until ``seconds`` have elapsed, at least one. Returns the
    generation time and the timed wall."""
    run = w.run
    gen_s = w.setup(repeats)
    run.timing = run.tracer.timed = True
    t0 = time.perf_counter()
    w.seconds = seconds
    w.deadline = t0 + seconds
    k = 1
    while True:
        try:
            w.one_pass(k)
        except Exception:  # noqa: BLE001 — a failed call is reported, not fatal
            run.crashed(f"pass {k}")
            break
        k += 1
        if time.perf_counter() >= w.deadline:
            break
    w.passes = k - 1
    return {"gen_s": gen_s, "timed_s": time.perf_counter() - t0}
