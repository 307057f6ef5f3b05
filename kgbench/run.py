"""KG-pipeline benchmark: crawled pages in, committed ``canonical_edges`` out.

    python3 kgbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

One driver process, one closed-loop client: one pipeline call at a time on
``local[nproc/2]`` (see ``slots``). A run generates (or reuses from its disk
cache) the workload's inputs, starts Spark, warms the session with one
untimed pipeline call on the same input, then repeats the timed pipeline
call until ``--seconds`` have passed, at least once. Every repetition writes
a fresh catalog and is checked (``check.py``); a failed check counts as a
failed operation and makes the run exit non-zero.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` times one traced
repetition instead and reports the per-layer metrics: span self time per
layer, Spark jobs, tasks and shuffle, the driver-side kernel layers, the
incremental cut (kg_build), the tracing overhead and the extraction stage's
1-to-N-core scaling. The last line of stdout is one JSON object; details,
the layer table and the spans go to ``.kgbench_work/results/``.

Workloads (generator parameters and layer map in ``workloads.json``):

* ``kg_build``  — ``KGPipeline.run(resume=False)`` over parquet of short
  synthetic documents with text already set;
* ``web_pages`` — ``read_warc`` → html→text → language id →
  ``KGPipeline.run(curate=True)`` over gzip WARC shards of long html pages.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".kgbench_work")
WORKLOADS = ("kg_build", "web_pages")
# permissive gates: the default curation gates are English-centric and the
# corpus is Chinese (the same options as scripts/run_pipeline.py --curate)
CURATE_OPTS = {"min_quality": 0.0, "max_dup_word_frac": 1.0, "max_top_gram_frac": 1.0}
KERNEL_SAMPLE = 200

E2E_UNITS = {"docs_per_s": "1/s", "setup_s": "s", "committed_mb": "MB",
             "peak_rss_mb": "MB", "gold_precision": "ratio", "gold_recall": "ratio"}
LAYER_UNITS = {
    "session.start_s": "s",
    "source.s": "s", "source.records": "count", "source.mb_in": "MB",
    "html2text.s": "s", "html2text.us_per_doc": "us",
    "curation.s": "s", "curation.docs_in": "count", "curation.docs_kept": "count",
    "extract.s": "s", "extract.python_s": "s", "extract.docs_in": "count",
    "extract.docs_empty": "count", "extract.triples_out": "count",
    "tokenizer.us_per_doc": "us", "scorer.us_per_doc": "us",
    "decode.us_per_doc": "us", "rewrite.us_per_doc": "us", "kernel.us_per_doc": "us",
    "catalog.s": "s", "catalog.commit_s": "s", "catalog.commits": "count",
    "catalog.mb_written": "MB", "catalog.jobs": "count",
    "lineage.s": "s", "lineage.jobs": "count",
    "kg.s": "s", "kg.jobs": "count", "kg.shuffle_mb": "MB",
    "linking.s": "s", "linking.jobs": "count", "linking.alias_pairs": "count",
    "linking.cc_rounds": "count",
    "incremental.cut_s": "s", "incremental.base_build_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_mb": "MB", "spark.spill_mb": "MB",
    "unattributed_s": "s", "trace.docs_per_s": "1/s", "trace.overhead_pct": "%",
    "scaling.eff_1toN": "ratio", "probe.spread": "ratio",
}


def slots() -> int:
    """Spark task slots: half the cores this process may run on. The
    pipeline's time is mostly serial per-job overhead (driver, JVM planner,
    one Python worker per task): a warm kg_build call took the same time on
    2 and on 4 slots of a 4-core VM. The free cores leave room for the JVM's
    compiler and GC threads and the Python driver, so a run does not compete
    with itself for cores."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _env(cores: int) -> None:
    """Environment the Spark JVM and its Python workers inherit: workers
    import the library through PYTHONPATH, and every scratch file stays
    inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path.insert(0, ROOT)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers; wait for all."""
    from pyspark import SparkContext

    from probes import descendants

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 15
    while any(_alive(p) for p in procs) and time.time() < deadline:
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)


class Bench:
    """One benchmark run: inputs, references, session, repetitions."""

    def __init__(self, workload: str, seed: int, size: str):
        import gen

        self.workload, self.seed = workload, seed
        self.cores = slots()
        t0 = time.perf_counter()
        self.inputs, self.meta = gen.ensure_inputs(WORK, workload, seed, size, self.cores)
        self.gen_s = time.perf_counter() - t0
        self.scratch = os.path.join(WORK, f"run-{os.getpid()}")
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(self.scratch)
        self._roots = 0
        self.union_root = None  # kg_build traced run: the warm-up's catalog
        self._reference()

    # --- driver-side references ------------------------------------------------

    def _reference(self) -> None:
        """Gold and kernel output per distinct document, computed once."""
        import gen
        from check import expected_triples

        if self.workload == "kg_build":
            self.rows = gen.kg_rows(self.seed, self.meta["docs"])
            self.n_docs = len(self.rows)
            self.content = {r["url"]: k for k, r in enumerate(self.rows)}
        else:
            self.rows = gen.web_rows(self.seed, self.meta["distinct_pages"])
            self.n_docs = self.meta["pages"]
            self.content = gen.web_content(self.inputs)
        self.kernel_ref = [
            expected_triples([("", r["text"])]) if r["lang"] == "zh" else None
            for r in self.rows]

    def expected_for(self, urls) -> tuple:
        """(kernel multiset, gold set) for the documents at ``urls``."""
        from collections import Counter

        import gen

        exp, gold = Counter(), set()
        for url in urls:
            k = self.content[url]
            for key, n in (self.kernel_ref[k] or {}).items():
                exp[(url,) + key[1:]] += n
            gold.update(gen.gold_key(url, t) for t in self.rows[k]["gold"])
        return exp, gold

    # --- session, inputs and pipeline calls --------------------------------------

    def start(self) -> None:
        from relation_extraction_spark.session import get_spark

        self.spark = get_spark(
            app_name="kgbench", master=f"local[{self.cores}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                # a fixed, pre-touched heap: peak RSS then reads the work's
                # memory, not when the JVM happened to grow its heap
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                    f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch",
                # keep every job of a traced run readable from the stores
                "spark.ui.retainedJobs": "5000", "spark.ui.retainedStages": "10000",
                "spark.sql.ui.retainedExecutions": "5000",
            })
        self.spark.sparkContext.setLogLevel("ERROR")

    def docs(self):
        """The workload's input as the pipeline receives it (lazy)."""
        if self.workload == "kg_build":
            return self.spark.read.parquet(os.path.join(self.inputs, "docs"))
        from relation_extraction_spark.operators import extract_triples as et
        from relation_extraction_spark.operators.text_analysis import lang_id_columns
        from relation_extraction_spark.sources import warc

        glob = os.path.join(self.inputs, "warc", "*.warc.gz")
        # read_warc leaves lang NULL and extraction keeps only zh rows: set
        # it from the page text, as a crawl ingest would
        d = et.extract_text_df(warc.read_warc(self.spark, glob))
        return d.withColumn("lang", lang_id_columns("text")["lang_pred"])

    def catalog_root(self) -> str:
        self._roots += 1
        return os.path.join(self.scratch, f"cat-{self._roots}")

    def catalog(self, root: str):
        from relation_extraction_spark.plans.catalog import Catalog

        return Catalog(self.spark, root)

    def pipeline(self, root: str):
        from relation_extraction_spark.plans.pipeline import KGPipeline

        return KGPipeline(self.spark, root)

    def run_pipeline(self, pipe, docs, resume: bool = False):
        if self.workload == "kg_build":
            return pipe.run(docs, resume=resume)
        return pipe.run(docs, resume=resume, curate=True, curate_opts=CURATE_OPTS)

    def warm_up(self, union: bool = False) -> dict:
        """One untimed pipeline call on the full input, every stage run.
        A cheaper warm-up leaves one-off work (Python worker start-up, code
        generation and JIT compilation for the canonical_edges rounds and
        for per-row code) to the first timed call, which then ran 15-40%
        slower than the next one and varied more from run to run. After this
        warm-up the first two timed calls agree within about 5%. The pipeline's cost is mostly per-job
        overhead, so a slice would be no cheaper.

        With ``union`` (kg_build's traced run) the input is base ∪ increment
        and the catalog is kept: it is the full rebuild the incremental run
        is checked against, at no extra pipeline call."""
        root = self.catalog_root()
        pipe = self.pipeline(root)
        self.run_pipeline(pipe, self.union_docs() if union else self.docs())
        if union:
            self.union_root = root
        else:
            shutil.rmtree(root, ignore_errors=True)
        return dict(pipe.stage_seconds)

    def union_docs(self):
        """kg_build's base ∪ increment, one row per url."""
        return self.docs().unionByName(
            self.spark.read.parquet(os.path.join(self.inputs, "increment"))
        ).dropDuplicates(["url"])

    # --- one repetition --------------------------------------------------------

    def rep(self, tracer=None) -> dict:
        """One timed pipeline call on a fresh catalog, then its checks. The
        catalog is left in place for the caller to inspect and remove."""
        from probes import RssSampler, dir_mb

        root = self.catalog_root()
        pipe = self.pipeline(root)
        docs = self.docs()
        span = tracer.span("KGPipeline.run", None) if tracer else contextlib.nullcontext()
        with RssSampler() as rss, span:
            t0 = time.perf_counter()
            self.run_pipeline(pipe, docs)
            wall = time.perf_counter() - t0
        out = {"wall_s": wall, "docs_per_s": self.n_docs / wall,
               "peak_rss_mb": rss.peak / 1e6, "root": root,
               "stage_seconds": dict(pipe.stage_seconds)}
        out.update(self.check(pipe.catalog))
        out["committed_mb"] = dir_mb(root)
        return out

    def check(self, catalog) -> dict:
        from check import check_triples, committed_triples

        problems = []
        if self.workload == "web_pages":
            kept = [r["url"] for r in catalog.read("curated").select("url").collect()]
            if len(kept) != self.meta["distinct_pages"] or \
                    len({self.content[u] for u in kept}) != len(kept):
                problems.append(f"curated kept {len(kept)} pages, expected the "
                                f"{self.meta['distinct_pages']} distinct ones")
        else:
            kept = list(self.content)
        exp, gold = self.expected_for(kept)
        res = check_triples(committed_triples(catalog), exp, gold)
        problems += res.problems
        if catalog.read("canonical_edges").limit(1).count() == 0:
            problems.append("canonical_edges is empty")
        return {"precision": res.precision, "recall": res.recall, "problems": problems}

    # --- kg_build traced run: the incremental path -------------------------------

    def increment(self, base_root: str, tracer) -> dict:
        """``run_incremental`` of half new, half already-processed documents
        onto a copy of ``base_root``, traced as its own repetition."""
        root = self.catalog_root()
        shutil.copytree(base_root, root)
        pipe = self.pipeline(root)
        inc = self.spark.read.parquet(os.path.join(self.inputs, "increment"))
        tracer.rep = "inc"
        with tracer.span("KGPipeline.run_incremental", None):
            t0 = time.perf_counter()
            pipe.run_incremental(inc)
            wall = time.perf_counter() - t0
        tracer.rep = ""
        return {"wall_s": wall, "root": root, "docs": self.meta["inc_docs"]}

    def check_increment(self, inc_root: str) -> list[str]:
        """The incremental catalog must hold the kernel's triples for base ∪
        increment, and the same ``triples`` and ``canonical_edges`` rows as
        one full ``KGPipeline.run`` over base ∪ increment (the warm-up's)."""
        import gen
        from check import check_triples, committed_triples, expected_triples, snapshot_hash

        _, new = gen.kg_increment_rows(self.seed, self.meta["params"])
        exp, gold = self.expected_for(list(self.content))
        exp += expected_triples([(r["url"], r["text"]) for r in new if r["lang"] == "zh"])
        gold |= {gen.gold_key(r["url"], t) for r in new for t in r["gold"]}
        inc = self.catalog(inc_root)
        problems = check_triples(committed_triples(inc), exp, gold).problems
        ref = self.catalog(self.union_root)
        for table in ("triples", "canonical_edges"):
            if snapshot_hash(inc.read(table)) != snapshot_hash(ref.read(table)):
                problems.append(f"incremental {table} differs from a full rebuild")
        shutil.rmtree(self.union_root, ignore_errors=True)
        return problems


def _spread(probes: list[float]) -> float:
    return max(probes) / min(probes)


def run(workload: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    from probes import spin_probe

    spin_probe()  # discarded: a cold process spins slow
    probes = [spin_probe(), spin_probe()]
    b = Bench(workload, seed, size)
    detail = {"workload": workload, "seed": seed, "inputs": b.meta, "gen_s": b.gen_s}
    t0 = time.perf_counter()
    b.start()
    try:
        session_s = time.perf_counter() - t0
        detail["warm_stage_seconds"] = b.warm_up(union=trace and workload == "kg_build")
        setup_s = time.perf_counter() - t0
        detail.update(session_s=session_s, setup_s=setup_s)
        if trace:
            metrics, checked = traced(b, session_s, detail)
        else:
            checked = []
            t_timed = time.perf_counter()
            while not checked or time.perf_counter() - t_timed < seconds:
                checked.append(b.rep())
                shutil.rmtree(checked[-1].pop("root"), ignore_errors=True)
            metrics = {
                "docs_per_s": statistics.median(r["docs_per_s"] for r in checked),
                "setup_s": setup_s,
                "committed_mb": statistics.median(r["committed_mb"] for r in checked),
                "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in checked),
                "gold_precision": min(r["precision"] for r in checked),
                "gold_recall": min(r["recall"] for r in checked),
            }
        detail["reps"] = checked
    finally:
        stop_spark(b.spark)
        shutil.rmtree(b.scratch, ignore_errors=True)
    probes.append(spin_probe())
    detail.update(probes=probes, probe_spread=_spread(probes),
                  contended=_spread(probes) > 1.2)
    if trace:
        metrics["probe.spread"] = _spread(probes)
    failed = sum(1 for r in checked if r["problems"])
    units = LAYER_UNITS if trace else E2E_UNITS
    result = {"correct": failed == 0, "attempted": len(checked), "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}
    _write_detail(workload, seed, trace, detail, result)
    for r in checked:
        for p in r["problems"]:
            print(f"CHECK FAILED ({workload}, seed {seed}): {p}", file=sys.stderr)
    print(f"probe spread {detail['probe_spread']:.3f} contended={detail['contended']}")
    return result


def traced(b: Bench, session_s: float, detail: dict) -> tuple[dict, list[dict]]:
    """Per-layer metrics from one traced repetition (plus, on kg_build, one
    traced ``run_incremental`` onto its catalog)."""
    from probes import dir_mb, kernel_layers
    from spans import SparkStats, Tracer, analyze, dump_spans, instrument, layer_table

    tracer = Tracer(b.spark)
    stats = SparkStats(b.spark)
    with instrument(tracer):
        tracer.rep = "run"
        rep = b.rep(tracer)
        tracer.rep = ""
        inc = b.increment(rep["root"], tracer) if b.workload == "kg_build" else None
    a = analyze(tracer, stats, "run")
    cat = b.catalog(rep["root"])
    alias_pairs = sum(df.count() for df in a.pop("alias_dfs"))
    counts = _stage_counts(b, cat)
    eff = extraction_scaling(b, cat)
    shutil.rmtree(rep.pop("root"), ignore_errors=True)
    checked = [rep]
    if inc:
        inc["cut_s"] = analyze(tracer, stats, "inc")["first_commit_offset_s"]
        inc["problems"] = b.check_increment(inc.pop("root"))
        checked.append(inc)
    k = kernel_layers(*_kernel_sample(b))

    sp = a["spark"]
    self_s = a["self_s"]
    m = {
        "session.start_s": session_s,
        "source.s": self_s["source"], "source.records": counts["documents"],
        "source.mb_in": dir_mb(os.path.join(
            b.inputs, "docs" if b.workload == "kg_build" else "warc")),
        "html2text.s": self_s["html2text"], "html2text.us_per_doc": k["html2text"],
        "curation.s": self_s["curation"],
        "curation.docs_in": counts["documents"] if b.workload == "web_pages" else 0,
        "curation.docs_kept": counts.get("curated", 0),
        "extract.s": self_s["extract"], "extract.python_s": a["extract_python_s"],
        "extract.docs_in": counts["extract_in"], "extract.docs_empty": counts["extract_empty"],
        "extract.triples_out": counts["triples"],
        "tokenizer.us_per_doc": k["tokenizer"], "scorer.us_per_doc": k["scorer"],
        "decode.us_per_doc": k["decode"], "rewrite.us_per_doc": k["rewrite"],
        "kernel.us_per_doc": k["kernel"],
        "catalog.s": self_s["catalog"], "catalog.commit_s": a["commit_s"],
        "catalog.commits": a["commits"], "catalog.mb_written": a["commit_mb"],
        "catalog.jobs": a["commit_jobs"],
        "lineage.s": self_s["lineage"], "lineage.jobs": a["jobs"]["lineage"],
        "kg.s": self_s["kg"], "kg.jobs": a["jobs"]["kg"], "kg.shuffle_mb": a["kg_shuffle_mb"],
        "linking.s": self_s["linking"], "linking.jobs": a["jobs"]["linking"],
        "linking.alias_pairs": alias_pairs, "linking.cc_rounds": a["cc_rounds"],
        "incremental.cut_s": inc["cut_s"] if inc else 0.0,
        "incremental.base_build_s": rep["wall_s"] if inc else 0.0,
        "spark.jobs": sp["jobs"], "spark.stages": sp["stages"], "spark.tasks": sp["tasks"],
        "spark.shuffle_mb": sp["shuffle_bytes"] / 1e6, "spark.spill_mb": sp["spill_bytes"] / 1e6,
        "unattributed_s": a["unattributed_s"],
        "trace.docs_per_s": rep["docs_per_s"],
        "trace.overhead_pct": 100 * tracer.overhead_s / rep["wall_s"],
        "scaling.eff_1toN": eff,
    }
    table = layer_table(b.workload, a)
    print(table)
    out = os.path.join(WORK, "results")
    os.makedirs(out, exist_ok=True)
    dump_spans(tracer, os.path.join(out, f"spans-{b.workload}-s{b.seed}.jsonl"))
    detail.update(layer_table=table, analysis=a, incremental=inc)
    return m, checked


def _kernel_sample(b: Bench) -> tuple[list[str], list[bytes]]:
    """A fixed sample of the workload's documents: (texts, htmls)."""
    if b.workload == "kg_build":
        sample = b.rows[:KERNEL_SAMPLE]
        return [r["text"] for r in sample], [r["html"] for r in sample]
    from relation_extraction_spark.operators.extract_triples import extract_text_bytes
    from relation_extraction_spark.sources.warc import parse_warc_bytes

    shard = sorted(os.listdir(os.path.join(b.inputs, "warc")))[0]
    with open(os.path.join(b.inputs, "warc", shard), "rb") as fh:
        htmls = [r["html"] for r in parse_warc_bytes(fh.read())[:KERNEL_SAMPLE]]
    return [extract_text_bytes(h) for h in htmls], htmls


def extraction_scaling(b: Bench, cat, min_s: float = 0.5) -> float:
    """Parallel efficiency of the fused extraction stage over the committed
    extraction input: docs/s with one task per core ÷ (cores × docs/s of a
    single task). Both sides run in the warm session over the same
    checkpointed rows, each until ``min_s`` seconds or three trials."""
    from relation_extraction_spark.operators.extract_triples import extract_triples

    docs = cat.read("curated" if b.workload == "web_pages" else "documents")
    base = docs.select("url", "text", "lang").localCheckpoint(eager=True)
    n = base.count()

    def rate(df) -> float:
        runs = []
        while len(runs) < 3 and sum(runs) < min_s:
            t0 = time.perf_counter()
            extract_triples(df).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        return n / statistics.median(runs)

    one = rate(base.coalesce(1))
    return rate(base.repartition(b.cores)) / (b.cores * one)


def _stage_counts(b: Bench, cat) -> dict:
    from pyspark.sql import functions as F

    # the extraction input: curated text (which keeps lang) or documents
    src = "curated" if b.workload == "web_pages" else "documents"
    out = {"documents": cat.read("documents").count(),
           "triples": cat.read("triples").count()}
    if b.workload == "web_pages":
        out["curated"] = cat.read("curated").count()
    zh = cat.read(src).where((F.col("lang") == "zh") & (F.length("text") > 0)).select("url")
    out["extract_in"] = zh.count()
    out["extract_empty"] = zh.join(cat.read("triples").select("url"), "url", "left_anti").count()
    return out


def _write_detail(workload, seed, trace, detail, result) -> None:
    out = os.path.join(WORK, "results")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{workload}-s{seed}-t{int(trace)}.json"), "w") as fh:
        json.dump({"result": result, "detail": detail}, fh, indent=1, default=str)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own tests")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "relation_extraction_spark")):
        print("kgbench: the relation_extraction_spark package is not next to "
              "the benchmark; run it from a full checkout", file=sys.stderr)
        return 2
    _env(slots())
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
