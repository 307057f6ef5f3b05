"""Spans around the library's public entry points, one Spark job group each.

Tracing lives entirely in the benchmark: :func:`instrument` swaps module
attributes for timing wrappers and puts the originals back on exit. Spans
are kept in memory (name, layer, start, end, parent, rep) and written out
when the run ends. Every span sets its own Spark job group, so the jobs,
stages, tasks, shuffle bytes and SQL node metrics of a span can be read back
from Spark's status stores after the repetition.

Most library calls only *build* a lazy plan; their work runs inside the
``Catalog.write`` that commits the stage. A commit span is therefore
charged to the layer that produced the table (``table_layer``). Eager work
outside commits (``localCheckpoint``, connected-components rounds, the
curation chain's checkpoints) runs inside its own span: a
``localCheckpoint`` of a DataFrame returned by a wrapped function takes that
function's layer; any other one takes the layer of the next commit, i.e. the
stage it is computing.
"""

from __future__ import annotations

import contextlib
import itertools
import re
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from probes import dir_mb

LAYERS = ("source", "html2text", "curation", "extract", "kg", "linking",
          "lineage", "catalog")


def table_layer(table: str) -> str:
    if table.startswith("lineage_"):
        return "lineage"
    return {"documents": "html2text", "curated": "curation", "triples": "extract",
            "edges": "kg", "vertices": "kg", "corrected": "kg",
            "canonical_edges": "linking"}.get(table, "catalog")


@dataclass
class Span:
    id: int
    name: str
    layer: str | None
    start: float
    parent: int | None
    rep: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``spark`` is used to set job groups."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._tags: dict[int, tuple[str, object]] = {}
        self.rep = ""
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    def group(self, span: Span) -> str:
        return f"kgb-{span.id}"

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None, **attrs):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, layer, 0.0,
                 parent.id if parent else None, self.rep, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self.group(s), name)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self.group(parent), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - s.end

    def tag(self, df, layer: str):
        self._tags[id(df)] = (layer, df)  # the reference keeps id() unique
        return df

    def tag_of(self, df) -> str | None:
        hit = self._tags.get(id(df))
        return hit[0] if hit and hit[1] is df else None


# --- instrumentation ----------------------------------------------------------

@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap the public entry points of each layer for the duration."""
    from relation_extraction_spark.operators import curation, extract_triples, kg, linking
    from relation_extraction_spark.plans import catalog, pipeline
    from relation_extraction_spark.sources import warc

    saved: list[tuple[object, str, object]] = []

    def patch(owner, name, wrapper):
        saved.append((owner, name, getattr(owner, name)))
        setattr(owner, name, wrapper)

    def lazy(fn, layer):
        def wrapped(*a, **kw):
            with tracer.span(fn.__name__, layer):
                return tracer.tag(fn(*a, **kw), layer)
        return wrapped

    entry_points = [
        (warc, "read_warc", "source"),
        (extract_triples, "extract_text_df", "html2text"),
        (curation, "curate_docs", "curation"),
        (extract_triples, "extract_triples", "extract"),
        (kg, "kg_edges", "kg"), (kg, "kg_vertices", "kg"),
        (kg, "kg_correct", "kg"), (kg, "self_check", "kg"),
        (linking, "canonical_mapping", "linking"),
        (linking, "canonicalize_edges", "linking"),
        (linking, "lsh_candidate_pairs", "linking"),
        (pipeline, "lineage_rows", "lineage"),
    ]
    for module, name, layer in entry_points:
        w = lazy(getattr(module, name), layer)
        patch(module, name, w)
        if module is not pipeline and hasattr(pipeline, name):
            patch(pipeline, name, w)  # the pipeline binds its own names

    alias_pairs = linking.verified_alias_pairs

    def verified(*a, **kw):
        with tracer.span("verified_alias_pairs", "linking") as s:
            out = alias_pairs(*a, **kw)
            s.attrs["df"] = out  # counted after the repetition
            return tracer.tag(out, "linking")
    patch(linking, "verified_alias_pairs", verified)

    ccs = linking.connected_components_star

    def cc(pairs, max_iter=25, stats=None):
        stats = {} if stats is None else stats
        with tracer.span("connected_components_star", "linking") as s:
            out = ccs(pairs, max_iter=max_iter, stats=stats)
            s.attrs["cc_rounds"] = stats.get("rounds", 0)
            return tracer.tag(out, "linking")
    patch(linking, "connected_components_star", cc)

    # the concrete DataFrame class (pyspark.sql.DataFrame is its base)
    df_cls = type(tracer.spark.range(0))
    local_cp = df_cls.localCheckpoint

    def local_checkpoint(self, *a, **kw):
        with tracer.span("localCheckpoint", tracer.tag_of(self)):
            return local_cp(self, *a, **kw)
    patch(df_cls, "localCheckpoint", local_checkpoint)

    cat = catalog.Catalog
    write, read, exists, drop = cat.write, cat.read, cat.exists, cat.drop

    def cat_write(self, name, df, *a, **kw):
        with tracer.span(f"commit:{name}", table_layer(name), table=name,
                         commit=True) as s:
            write(self, name, df, *a, **kw)
        t0 = time.perf_counter()
        versions = self._committed_versions(name)
        if versions:
            s.attrs["mb"] = dir_mb(self._version_path(name, versions[-1]))
        tracer.overhead_s += time.perf_counter() - t0

    def catalog_call(fn, label):
        def wrapped(self, name, *a, **kw):
            with tracer.span(f"{label}:{name}", "catalog"):
                return fn(self, name, *a, **kw)
        return wrapped

    patch(cat, "write", cat_write)
    patch(cat, "read", catalog_call(read, "read"))
    patch(cat, "exists", catalog_call(exists, "exists"))
    patch(cat, "drop", catalog_call(drop, "drop"))
    try:
        yield tracer
    finally:
        for owner, name, orig in reversed(saved):
            setattr(owner, name, orig)


# --- Spark status stores -------------------------------------------------------

_UNITS = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "min": 60.0, "h": 3600.0, "B": 1.0, "KiB": 2**10, "MiB": 2**20,
          "GiB": 2**30, "TiB": 2**40}
_VALUE_RX = re.compile(r"([\d.,]+)\s*([a-zA-Zµ]+)")


def parse_metric(text: str) -> float:
    """First total of a formatted SQL metric ("total (…)\\n1.2 s (…)" or
    "53 ms") in base units (seconds or bytes)."""
    body = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _VALUE_RX.match(body.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkStats:
    """Reads job, stage and SQL node metrics back for a set of job groups."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.core = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        tot = {"stages": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
        tracker = self.sc.statusTracker()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                try:
                    sd = self.core.lastStageAttempt(sid)
                except Py4JJavaError:  # never submitted, or evicted from the store
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                tot["stages"] += 1
                tot["tasks"] += sd.numTasks()
                tot["shuffle_bytes"] += sd.shuffleWriteBytes()
                tot["spill_bytes"] += sd.diskBytesSpilled() + sd.memoryBytesSpilled()
        return tot

    def node_metrics(self, job_ids: list[int]) -> list[tuple[str, str, float]]:
        """(node name, metric name, value) for every SQL plan node of the
        executions that ran any of ``job_ids``."""
        wanted = set(job_ids)
        out = []
        execs = self.sql.executionsList()
        for k in range(execs.size()):
            e = execs.apply(k)
            it = e.jobs().keySet().iterator()
            ran = set()
            while it.hasNext():
                ran.add(int(it.next()))
            if not ran & wanted:
                continue
            values = self.sql.executionMetrics(e.executionId())
            nodes = self.sql.planGraph(e.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        out.append((node.name(), m.name(), parse_metric(v.get())))
        return out


def python_seconds(nodes, node_prefix: str) -> float:
    return sum(v for n, m, v in nodes
               if n.startswith(node_prefix) and m == "time to run Python workers")


# --- attribution ---------------------------------------------------------------

def analyze(tracer: Tracer, stats: SparkStats, rep: str) -> dict:
    """Per-layer self time, jobs and shuffle for one traced repetition, plus
    the whole-run totals. The root span is the pipeline call."""
    tagged = [s for s in tracer.spans if s.rep == rep]
    root = next(s for s in tagged if s.parent is None and s.name.startswith("KGPipeline"))
    children: dict[int, list[Span]] = {}
    for s in tagged:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    spans, frontier = [root], [root]
    while frontier:
        kids = children.get(frontier.pop().id, [])
        spans += kids
        frontier += kids
    commits = sorted((s for s in spans if s.attrs.get("commit")), key=lambda s: s.start)

    def layer_of(s: Span) -> str:
        if s.layer is not None:
            return s.layer
        nxt = next((c for c in commits if c.start >= s.end), None)
        return nxt.layer if nxt else "catalog"

    self_s = dict.fromkeys(LAYERS, 0.0)
    jobs = {k: [] for k in LAYERS}
    for s in spans:
        if s is root:
            continue
        own = s.dur - sum(c.dur for c in children.get(s.id, []))
        layer = layer_of(s)
        js = stats.jobs(tracer.group(s))
        if s.attrs.get("table") == "documents":
            # the documents commit runs the source scan/parse and html→text
            # in one job: split its time by the two nodes' measured cost
            nodes = stats.node_metrics(js)
            src = python_seconds(nodes, "MapInPandas") + sum(
                v for n, m, v in nodes if n.startswith("Scan") and m == "scan time")
            h2t = python_seconds(nodes, "ArrowEvalPython")
            share = src / (src + h2t) if src + h2t > 0 else 0.0
            self_s["source"] += own * share
            self_s["html2text"] += own * (1 - share)
        else:
            self_s[layer] += own
        jobs[layer].extend(js)
    unattributed = root.dur - sum(c.dur for c in children.get(root.id, []))
    all_jobs = stats.jobs(tracer.group(root)) + [j for v in jobs.values() for j in v]
    triples_jobs = [j for s in commits if s.attrs["table"] == "triples"
                    for j in stats.jobs(tracer.group(s))]
    return {
        "wall_s": root.dur,
        "self_s": self_s,
        "unattributed_s": unattributed,
        "jobs": {k: len(v) for k, v in jobs.items()},
        "kg_shuffle_mb": stats.stage_totals(jobs["kg"])["shuffle_bytes"] / 1e6,
        "commit_s": sum(s.dur for s in commits),
        "commits": len(commits),
        "commit_mb": sum(s.attrs.get("mb", 0.0) for s in commits),
        "commit_jobs": sum(len(stats.jobs(tracer.group(s))) for s in commits),
        "extract_python_s": python_seconds(stats.node_metrics(triples_jobs), "MapInPandas"),
        "cc_rounds": sum(s.attrs.get("cc_rounds", 0) for s in spans),
        "alias_dfs": [s.attrs["df"] for s in spans if "df" in s.attrs],
        "spark": {"jobs": len(all_jobs), **stats.stage_totals(all_jobs)},
        "first_commit_offset_s": (commits[0].start - root.start) if commits else 0.0,
    }


def layer_table(workload: str, a: dict) -> str:
    """Human-readable self time per layer for one traced repetition."""
    wall = a["wall_s"]
    lines = [f"{workload}: self time per layer (traced rep, wall {wall:.2f} s)",
             f"  {'layer':<12}{'self_s':>9}{'share':>8}{'jobs':>6}"]
    for k in LAYERS:
        lines.append(f"  {k:<12}{a['self_s'][k]:>9.3f}{a['self_s'][k] / wall:>8.1%}"
                     f"{a['jobs'][k]:>6}")
    lines.append(f"  {'unattrib.':<12}{a['unattributed_s']:>9.3f}"
                 f"{a['unattributed_s'] / wall:>8.1%}")
    return "\n".join(lines)


def dump_spans(tracer: Tracer, path: str) -> None:
    import json

    with open(path, "w") as fh:
        for s in tracer.spans:
            fh.write(json.dumps({
                "id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
                "rep": s.rep, "start": s.start, "end": s.end,
                "attrs": {k: v for k, v in s.attrs.items() if k != "df"},
            }) + "\n")
