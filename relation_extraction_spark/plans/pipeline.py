"""Staged, checkpointed, resumable KG-construction pipeline (SURVEY.md §7).

Stage DAG (each stage = committed catalog table + per-partition lineage rows):

    documents → text → triples → edges+vertices → corrected → canonical_edges

The reference "checkpoints" by writing a JSONL file between every script
(SURVEY.md §3.3); here every stage commits a catalog table plus a lineage
table ``lineage_<stage>(stage, partition_id, url_min, url_max, row_count,
n_distinct_keys[, n_distinct_<col>...])`` — key range, row/doc counts and
per-stage decode stats (predicate diversity for the triples stage) —
so a rerun resumes from the last committed stage — at 10^12-document scale
that is the difference between losing a day and losing one stage.

Every table commits flat — no hive ``key=`` partition directories. Nothing
reads a stage back by a partition value, so a directory layout would only
add files and write/list time; lineage rows are per read-back partition
for every stage alike.

The KG stages (edges, vertices, corrected, canonical_edges) are set up once,
in ``_kg_stages``, for both ``run`` and ``run_incremental``. The canonical
stage resolves its alias graph in a single task (operators/linking.py), so
its Spark job count does not depend on the shape of the alias graph.

Lineage rows are computed AFTER the commit from the committed table itself,
reading only the key column (parquet column pruning — the scan touches one
string column of the just-written files, not the stage's input or payload
columns), grouped by spark_partition_id of the read-back split. This is one
cheap extra pass by design: lineage must describe what was COMMITTED, and a
same-job accumulator would record pre-commit state that a partially-retried
write could contradict.

Independent work overlaps on a thread pool that ``run`` and
``run_incremental`` each own for one call (``POOL_WORKERS`` threads):

* **lineage in the background** — a stage commits and reads itself back on
  the caller's thread; building and committing ``lineage_<stage>`` runs on
  the pool, since no later stage reads it;
* **edges ∥ vertices** — both read only the committed ``triples``, so they
  run together and ``corrected`` waits for both.

Pool tasks carry the caller's Spark local properties (job group,
description, scheduler pool; ``inheritable_thread_target``), so a caller's
``cancelJobGroup`` reaches them. Every pending task is joined, and its
failure re-raised, before the ``processed_urls`` cut is committed: the cut
exists ⟹ every stage before it and that stage's lineage are committed.
Each table still has one writer, as ``Catalog`` requires. A stage that
recomputes drops its lineage table first, and a resumed stage whose lineage
is missing (a crash between the two commits) gets it rebuilt from the
committed table, so lineage never describes a different snapshot.
"""

from __future__ import annotations

import contextlib
import time
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.util import inheritable_thread_target

from ..operators.extract_triples import extract_text_df, extract_triples
from ..operators.kg import kg_correct, kg_edges, kg_vertices, self_check
from ..operators.linking import canonical_mapping, canonicalize_edges
from .catalog import Catalog


def lineage_rows(
    df: DataFrame, stage: str, key: str = "url",
    stat_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-partition lineage: key range + row count (every stage) plus decode
    stats (north_rule): ``n_distinct_keys`` (for the triples stage = number of
    documents that decoded to ≥1 triple; row_count / n_distinct_keys is the
    partition's triples-per-doc) and one distinct-count per ``stat_cols``
    entry (e.g. predicate diversity). The scan stays column-pruned to
    key + stat_cols of the committed files."""
    aggs = [
        F.min(key).alias("url_min"),
        F.max(key).alias("url_max"),
        F.count(F.lit(1)).alias("row_count"),
        F.countDistinct(key).alias("n_distinct_keys"),
    ]
    aggs += [F.countDistinct(c).alias(f"n_distinct_{c}") for c in stat_cols]
    return (
        df.select(key, *stat_cols)  # column-pruned lineage scan
        .withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(*aggs)
        .select(
            F.lit(stage).alias("stage"),
            F.col("_pid").alias("partition_id"),
            "*",
        )
        .drop("_pid")
    )


class KGPipeline:
    """Run stages with checkpoint/resume against a Catalog."""

    STAGES = ("documents", "triples", "edges", "vertices", "corrected", "canonical_edges")
    # no task waits for a thread: a call has at most seven in flight (one
    # lineage commit per stage, or edges and vertices plus the lineage
    # commits submitted before and by them)
    POOL_WORKERS = 8

    def __init__(self, spark: SparkSession, catalog_root: str, scorer=None,
                 signature_stop_max_df: int | None = None):
        self.spark = spark
        self.catalog = Catalog(spark, catalog_root)
        self.scorer = scorer
        # forwarded to canonical_mapping: cap on corpus-wide decoration
        # shingles in the LSH signatures (see linking.lsh_candidate_pairs) —
        # set on corpora whose entity names share honorific/suffix grams
        self.signature_stop_max_df = signature_stop_max_df
        # wall seconds from a stage's start to its committed read-back; its
        # lineage commit runs in the background and is not counted. 0.0 for
        # a stage served from the catalog on resume
        self.stage_seconds: dict[str, float] = {}
        self._pool: ThreadPoolExecutor | None = None
        # background lineage commits; pool threads append too (an atomic
        # list.append), only _join on the calling thread pops
        self._pending: list[Future] = []

    @contextlib.contextmanager
    def _background(self):
        """The thread pool of one ``run``/``run_incremental`` call. On exit
        every background task has finished; a normal exit re-raises the
        first failure among them."""
        self._pool = ThreadPoolExecutor(self.POOL_WORKERS,
                                        thread_name_prefix="kg-pipeline")
        try:
            yield
            self._join()
        finally:
            self._pool.shutdown(wait=True)
            self._pool, self._pending = None, []

    def _submit(self, fn, *args) -> Future:
        # the wrapper captures the caller's local properties and job tags
        # NOW, on the submitting thread, and sets them on the pool thread.
        # Without pinned threads (PYSPARK_PIN_THREAD=false) Python threads
        # own no JVM thread and pyspark hands back the session unchanged
        wrap = inheritable_thread_target(self.spark)
        return self._pool.submit(fn if wrap is self.spark else wrap(fn), *args)

    def _join(self) -> None:
        """Wait for every pending lineage commit (including ones submitted
        while waiting); re-raise the first failure."""
        first = None
        while self._pending:
            exc = self._pending.pop(0).exception()
            first = first or exc
        if first is not None:
            raise first

    def _lineage(self, name: str, out: DataFrame, key: str,
                 stat_cols: tuple[str, ...]) -> None:
        """Build and commit ``lineage_<name>`` from the committed ``out`` on
        the pool; ``_join`` waits for it."""
        def commit():
            if key in out.columns:
                self.catalog.write(f"lineage_{name}", lineage_rows(
                    out, name, key, tuple(c for c in stat_cols if c in out.columns)))
        self._pending.append(self._submit(commit))

    def _stage(self, name: str, compute, resume: bool, key: str = "url",
               stat_cols: tuple[str, ...] = ()) -> DataFrame:
        if resume and self.catalog.exists(name):
            out = self.catalog.read(name)
            if "bucket" in out.columns:
                # edges/canonical_edges committed as hive bucket= directories
                # by the retired layout: serving them would leak the column
                raise ValueError(
                    f"stage {name!r} was committed with the retired 'bucket' "
                    "layout column; rebuild with resume=False.")
            if not self.catalog.exists(f"lineage_{name}"):
                # the run that committed the stage died before its lineage
                self._lineage(name, out, key, stat_cols)
            self.stage_seconds[name] = 0.0
            return out
        t0 = time.time()
        # the old lineage describes the snapshot about to be replaced; a
        # crash before the new one commits must leave none, not a stale one
        self.catalog.drop(f"lineage_{name}")
        self.catalog.write(name, compute())
        out = self.catalog.read(name)
        self.stage_seconds[name] = round(time.time() - t0, 2)
        self._lineage(name, out, key, stat_cols)
        return out

    def _kg_stages(self, out: dict[str, DataFrame], resume: bool) -> None:
        """edges ∥ vertices → corrected → canonical_edges over the committed
        ``out["triples"]`` and ``out["documents"]``; shared by ``run`` and
        ``run_incremental``."""
        edges = self._submit(self._stage, "edges",
                             lambda: kg_edges(out["triples"]), resume, "subject")
        vertices = self._submit(self._stage, "vertices",
                                lambda: kg_vertices(out["triples"]), resume, "entity")
        out["edges"], out["vertices"] = edges.result(), vertices.result()

        def corrected():
            t = out["triples"].join(
                out["documents"].select("url", "text"), "url", "left")
            return kg_correct(t, out["edges"], out["vertices"])

        out["corrected"] = self._stage("corrected", corrected, resume)

        def canonical():
            # edges (kg_edges dedup + self_check joins over ALL triples) and
            # entities feed several consumers (candidate generation, the
            # mapping join, edge rewrite); materialize each once — they are
            # orders of magnitude smaller than the triple table — instead of
            # re-running the dedup per consumer. kg_edges is checkpointed
            # BEFORE self_check: self_check scans its edges input twice
            # (conflict-pair groupBy + final anti-join)
            raw_edges = kg_edges(out["corrected"]).localCheckpoint(eager=True)
            edges = self_check(raw_edges, out["vertices"]) \
                .localCheckpoint(eager=True)
            entities = edges.select(F.col("subject").alias("entity")).union(
                edges.select("object")).dropDuplicates().localCheckpoint(eager=True)
            mapping = canonical_mapping(
                entities, signature_stop_max_df=self.signature_stop_max_df)
            return canonicalize_edges(edges, mapping)

        out["canonical_edges"] = self._stage(
            "canonical_edges", canonical, resume, key="subject")

    def run(self, documents: DataFrame, resume: bool = True,
            curate: bool = False,
            curate_opts: dict | None = None) -> dict[str, DataFrame]:
        """``curate=True`` inserts a committed curation stage (exact +
        paragraph dedup, quality/repetition gates, PII redaction — see
        operators/curation.curate_docs) between text extraction and triple
        extraction. ``curate_opts`` forwards thresholds; the default gates
        are English-centric, so pass permissive ones for CJK corpora.

        Resume consistency (guarded in BOTH directions, plus an opts check):
        toggling ``curate`` against a catalog whose downstream stages are
        already committed — or resuming with *different* curate_opts than
        the ones the committed 'curated' table was built with (persisted in
        the 'curate_opts' sidecar table) — would silently serve stale
        triples, so each case raises instead."""
        import json

        opts_json = json.dumps(curate_opts or {}, sort_keys=True, default=str)
        if curate and resume and self.catalog.exists("triples") \
                and not self.catalog.exists("curated"):
            raise ValueError(
                "resume with curate=True over a catalog built WITHOUT a "
                "curated stage: the committed 'triples' table would bypass "
                "curation. Use a fresh catalog root or resume=False.")
        if not curate and resume and self.catalog.exists("curated"):
            raise ValueError(
                "resume with curate=False over a catalog built WITH a "
                "curated stage: the committed downstream tables were derived "
                "from curated text and would be served as if uncurated. "
                "Resume with curate=True, or rebuild with resume=False.")
        if curate and resume and self.catalog.exists("curated"):
            if not self.catalog.exists("curate_opts"):
                raise ValueError(
                    "resume with curate=True but the catalog has no "
                    "'curate_opts' sidecar to verify the committed curated "
                    "stage against (catalog predates opts tracking). "
                    "Rebuild with resume=False to record them.")
            committed = self.catalog.read("curate_opts").head()["opts"]
            if committed != opts_json:
                raise ValueError(
                    "resume with curate_opts different from the ones the "
                    "committed 'curated' stage was built with — the resumed "
                    f"output would be stale. committed={committed} "
                    f"requested={opts_json}. Use the committed opts, or "
                    "rebuild with resume=False.")
        if not resume:
            # a fresh rebuild invalidates the incremental cut IMMEDIATELY
            # (it is re-committed at the end) so "processed_urls exists" ⟺
            # "the base run completed" holds through any mid-run crash —
            # a stale cut would make run_incremental silently drop urls.
            # A stale curated table from an earlier curate=True run would
            # likewise keep blocking run_incremental forever.
            if self.catalog.exists("processed_urls"):
                self.catalog.drop("processed_urls")
            if not curate and self.catalog.exists("curated"):
                self.catalog.drop("curated")
            if not curate and self.catalog.exists("curate_opts"):
                self.catalog.drop("curate_opts")
        out: dict[str, DataFrame] = {}
        with self._background():
            out["documents"] = self._stage(
                "documents", lambda: extract_text_df(documents), resume)
            extract_input = out["documents"]
            if curate:
                from ..operators.curation import curate_docs

                def curated():
                    kept = curate_docs(out["documents"], id_col="url",
                                       **(curate_opts or {}))
                    # restore the columns extraction consumes (lang); curated
                    # text replaces the raw text
                    return out["documents"].select("url", "lang").join(kept, "url")

                if not (resume and self.catalog.exists("curated")):
                    # the stage is about to (re)compute: drop any STALE committed
                    # curated table FIRST, then commit the opts sidecar, then
                    # recompute. Ordering matters for crash safety — with the old
                    # "sidecar first, keep stale table" order, a crash after the
                    # sidecar write but before the curated commit left
                    # sidecar=new-opts + curated=old-data, and a later
                    # resume=True run with the new opts passed the opts guard
                    # and silently served the stale curated triples. With the
                    # drop up front, every crash window leaves the catalog
                    # either without a curated table (→ recompute on resume) or
                    # with a freshly-committed table matching the sidecar.
                    if self.catalog.exists("curated"):
                        self.catalog.drop("curated")
                    # a JVM literal: createDataFrame over a Python list runs
                    # a Python task per slot just to serialize one row
                    self.catalog.write("curate_opts", self.spark.range(1).select(
                        F.lit(opts_json).alias("opts")))
                out["curated"] = self._stage("curated", curated, resume)
                extract_input = out["curated"]
            out["triples"] = self._stage(
                "triples", lambda: extract_triples(extract_input, scorer=self.scorer),
                resume, stat_cols=("predicate",))
            self._kg_stages(out, resume)
            # the incremental cut (see run_incremental): these urls now have
            # every stage and its lineage committed
            self._join()
            self.catalog.write(
                "processed_urls", out["documents"].select("url").dropDuplicates())
        return out

    def run_incremental(self, new_documents: DataFrame) -> dict[str, DataFrame]:
        """Crawl-increment run: extract ONLY urls not already fully
        processed, append to the document and triple tables, then rebuild
        the KG stages. The rebuild is the cheap part by design: at any
        corpus size edges/vertices/canonicalization scale with the DISTINCT
        entity/edge set, not the document count (measured flat from
        500k → 5M docs, BENCH/BASELINE.md), while the expensive extraction
        touches only the increment.

        Crash safety via a CONSISTENT CUT: ``processed_urls`` is committed
        only AFTER the merged documents and triples and their lineage land.
        A retry after a crash anywhere mid-increment semi-joins the tables
        back to the cut (dropping any partial increment rows) and redoes the
        increment from scratch — no triples are ever silently lost and
        none are duplicated. A crash after the cut advances leaves only
        the KG stages stale, and any later run_incremental (even a no-op
        one) rebuilds them. First call on an empty catalog behaves exactly
        like ``run``. All joins key on url — uniform; nothing is collected.
        """
        if self.catalog.exists("curated"):
            raise ValueError(
                "run_incremental does not support curated catalogs yet: the "
                "increment would bypass the committed curation stage. Re-run "
                "the full pipeline with curate=True on the merged corpus.")
        if not self.catalog.exists("documents"):
            # before this call opens its pool: run() opens its own
            return self.run(new_documents, resume=False)
        if not self.catalog.exists("triples") \
                or not self.catalog.exists("processed_urls"):
            # the cut is committed LAST by both run() and run_incremental(),
            # so its presence certifies a fully completed base — a partially
            # crashed full rebuild must be finished stage-wise first
            raise ValueError(
                "base run incomplete (no committed processed_urls cut): "
                "finish it with run(resume=True) before applying increments.")
        processed = self.catalog.read("processed_urls")
        prev_docs = self.catalog.read("documents").join(processed, "url", "left_semi")
        prev_triples = self.catalog.read("triples").join(processed, "url", "left_semi")
        fresh = new_documents.join(processed, "url", "left_anti")
        # materialize once: consumed by the documents write, the extraction,
        # and the cut advance
        docs_inc = extract_text_df(fresh).localCheckpoint(eager=True)
        triples_inc = extract_triples(docs_inc, scorer=self.scorer)
        out: dict[str, DataFrame] = {}
        with self._background():
            out["documents"] = self._stage(
                "documents", lambda: prev_docs.unionByName(docs_inc), False)
            out["triples"] = self._stage(
                "triples", lambda: prev_triples.unionByName(triples_inc), False,
                stat_cols=("predicate",))
            # advance the cut ONLY now that both commits and their lineage
            # exist
            self._join()
            self.catalog.write(
                "processed_urls",
                processed.unionByName(docs_inc.select("url")).dropDuplicates())
            # KG stages recompute over the merged triple table (entity-set
            # sized); resume=False because their committed versions describe
            # the pre-increment corpus
            self._kg_stages(out, False)
        return out
