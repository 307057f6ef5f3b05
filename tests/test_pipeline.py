"""Staged pipeline: checkpoint, lineage, resume (north_rule resumability)."""

import pytest

from relation_extraction_spark.plans.pipeline import KGPipeline
from relation_extraction_spark.synthetic import documents_df


@pytest.fixture(scope="module")
def run_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("kg_run"))


def test_pipeline_all_stages(spark, run_dir):
    docs = documents_df(spark, 120)
    pipe = KGPipeline(spark, run_dir)
    out = pipe.run(docs, resume=False)
    assert out["triples"].count() > 0
    assert out["edges"].count() > 0
    assert out["canonical_edges"].count() > 0
    # every stage committed + lineage written
    for stage in ("documents", "triples", "edges", "vertices", "corrected",
                  "canonical_edges"):
        assert pipe.catalog.exists(stage), stage
        lin = pipe.catalog.read(f"lineage_{stage}")
        assert lin.where("row_count > 0").count() > 0


def test_kg_tables_commit_flat_and_match_star_reference(spark, run_dir):
    """edges and canonical_edges commit flat (no ``bucket`` layout column),
    and canonical_edges equals the edge rewrite through a mapping built
    with the distributed star CC — a reference independent of the one-task
    resolver the pipeline ships."""
    import pyspark.sql.functions as F

    from relation_extraction_spark.operators.kg import kg_edges, self_check
    from relation_extraction_spark.operators.linking import (
        canonicalize_edges, connected_components_star, lsh_candidate_pairs,
        verified_alias_pairs)

    cat = KGPipeline(spark, run_dir).catalog
    for table in ("edges", "canonical_edges"):
        assert "bucket" not in cat.read(table).columns, table
    edges = self_check(kg_edges(cat.read("corrected")), cat.read("vertices"))
    entities = edges.select(F.col("subject").alias("entity")).union(
        edges.select("object")).dropDuplicates()
    aliases = verified_alias_pairs(lsh_candidate_pairs(entities), entities)
    assert aliases.count() > 0  # the comparison must exercise some merge
    comp = connected_components_star(aliases)
    mapping = entities.join(comp, "entity", "left").select(
        "entity", F.coalesce("component", F.col("entity")).alias("canonical"))
    want = sorted(map(tuple, canonicalize_edges(edges, mapping).collect()))
    got = sorted(map(tuple, cat.read("canonical_edges").collect()))
    assert got == want


def test_resume_refuses_retired_bucket_layout(spark, tmp_path):
    """A stage committed by the retired hash-bucket layout still carries its
    ``bucket`` column; resuming over it must raise, not serve the column."""
    pipe = KGPipeline(spark, str(tmp_path))
    pipe.catalog.write("edges", spark.createDataFrame(
        [("s", "p", "o", 3)], "subject string, predicate string, object string, bucket int"))
    with pytest.raises(ValueError, match="resume=False"):
        pipe._stage("edges", lambda: None, True, key="subject")


def test_pipeline_resume_skips_committed(spark, run_dir):
    """Drop a late stage; rerun must reuse earlier checkpoints and only
    recompute from the dropped stage onward."""
    pipe = KGPipeline(spark, run_dir)
    before = pipe.catalog.read("triples").count()
    pipe.catalog.drop("canonical_edges")
    # poison the input: if resume re-extracted, counts would change
    docs = documents_df(spark, 10)
    out = pipe.run(docs, resume=True)
    assert pipe.catalog.read("triples").count() == before
    assert out["canonical_edges"].count() > 0


def test_lineage_covers_all_rows(spark, run_dir):
    pipe = KGPipeline(spark, run_dir)
    total = pipe.catalog.read("triples").count()
    lin = pipe.catalog.read("lineage_triples")
    assert sum(r["row_count"] for r in lin.collect()) == total


def test_lineage_decode_stats(spark, run_dir):
    """north_rule: lineage rows carry decode stats, not just counts — docs
    that decoded to ≥1 triple and predicate diversity, per partition."""
    pipe = KGPipeline(spark, run_dir)
    lin = pipe.catalog.read("lineage_triples").collect()
    assert {"n_distinct_keys", "n_distinct_predicate"} <= set(lin[0].asDict())
    triples = pipe.catalog.read("triples")
    n_docs = triples.select("url").distinct().count()
    n_preds = triples.select("predicate").distinct().count()
    # partition-level distincts cover the global set (≥ global on sums,
    # == when a key never spans partitions; both bounds must hold loosely)
    assert sum(r["n_distinct_keys"] for r in lin) >= n_docs
    assert max(r["n_distinct_predicate"] for r in lin) <= n_preds
    for r in lin:
        assert 0 < r["n_distinct_keys"] <= r["row_count"]


def test_resume_backfills_missing_lineage(spark, run_dir):
    """A crash between a stage commit and its background lineage commit
    leaves the stage without lineage: resume rebuilds it from the committed
    table instead of serving the stage without it forever."""
    pipe = KGPipeline(spark, run_dir)
    pipe.catalog.drop("lineage_triples")
    pipe.run(documents_df(spark, 10), resume=True)  # poison: nothing recomputes
    assert set(pipe.stage_seconds.values()) == {0.0}
    lin = pipe.catalog.read("lineage_triples").collect()
    assert sum(r["row_count"] for r in lin) == pipe.catalog.read("triples").count()


def test_failed_lineage_commit_blocks_cut(spark, tmp_path, monkeypatch):
    """A lineage commit that fails on the pool (here lineage_edges, whose
    stage itself runs on the pool) fails the run before the processed_urls
    cut; the rebuild leaves no stale lineage of the replaced snapshot, and
    resume backfills it."""
    from relation_extraction_spark.plans.catalog import Catalog

    docs = documents_df(spark, 40)
    pipe = KGPipeline(spark, str(tmp_path))
    pipe.run(docs, resume=False)
    write = Catalog.write

    def failing_write(self, name, df):
        if name == "lineage_edges":
            raise RuntimeError("lineage_edges commit failed")
        write(self, name, df)

    monkeypatch.setattr(Catalog, "write", failing_write)
    with pytest.raises(RuntimeError, match="lineage_edges"):
        pipe.run(docs, resume=False)
    assert not pipe.catalog.exists("processed_urls")
    assert pipe.catalog.exists("edges") and not pipe.catalog.exists("lineage_edges")
    monkeypatch.undo()
    pipe.run(docs, resume=True)
    assert set(pipe.stage_seconds.values()) == {0.0}
    lin = pipe.catalog.read("lineage_edges").collect()
    assert sum(r["row_count"] for r in lin) == pipe.catalog.read("edges").count()
    assert pipe.catalog.exists("processed_urls")


def test_pool_jobs_stay_in_callers_job_group(spark, tmp_path):
    """Every Spark job a run starts, on the pool included, carries the
    caller's job group, so ``cancelJobGroup`` reaches all of them."""
    import time

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker_job(group: str) -> int:
        sc.setJobGroup(group, group)
        spark.range(1).collect()
        for _ in range(200):  # the status store is fed asynchronously
            ids = tracker.getJobIdsForGroup(group)
            if ids:
                return max(ids)
            time.sleep(0.05)
        raise AssertionError(f"marker job of {group} never reported")

    try:
        before = marker_job("pipeline-test-before")
        sc.setJobGroup("pipeline-test-run", "pipeline run")
        KGPipeline(spark, str(tmp_path)).run(documents_df(spark, 30), resume=False)
        after = marker_job("pipeline-test-after")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    started = set(range(before + 1, after))
    assert started and started <= set(tracker.getJobIdsForGroup("pipeline-test-run"))


def test_pipeline_with_curation_stage(spark, tmp_path):
    """curate=True commits a curation stage between text and triple
    extraction; permissive thresholds for the CJK corpus (the default
    gates are English-centric by design)."""
    docs = documents_df(spark, 80)
    pipe = KGPipeline(spark, str(tmp_path))
    opts = {"min_quality": 0.0, "max_dup_word_frac": 1.0, "max_top_gram_frac": 1.0}
    out = pipe.run(docs, resume=False, curate=True, curate_opts=opts)
    assert pipe.catalog.exists("curated")
    n_curated = out["curated"].count()
    assert 0 < n_curated <= out["documents"].count()
    assert out["triples"].count() > 0
    assert pipe.catalog.read("lineage_curated").count() > 0
    # resume replays nothing, including the curated stage
    out2 = pipe.run(docs, resume=True, curate=True, curate_opts=opts)
    assert pipe.stage_seconds["curated"] == 0.0
    assert out2["triples"].count() == out["triples"].count()
    # resume-consistency guards (both directions + opts drift):
    # 1) curate=False over a curated catalog must not serve curated triples
    with pytest.raises(ValueError, match="curate=False"):
        pipe.run(docs, resume=True, curate=False)
    # 2) different curate_opts than the committed sidecar must not resume
    with pytest.raises(ValueError, match="curate_opts"):
        pipe.run(docs, resume=True, curate=True,
                 curate_opts={**opts, "min_quality": 0.5})


def test_incremental_run_appends_only_new_urls(spark, tmp_path):
    """A crawl increment extracts only unseen urls; the merged catalog
    equals a from-scratch run over the full corpus, and a no-op increment
    changes nothing."""
    pipe = KGPipeline(spark, str(tmp_path / "inc"))
    first = pipe.run(documents_df(spark, 80), resume=False)
    n80 = first["triples"].count()
    # increment: 120 docs, 80 of them already processed
    out = pipe.run_incremental(documents_df(spark, 120))
    ref = KGPipeline(spark, str(tmp_path / "full")).run(
        documents_df(spark, 120), resume=False)
    assert out["triples"].count() == ref["triples"].count() > n80
    assert out["documents"].count() == 120
    assert (sorted(map(tuple, out["canonical_edges"].collect()))
            == sorted(map(tuple, ref["canonical_edges"].collect())))
    # idempotent: nothing new -> same counts
    again = pipe.run_incremental(documents_df(spark, 120))
    assert again["triples"].count() == ref["triples"].count()


def test_incremental_recovers_from_mid_increment_crash(spark, tmp_path):
    """Crash window: merged documents committed but triples/processed not.
    The consistent cut makes the retry filter the partial rows out and
    redo the increment — no triples lost, none duplicated."""
    pipe = KGPipeline(spark, str(tmp_path / "c"))
    pipe.run(documents_df(spark, 80), resume=False)
    # simulate the crashed increment: documents table already merged to 120
    from relation_extraction_spark.operators.extract_triples import extract_text_df

    pipe.catalog.write("documents", extract_text_df(documents_df(spark, 120)))
    out = pipe.run_incremental(documents_df(spark, 120))
    ref = KGPipeline(spark, str(tmp_path / "ref")).run(
        documents_df(spark, 120), resume=False)
    assert out["triples"].count() == ref["triples"].count()
    assert out["documents"].count() == 120


def test_crash_between_sidecar_and_curated_commit_fails_safe(spark, tmp_path):
    """Crash window: a resume=False rebuild with NEW curate_opts over a
    catalog holding a committed curated stage (built with OLD opts) dies
    after the curate_opts sidecar write but before the curated stage
    commits. The stale curated table must NOT be servable afterwards: the
    rebuild drops it up front, so the post-crash catalog has
    sidecar=new-opts + curated=missing, and a later resume=True raises
    (triples committed without a curated stage) instead of silently
    serving old-opts triples behind a passing opts guard."""
    docs = documents_df(spark, 20)
    pipe = KGPipeline(spark, str(tmp_path))
    old = {"min_quality": 0.0, "max_dup_word_frac": 1.0, "max_top_gram_frac": 1.0}
    pipe.run(docs, resume=False, curate=True, curate_opts=old)
    assert pipe.catalog.exists("curated")
    # rebuild with different opts; the bogus kwarg makes curate_docs raise
    # INSIDE the curated stage recompute — i.e. after the sidecar write,
    # before the curated commit — simulating a crash in exactly that window
    new = {**old, "min_quality": 0.25, "bogus_opt_to_crash": 1}
    with pytest.raises(TypeError):
        pipe.run(docs, resume=False, curate=True, curate_opts=new)
    # the stale table is gone (dropped before the sidecar was written) ...
    assert not pipe.catalog.exists("curated")
    import json
    committed = pipe.catalog.read("curate_opts").head()["opts"]
    assert committed == json.dumps(new, sort_keys=True, default=str)
    # ... so resuming cannot serve stale curated triples: it fails safe
    with pytest.raises(ValueError, match="WITHOUT a"):
        pipe.run(docs, resume=True, curate=True,
                 curate_opts={k: v for k, v in new.items() if k != "bogus_opt_to_crash"})
    # and a clean rebuild recovers fully
    out = pipe.run(docs, resume=False, curate=True, curate_opts=old)
    assert out["triples"].count() > 0
    assert pipe.catalog.exists("curated")


def test_fresh_rebuild_invalidates_cut_and_stale_curated(spark, tmp_path):
    """resume=False drops the incremental cut up front (re-committed at the
    end) so 'processed_urls exists ⟺ base completed' survives crashes, and
    drops a stale curated table so an uncurated rebuild doesn't block
    run_incremental forever."""
    pipe = KGPipeline(spark, str(tmp_path))
    opts = {"min_quality": 0.0, "max_dup_word_frac": 1.0, "max_top_gram_frac": 1.0}
    pipe.run(documents_df(spark, 20), resume=False, curate=True, curate_opts=opts)
    assert pipe.catalog.exists("curated") and pipe.catalog.exists("processed_urls")
    # uncurated full rebuild on the same catalog
    pipe.run(documents_df(spark, 30), resume=False)
    assert not pipe.catalog.exists("curated")
    assert pipe.catalog.read("processed_urls").count() == 30
    # increment now works (previously blocked by the stale curated table)
    out = pipe.run_incremental(documents_df(spark, 40))
    assert out["documents"].count() == 40


def test_orphan_schema_sidecar_is_harmless(spark, tmp_path):
    """The sidecar commits BEFORE the data job (a sidecar written after
    _SUCCESS left a crash window where a committed empty table was
    unreadable). The reverse orphan — sidecar without data, a crash before
    the write — must be invisible: the table stays uncommitted, and the
    next write supersedes it."""
    from relation_extraction_spark.plans.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    df = spark.range(3).selectExpr("cast(id as string) as url")
    cat._write_schema(cat._schema_sidecar_path("t", 1), df)  # simulated crash before data
    assert not cat.exists("t")
    cat.write("t", df)
    assert cat.read("t").count() == 3
    # empty table written through the normal path stays readable
    cat.write("empty", df.limit(0))
    assert cat.read("empty").count() == 0 and cat.read("empty").columns == ["url"]


def test_incremental_guards(spark, tmp_path):
    from relation_extraction_spark.plans.catalog import Catalog

    # curated catalog → refuse
    pipe = KGPipeline(spark, str(tmp_path / "cur"))
    opts = {"min_quality": 0.0, "max_dup_word_frac": 1.0, "max_top_gram_frac": 1.0}
    pipe.run(documents_df(spark, 20), resume=False, curate=True, curate_opts=opts)
    with pytest.raises(ValueError, match="curated"):
        pipe.run_incremental(documents_df(spark, 30))
    # base run with documents but no triples → refuse with guidance
    cat_root = str(tmp_path / "partial")
    Catalog(spark, cat_root).write(
        "documents", documents_df(spark, 10).limit(5))
    with pytest.raises(ValueError, match="incomplete"):
        KGPipeline(spark, cat_root).run_incremental(documents_df(spark, 10))


def test_empty_corpus_pipeline(spark, tmp_path):
    """An empty stage result is legitimate at scale (a filter can drop an
    entire slice): the schema sidecar makes the committed-but-empty table
    readable, and every downstream stage (incl. CC canonicalization)
    tolerates zero rows. Resume over the empty catalog also replays clean."""
    docs = documents_df(spark, 5).limit(0)
    pipe = KGPipeline(spark, str(tmp_path))
    out = pipe.run(docs, resume=False)
    assert {k: v.count() for k, v in out.items()} == {
        "documents": 0, "triples": 0, "edges": 0, "vertices": 0,
        "corrected": 0, "canonical_edges": 0}
    out2 = pipe.run(docs, resume=True)
    assert out2["canonical_edges"].count() == 0
    assert pipe.stage_seconds["triples"] == 0.0


def test_resume_curate_over_uncurated_catalog_refuses(spark, tmp_path):
    """Toggling curate=True against a catalog whose triples were committed
    WITHOUT curation must fail loudly, not serve stale uncurated triples."""
    from relation_extraction_spark.operators.extract_triples import extract_triples

    pipe = KGPipeline(spark, str(tmp_path))
    pipe.catalog.write("triples", extract_triples(documents_df(spark, 10)))
    with pytest.raises(ValueError, match="curated"):
        pipe.run(documents_df(spark, 10), resume=True, curate=True)


def test_uncommitted_stage_recomputed(spark, tmp_path):
    """Versioned snapshot protocol: a version directory without the job-commit
    _SUCCESS marker (simulated crash mid-write) is invisible to readers — the
    previous committed snapshot stays readable; with no committed version the
    table does not exist."""
    import os

    from relation_extraction_spark.plans.catalog import Catalog

    # grace=0: explicit single-writer contract, crashed leftovers reclaimed
    # immediately (the default 300s grace would spare the fresh fake-crash dir)
    cat = Catalog(spark, str(tmp_path), inflight_grace_seconds=0)
    df = spark.range(10).selectExpr("cast(id as string) as url")
    cat.write("t", df)
    assert cat.exists("t")
    # crash mid-write of the NEXT version: dir exists, no _SUCCESS
    os.makedirs(os.path.join(str(tmp_path), "t", "v2"))
    assert cat.read("t").count() == 10  # still the v1 snapshot
    # a subsequent successful write commits v3 and vacuums the garbage v2
    cat.write("t", spark.range(7).selectExpr("cast(id as string) as url"))
    assert cat.read("t").count() == 7
    assert not os.path.exists(os.path.join(str(tmp_path), "t", "v2"))
    # no committed version at all → table absent
    for v in os.listdir(os.path.join(str(tmp_path), "t")):
        marker = os.path.join(str(tmp_path), "t", v, "_SUCCESS")
        if os.path.exists(marker):
            os.remove(marker)
    assert not cat.exists("t")
    try:
        cat.read("t")
        raise AssertionError("read of uncommitted table must fail")
    except FileNotFoundError:
        pass


def test_vacuum_inflight_grace_spares_recent_uncommitted(spark, tmp_path):
    """Vacuum (grace on — the default) spares a recently-modified uncommitted
    directory (possible concurrent writer mid-write) while still vacuuming
    old committed snapshots; explicit grace=0 (single-writer contract)
    reclaims it immediately."""
    import os

    from relation_extraction_spark.plans.catalog import Catalog

    df = spark.range(5).selectExpr("cast(id as string) as url")
    # concurrent-writer protection must be ON unless explicitly disabled
    assert Catalog(spark, str(tmp_path / "d")).inflight_grace_seconds > 0
    guarded = Catalog(spark, str(tmp_path / "g"), inflight_grace_seconds=3600)
    guarded.write("t", df)   # v1
    guarded.write("t", df)   # v2
    os.makedirs(os.path.join(str(tmp_path), "g", "t", "v3"))  # in-flight, fresh
    guarded.write("t", df)   # v4; keep {2,4}
    have = set(os.listdir(os.path.join(str(tmp_path), "g", "t")))
    assert "v3" in have          # fresh uncommitted dir spared
    assert "v1" not in have      # old committed snapshot vacuumed
    assert {"v2", "v4"} <= have
    assert guarded.read("t").count() == 5

    bare = Catalog(spark, str(tmp_path / "b"), inflight_grace_seconds=0)
    bare.write("t", df)
    os.makedirs(os.path.join(str(tmp_path), "b", "t", "v2"))
    bare.write("t", df)      # v3; explicit grace=0 reclaims crashed v2
    assert "v2" not in set(os.listdir(os.path.join(str(tmp_path), "b", "t")))


def test_catalog_time_travel(spark, tmp_path):
    """Iceberg-style VERSION AS OF within the keep-last-2 retention window:
    the previous snapshot stays readable after a replace; a vacuumed or
    never-committed version raises instead of serving stale/partial data."""
    from relation_extraction_spark.plans.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    cat.write("t", spark.createDataFrame([(1,)], "x int"))
    cat.write("t", spark.createDataFrame([(2,)], "x int"))
    assert cat.snapshots("t") == [1, 2]
    assert cat.read("t").head()["x"] == 2
    assert cat.read("t", version=1).head()["x"] == 1   # time travel
    cat.write("t", spark.createDataFrame([(3,)], "x int"))
    assert cat.snapshots("t") == [2, 3]                # v1 vacuumed
    assert cat.read("t", version=2).head()["x"] == 2
    with pytest.raises(FileNotFoundError, match="retained"):
        cat.read("t", version=1)
    with pytest.raises(FileNotFoundError, match="retained"):
        cat.read("t", version=99)
