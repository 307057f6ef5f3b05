"""Graph analytics over the KG edge table (operators/graph.py)."""

import pytest

from relation_extraction_spark.operators.graph import degrees, pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "subject string, object string")


def _pagerank_mirror(pairs, iters, d=0.85):
    """Independent python reimplementation (plain dicts)."""
    e = sorted(set(pairs))
    nodes = sorted({x for p in e for x in p})
    n = len(nodes)
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        for s, t in e:
            contrib[t] += rank[s] / outdeg[s]
        rank = {v: (1.0 - d) / n + d * contrib[v] for v in nodes}
    return rank


def test_degrees_counts(spark):
    out = {r["entity"]: r for r in degrees(
        _edges(spark, [("a", "b"), ("a", "c"), ("b", "c")])).collect()}
    assert (out["a"]["out_degree"], out["a"]["in_degree"], out["a"]["degree"]) == (2, 0, 2)
    assert (out["b"]["out_degree"], out["b"]["in_degree"]) == (1, 1)
    assert (out["c"]["out_degree"], out["c"]["in_degree"], out["c"]["degree"]) == (0, 2, 2)


def test_pagerank_matches_python_mirror(spark):
    pairs = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    got = {r["entity"]: r["rank"] for r in pagerank(_edges(spark, pairs), iters=4).collect()}
    want = _pagerank_mirror(pairs, iters=4)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_pagerank_dangling_and_duplicates(spark):
    # duplicate edges count once; dangling node b leaks its mass (documented)
    got = {r["entity"]: r["rank"] for r in pagerank(
        _edges(spark, [("a", "b"), ("a", "b")]), iters=1).collect()}
    assert got["a"] == pytest.approx(0.075)            # (1-d)/2
    assert got["b"] == pytest.approx(0.075 + 0.85 * 0.5)


def test_pagerank_empty_graph(spark):
    out = pagerank(_edges(spark, []).limit(0), iters=2)
    assert out.count() == 0 and out.columns == ["entity", "rank"]


def test_ivf_rejects_string_ids(spark):
    import pytest as _pt

    from relation_extraction_spark.operators.similarity import ivf_topk

    emb = spark.createDataFrame(
        [("a", [1.0, 0.0])], "vec_id string, embedding array<double>")
    q = emb.selectExpr("vec_id as query_id", "embedding as vector")
    with _pt.raises(TypeError, match="integral"):
        ivf_topk(emb, q, k=1, n_centroids=1, n_probe=1)


def test_ensemble_combiner_model_count_mismatch(spark):
    import numpy as np
    import pytest as _pt

    from relation_extraction_spark.operators.ensemble import (
        EnsembleScorer,
        LinearCrossChannelCombiner,
    )
    from relation_extraction_spark.operators.scorer import SurrogateScorer

    cc = LinearCrossChannelCombiner.mean_fixture(["ch"], n_models=2)
    with _pt.raises(ValueError, match="n_models"):
        EnsembleScorer([SurrogateScorer()] * 3, [1.0, 1.0, 1.0],
                       cross_combiner=cc)


def test_graph_ops_over_real_kg(spark):
    """degrees + pagerank consume the pipeline's own materialized edge
    table (kg_edges over gold triples), not just synthetic digraphs."""
    from relation_extraction_spark.operators.kg import kg_edges
    from relation_extraction_spark.synthetic import gold_triples_df

    edges = kg_edges(gold_triples_df(spark, 200))
    d = degrees(edges, src_col="subject", dst_col="object")
    assert d.count() > 0
    assert d.where("degree <= 0").count() == 0
    pr = pagerank(edges, iters=2, src_col="subject", dst_col="object")
    total = pr.agg({"rank": "sum"}).collect()[0][0]
    # dangling mass leaks, so the total is in (0, 1]
    assert 0.0 < total <= 1.0 + 1e-9
    assert pr.count() == d.count()


def test_sessionize_gap_splits(spark):
    import datetime as dt

    from relation_extraction_spark.operators.sessions import session_stats, sessionize

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, 10, t0),
        (2, 10, t0 + dt.timedelta(minutes=5)),        # same session (gap 5m)
        (3, 10, t0 + dt.timedelta(minutes=45)),       # gap 40m > 30m -> new
        (4, 20, t0),                                   # other user
    ]
    e = spark.createDataFrame(rows, "event_id int, user_id int, ts timestamp")
    s = sessionize(e, gap_seconds=1800)
    got = {r["event_id"]: r["session_no"] for r in s.collect()}
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}
    stats = {(r["user_id"], r["session_no"]): r for r in session_stats(s).collect()}
    assert stats[(10, 1)]["n_events"] == 2 and stats[(10, 1)]["duration_s"] == 300
    assert stats[(10, 2)]["n_events"] == 1 and stats[(10, 2)]["duration_s"] == 0
    # partition invariance
    a = sorted((r["event_id"], r["session_no"]) for r in sessionize(e.repartition(4), gap_seconds=1800).collect())
    assert a == sorted(got.items())


def test_session_stream_matches_batch_sessionize(spark, tmp_path):
    """Streaming session_window vs the batch sessionize operator on the
    same events: identical (user, n_events) session multisets. (Boundary
    semantics differ only at a gap EXACTLY equal to the threshold —
    session_window splits, sessionize merges — which the fixture avoids.)"""
    import datetime as dt

    from relation_extraction_spark.operators.sessions import session_stats, sessionize
    from relation_extraction_spark.streaming.stream import start_session_stream

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(5):
        # two sessions per user: 3 events 5min apart, a 2h break, 2 more
        for k in range(3):
            rows.append((eid, t0 + dt.timedelta(minutes=5 * k), u, "view", 1.0)); eid += 1
        for k in range(2):
            rows.append((eid, t0 + dt.timedelta(hours=3, minutes=5 * k), u, "view", 1.0)); eid += 1
    e = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double")
    src = str(tmp_path / "events_in")
    # ONE input file: with per-file triggers, randomly split files would
    # deliver time-disordered batches and the watermark would drop real
    # events as late — an input-construction artifact, not the semantics
    # under test
    e.coalesce(1).write.mode("overwrite").parquet(src)

    q = start_session_stream(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        gap="30 minutes", watermark="10 minutes")
    assert q.awaitTermination(120)
    # append mode emits only watermark-CLOSED sessions; the last batch's
    # sessions are still open when availableNow stops. A later sentinel
    # event in a second pass (same checkpoint → watermark resumes) pushes
    # the watermark past every real session; the sentinel's own session
    # stays open and is never emitted.
    sentinel = spark.createDataFrame(
        [(99999, t0 + dt.timedelta(days=30), 999, "flush", 0.0)],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double")
    sentinel.coalesce(1).write.mode("append").parquet(src)
    q2 = start_session_stream(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        gap="30 minutes", watermark="10 minutes")
    assert q2.awaitTermination(120)
    got = sorted(
        (r["user_id"], r["n_events"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect())
    want = sorted(
        (r["user_id"], r["n_events"])
        for r in session_stats(sessionize(e, gap_seconds=1800)).collect())
    assert got == want and len(got) == 10


def test_pagerank_partition_invariant(spark):
    pairs = [(f"n{i}", f"n{(i * 7 + 3) % 40}") for i in range(120)]
    e = _edges(spark, pairs)
    a = sorted((r["entity"], round(r["rank"], 10))
               for r in pagerank(e.repartition(1), iters=3).collect())
    b = sorted((r["entity"], round(r["rank"], 10))
               for r in pagerank(e.repartition(8), iters=3).collect())
    assert a == b


def test_pagerank_50_iters_flat_per_round(spark):
    """checkpoint_every truncates lineage: 50 iterations must not grow the
    logical plan (analysis time per round stays flat). Without in-loop
    checkpointing the plan nests 50 join rounds and the later rounds'
    planning dominates. Also: checkpointing must not change values."""
    import time

    pairs = [(f"n{i}", f"n{(i * 7 + 3) % 40}") for i in range(120)]
    e = _edges(spark, pairs)
    t0 = time.monotonic()
    r50 = pagerank(e, iters=50, checkpoint_every=5)
    vals = {r["entity"]: r["rank"] for r in r50.collect()}
    elapsed = time.monotonic() - t0
    assert elapsed < 120, f"50-iter pagerank took {elapsed:.0f}s"
    # ranks still sum to ≤ 1 (dangling mass leaks, never grows)
    assert 0.2 < sum(vals.values()) <= 1.000001
    # value parity: 5 checkpointed rounds == 5 plain rounds
    plain = {r["entity"]: r["rank"]
             for r in pagerank(e, iters=5, checkpoint_every=0).collect()}
    ckpt = {r["entity"]: r["rank"]
            for r in pagerank(e, iters=5, checkpoint_every=2).collect()}
    assert all(abs(plain[k] - ckpt[k]) < 1e-12 for k in plain)


def test_pagerank_tol_early_exit(spark):
    """L1 convergence early-exit: a tiny strongly-converging graph stops
    well before the iteration budget, and the result matches a plain run
    of the same executed round count."""
    pairs = [("a", "b"), ("b", "a"), ("c", "a")]
    e = _edges(spark, pairs)
    stats: dict = {}
    out = {r["entity"]: r["rank"]
           for r in pagerank(e, iters=100, tol=1e-3, checkpoint_every=5,
                             stats=stats).collect()}
    assert 0 < stats["rounds"] < 100
    ref = {r["entity"]: r["rank"]
           for r in pagerank(e, iters=stats["rounds"]).collect()}
    assert all(abs(out[k] - ref[k]) < 1e-12 for k in ref)


def test_cooccurrence_edges_lift_and_cap(spark):
    """Hand-computed lift: 5 docs, A/B/C each df=3; (A,B) and (B,C)
    co-occur twice -> lift_micro = 2*5*1e6 // 9 = 1111111; (A,C) once ->
    dropped by min_pairs. Mention multiplicity inside one doc counts once.
    per_doc_cap keeps the lexicographically-first entities only."""
    from relation_extraction_spark.operators.graph import cooccurrence_edges

    rows = [(1, "A"), (1, "A"), (1, "B"), (1, "C"),
            (2, "A"), (2, "B"),
            (3, "A"), (4, "B"), (4, "C"), (5, "C")]
    m = spark.createDataFrame(rows, "doc_id long, entity string")
    out = {(r["a"], r["b"]): (r["n_pair"], r["df_a"], r["df_b"],
                              r["lift_micro"])
           for r in cooccurrence_edges(m).collect()}
    assert out == {("A", "B"): (2, 3, 3, 1111111),
                   ("B", "C"): (2, 3, 3, 1111111)}

    # cap: a tag-soup doc with 3 entities capped at 2 keeps [X, Y] only,
    # so (X, Z) and (Y, Z) never pair
    soup = spark.createDataFrame(
        [(1, "X"), (1, "Y"), (1, "Z"), (2, "X"), (2, "Y"), (2, "Z")],
        "doc_id long, entity string")
    capped = {(r["a"], r["b"]) for r in
              cooccurrence_edges(soup, per_doc_cap=2).collect()}
    assert capped == {("X", "Y")}


def test_label_propagation_communities(spark):
    """Two dense cliques joined by one bridge edge: after 3 synchronous
    rounds each clique carries ONE label (its smallest member — the
    deterministic tie-break), and the result is partitioning-invariant."""
    from relation_extraction_spark.operators.graph import label_propagation

    clique = lambda ns: [(a, b) for a in ns for b in ns if a < b]  # noqa: E731
    edges = clique(["a1", "a2", "a3", "a4"]) + clique(["b1", "b2", "b3", "b4"])
    edges.append(("a1", "b1"))  # bridge
    df = spark.createDataFrame(edges, "subject string, object string")
    out = {r["entity"]: r["label"]
           for r in label_propagation(df, iters=3).collect()}
    assert {out[f"a{i}"] for i in (2, 3, 4)} == {"a1"}
    assert {out[f"b{i}"] for i in (2, 3, 4)} == {"b1"}
    again = {r["entity"]: r["label"]
             for r in label_propagation(df.repartition(5), iters=3).collect()}
    assert again == out


def test_triangle_counts_clique_and_pendant(spark):
    """4-clique: every member has 3 triangles at degree 3 → coefficient
    exactly 1.0 (1_000_000 micro); a pendant hanging off the clique has
    degree 1 → -1 sentinel; its attachment point gains degree but no new
    triangles; duplicate and self-loop edges are ignored."""
    from relation_extraction_spark.operators.graph import triangle_counts

    ns = ["a", "b", "c", "d"]
    edges = [(x, y) for x in ns for y in ns if x < y]
    edges += [("a", "p"), ("p", "a"), ("b", "b"), ("a", "b")]  # noise
    df = spark.createDataFrame(edges, "subject string, object string")
    out = {r["entity"]: (r["degree"], r["triangles"], r["coeff_micro"])
           for r in triangle_counts(df).collect()}
    assert out["b"] == (3, 3, 1_000_000)
    assert out["c"] == (3, 3, 1_000_000)
    assert out["d"] == (3, 3, 1_000_000)
    assert out["a"] == (4, 3, 500_000)   # 3 of C(4,2)=6 pairs closed
    assert out["p"] == (1, 0, -1)


def test_label_propagation_hub_no_window(spark):
    """Round-8 optimization guard: the per-node neighbor-label argmax is a
    combinable min(struct(-count, label)) aggregation, NOT a row_number
    window — at round 1 a high-degree hub has one distinct label per
    neighbor, and a window would sort all of them in one unsplittable
    task. Plant a 200-spoke hub and check (a) no Window in the plan,
    (b) the hub adopts the lexicographically smallest spoke label (every
    spoke label gets exactly one vote — pure tie-break territory) and the
    spokes adopt the hub's, exactly the window form's semantics."""
    from relation_extraction_spark.operators.graph import label_propagation

    edges = [("hub", f"s{i:03d}") for i in range(200)]
    df = spark.createDataFrame(edges, "subject string, object string")
    lp = label_propagation(df, iters=1)
    plan = lp._sc._jvm.PythonSQLUtils.explainString(
        lp._jdf.queryExecution(), "formatted")
    assert "Window" not in plan
    out = {r["entity"]: r["label"] for r in lp.collect()}
    assert out["hub"] == "s000"        # count ties -> smallest label wins
    assert all(out[f"s{i:03d}"] == "hub" for i in range(200))
