"""Incremental KG maintenance (operators/kg_delta.py): provenance
aggregation, re-crawl delta merge with unique-predicate conflict
resolution, and snapshot diff."""

import pyspark.sql.functions as F

from relation_extraction_spark.operators.kg_delta import (
    current_edges,
    merge_delta,
    snapshot_diff,
    triple_provenance,
)

TRIPLE_COLS = "subject string, predicate string, object string, url string, ts bigint"
PROV_COLS = ("subject string, predicate string, object string, "
             "n_refs bigint, n_domains bigint, first_seen bigint, last_seen bigint")


def test_triple_provenance_counts_and_ranges(spark):
    """n_refs counts DISTINCT urls (a page re-asserting an edge counts
    once), n_domains counts registrable hosts (www. stripped), seen range
    is min/max over every assertion."""
    rows = [
        ("甲", "国籍", "中国", "https://a.com/1", 10),
        ("甲", "国籍", "中国", "https://a.com/1", 40),   # same page again
        ("甲", "国籍", "中国", "https://www.a.com/2", 20),  # same domain
        ("甲", "国籍", "中国", "https://b.com/1", 30),
        ("甲", "国籍", "法国", "https://c.com/1", 15),
        ("乙", "作者", None, "https://a.com/1", 10),     # null object dropped
    ]
    df = spark.createDataFrame(rows, TRIPLE_COLS)
    out = {(r["subject"], r["predicate"], r["object"]):
           (r["n_refs"], r["n_domains"], r["first_seen"], r["last_seen"])
           for r in triple_provenance(df, seen_col="ts").collect()}
    assert out == {
        ("甲", "国籍", "中国"): (3, 2, 10, 40),
        ("甲", "国籍", "法国"): (1, 1, 15, 15),
    }


def test_triple_provenance_struct_object_and_sentinel(spark):
    """The cascade's map-typed object column flattens via @value; without a
    seen_col the range is the -1 sentinel (repo rule: no NULL-able ints)."""
    df = spark.createDataFrame(
        [("甲", "作者", {"@value": "乙"}, "https://a.com/1")],
        "subject string, predicate string, object map<string,string>, url string")
    [r] = triple_provenance(df).collect()
    assert (r["object"], r["n_refs"], r["first_seen"], r["last_seen"]) == \
        ("乙", 1, -1, -1)


def _prov(spark, rows):
    return spark.createDataFrame(rows, PROV_COLS)


def test_merge_delta_statuses_and_evidence(spark):
    base = _prov(spark, [
        ("甲", "主演", "戏1", 3, 2, 10, 20),   # re-asserted by delta
        ("乙", "主演", "戏2", 1, 1, 10, 10),   # not seen again
    ])
    delta = _prov(spark, [
        ("甲", "主演", "戏1", 2, 1, 30, 40),
        ("丙", "主演", "戏3", 1, 1, 35, 35),
    ])
    out = {(r["subject"], r["object"]):
           (r["status"], r["n_refs"], r["n_domains"], r["first_seen"], r["last_seen"])
           for r in merge_delta(base, delta).collect()}
    assert out == {
        ("甲", "戏1"): ("confirmed", 5, 3, 10, 40),
        ("乙", "戏2"): ("carried", 1, 1, 10, 10),
        ("丙", "戏3"): ("added", 1, 1, 35, 35),
    }


def test_merge_delta_unique_predicate_conflict(spark):
    """国籍 is functional: the live object with the most evidence wins,
    ties break on n_domains then lexicographically-smallest object; losers
    stay as retracted audit rows and current_edges drops them. Non-unique
    predicates (主演) keep multiple objects."""
    base = _prov(spark, [
        ("甲", "国籍", "中国", 5, 3, 10, 20),
        ("甲", "主演", "戏1", 1, 1, 10, 10),
    ])
    delta = _prov(spark, [
        ("甲", "国籍", "法国", 2, 2, 30, 30),   # weaker: retracted
        ("甲", "主演", "戏2", 1, 1, 30, 30),    # second object is fine
        ("丁", "国籍", "德国", 1, 1, 30, 30),   # tie on all evidence:
        ("丁", "国籍", "奥地利", 1, 1, 30, 30),  # lexicographic min wins
    ])
    merged = merge_delta(base, delta)
    out = {(r["subject"], r["predicate"], r["object"]): r["status"]
           for r in merged.collect()}
    assert out[("甲", "国籍", "中国")] == "carried"
    assert out[("甲", "国籍", "法国")] == "retracted"
    assert out[("甲", "主演", "戏1")] == "carried"
    assert out[("甲", "主演", "戏2")] == "added"
    # '奥地利' < '德国' in codepoint order
    assert out[("丁", "国籍", "奥地利")] == "added"
    assert out[("丁", "国籍", "德国")] == "retracted"
    live = current_edges(merged)
    assert "status" not in live.columns
    assert live.where(F.col("object") == "法国").count() == 0


def test_merge_delta_readjudication_flips_incumbent(spark):
    """Evidence is additive across batches and every touched functional
    key is re-adjudicated among ALL its rows (prior retractions included):
    a retracted claim that keeps accumulating support flips the incumbent
    on the merge where it pulls ahead; untouched keys keep their statuses
    verbatim."""
    base = _prov(spark, [
        ("甲", "国籍", "中国", 3, 1, 10, 20),
        ("戊", "国籍", "英国", 1, 1, 10, 10),   # never touched again
    ])
    d1 = _prov(spark, [("甲", "国籍", "法国", 2, 2, 30, 30)])
    m1 = merge_delta(base, d1)
    assert {r["object"]: r["status"] for r in m1.collect()} == \
        {"中国": "carried", "法国": "retracted", "英国": "carried"}
    # second batch of 法国 evidence: 2+2=4 refs > 中国's 3 → flip
    d2 = _prov(spark, [("甲", "国籍", "法国", 2, 2, 40, 40)])
    m2 = merge_delta(m1, d2)
    assert {r["object"]: (r["status"], r["n_refs"]) for r in m2.collect()} == \
        {"中国": ("retracted", 3), "法国": ("confirmed", 4),
         "英国": ("carried", 1)}
    # an untouched-key merge keeps 中国 retracted (audit row preserved)
    d3 = _prov(spark, [("戊", "国籍", "英国", 1, 1, 50, 50)])
    m3 = merge_delta(m2, d3)
    out = {r["object"]: r["status"] for r in m3.collect()}
    assert out == {"中国": "retracted", "法国": "carried",
                   "英国": "confirmed"}


def test_snapshot_diff(spark):
    old = spark.createDataFrame(
        [("甲", "主演", "戏1"), ("乙", "主演", "戏2")],
        "subject string, predicate string, object string")
    new = spark.createDataFrame(
        [("甲", "主演", "戏1"), ("丙", "主演", "戏3")],
        "subject string, predicate string, object string")
    out = {(r["subject"], r["object"]): r["change"]
           for r in snapshot_diff(old, new).collect()}
    assert out == {("甲", "戏1"): "kept", ("乙", "戏2"): "removed",
                   ("丙", "戏3"): "added"}


def _rand_prov_batches(seed, n_batches=3, n_rows=40):
    """Seeded pseudo-random provenance batches: few subjects/objects so
    key collisions (and functional conflicts) are common."""
    import random

    rng = random.Random(seed)
    out = []
    for b in range(n_batches):
        rows = []
        for _ in range(n_rows):
            s = f"e{rng.randrange(6)}"
            p = rng.choice(["国籍", "主演", "作者"])
            o = f"o{rng.randrange(4)}"
            refs = rng.randrange(1, 5)
            doms = rng.randrange(1, refs + 1)
            t = rng.randrange(100)
            rows.append((s, p, o, refs, doms, t, t + rng.randrange(10)))
        # one row per (s,p,o) per batch, like real triple_provenance output
        seen, dedup = set(), []
        for r in rows:
            if r[:3] not in seen:
                seen.add(r[:3])
                dedup.append(r)
        out.append(dedup)
    return out


def test_merge_delta_evidence_is_batch_order_invariant(spark):
    """n_refs / n_domains / first_seen / last_seen form a commutative
    monoid under the fold: folding the same batches in ANY order yields
    identical evidence per edge (statuses are adjudication labels and may
    legitimately differ between carried/confirmed histories, but
    retraction — which partitions live vs audit rows when every key was
    touched last — must also agree when the LAST batch is the same)."""
    for seed in (7, 41, 1999):
        batches = _rand_prov_batches(seed)
        orders = [(0, 1, 2), (1, 0, 2), (0, 2, 1)]
        results = []
        for order in orders:
            acc = _prov(spark, batches[order[0]])
            for i in order[1:]:
                acc = merge_delta(acc, _prov(spark, batches[i]))
            results.append({
                (r["subject"], r["predicate"], r["object"]):
                (r["n_refs"], r["n_domains"], r["first_seen"],
                 r["last_seen"])
                for r in acc.collect()})
        assert results[0] == results[1] == results[2], f"seed {seed}"


def test_triple_provenance_multiplicity_invariant(spark):
    """Duplicating input assertion rows never changes the provenance
    output (presence counting is idempotent)."""
    rows = [(f"e{i%5}", "国籍", f"o{i%3}",
             f"https://s{i%4}.example/p{i%7}", i % 50)
            for i in range(60)]
    once = spark.createDataFrame(rows, TRIPLE_COLS)
    thrice = spark.createDataFrame(rows * 3, TRIPLE_COLS)

    def canon(df):
        return sorted(map(tuple, triple_provenance(df, seen_col="ts")
                          .collect()))

    assert canon(once) == canon(thrice)


def test_incremental_table_feeds_kg_lookup_and_degrees(spark):
    """Composition: the merged incremental table's live view drives the
    J3 in-KG lookup and the degree profiles exactly like a from-scratch
    edge table — retracted audit rows never leak into consumers."""
    from relation_extraction_spark.operators.graph import degrees
    from relation_extraction_spark.operators.kg import with_in_kg

    base = _prov(spark, [
        ("甲", "国籍", "中国", 5, 3, 10, 20),
        ("甲", "主演", "戏1", 1, 1, 10, 10),
    ])
    delta = _prov(spark, [("甲", "国籍", "法国", 1, 1, 30, 30)])
    live = current_edges(merge_delta(base, delta))

    triples = spark.createDataFrame(
        [("甲", "国籍", {"@value": "中国"}), ("甲", "国籍", {"@value": "法国"})],
        "subject string, predicate string, object map<string,string>")
    flags = {r["object"]["@value"]: r["in_kg"]
             for r in with_in_kg(triples, live).collect()}
    assert flags == {"中国": True, "法国": False}  # retracted edge invisible

    degs = {r["entity"]: (r["out_degree"], r["in_degree"])
            for r in degrees(live).collect()}
    assert degs["甲"] == (2, 0)
    assert "法国" not in degs  # retracted edge contributes no degree


def _seq(df, s):
    return df.withColumn("_seq", F.lit(s).cast("bigint"))


def test_merged_view_equals_sequential_folds(spark):
    """Merge-on-read differential (round-6 verdict ask #4): folding three
    provenance batches through merge_delta sequentially and reading them
    through ONE merged_view pass produce identical row multisets — across
    functional-key adjudication, a cross-batch incumbent flip, a key only
    two batches ever touch, an added-in-last edge, sentinel-timestamp
    resolution, and base retraction carriage."""
    from relation_extraction_spark.operators.kg_delta import merged_view

    b1 = _prov(spark, [
        ("甲", "国籍", "中国", 3, 1, 10, 20),
        ("甲", "主演", "戏1", 1, 1, 10, 10),
        ("乙", "国籍", "日本", 1, 1, -1, -1),     # sentinel timestamps
    ])
    b2 = _prov(spark, [
        ("甲", "国籍", "法国", 2, 2, 30, 30),     # loses at fold 2
        ("丙", "国籍", "德国", 1, 1, 30, 30),     # tie pair: untouched by b3
        ("丙", "国籍", "奥地利", 1, 1, 30, 30),
    ])
    b3 = _prov(spark, [
        ("甲", "国籍", "法国", 2, 1, 40, 40),     # accumulates 4>3: flips
        ("丁", "主演", "戏9", 1, 1, 50, 50),      # added in the last fold
        ("乙", "国籍", "日本", 2, 1, 35, 35),     # resolves the -1 sentinel
    ])

    def canon(df):
        return sorted(map(tuple, df.select(
            "subject", "predicate", "object", "n_refs", "n_domains",
            "first_seen", "last_seen", "status").collect()))

    seq1 = merge_delta(b1.limit(0), b1)           # bootstrap fold
    seq2 = merge_delta(seq1, b2)
    seq3 = merge_delta(seq2, b3)
    want = canon(seq3)

    view_all = merged_view(
        None, _seq(b1, 1).unionByName(_seq(b2, 2)).unionByName(_seq(b3, 3)),
        last_seq=3)
    assert canon(view_all) == want

    # and from a materialized snapshot + the remaining deltas
    view_rest = merged_view(
        seq1, _seq(b2, 2).unionByName(_seq(b3, 3)), last_seq=3)
    assert canon(view_rest) == want

    # sanity on the interesting verdicts (guards the differential itself)
    out = {(r[0], r[1], r[2]): r[7] for r in want}
    assert out[("甲", "国籍", "法国")] == "confirmed"   # flipped incumbent
    assert out[("甲", "国籍", "中国")] == "retracted"
    assert out[("丙", "国籍", "奥地利")] == "carried"   # untouched by b3
    assert out[("丙", "国籍", "德国")] == "retracted"
    assert out[("丁", "主演", "戏9")] == "added"
    ev = {(r[0], r[2]): (r[5], r[6]) for r in want}
    assert ev[("乙", "日本")] == (35, 35)               # sentinel resolved


def test_fold_mor_exactly_once_compaction_and_crash_window(spark, tmp_path):
    """Merge-on-read fold against the catalog: O(|batch|) delta commits,
    replay no-op BEFORE any write, compaction every 2 pending batches,
    and the read path always equal to sequential merge_delta folds of the
    same batches; a stale delta left by a crash between snapshot commit and
    delta cleanup is invisible to reads and swept by compaction."""
    from relation_extraction_spark.plans.catalog import Catalog
    from relation_extraction_spark.streaming.stream import (
        TRIPLES_STREAM_SCHEMA,
        compact_table,
        fold_triples_batch_mor,
        read_merged_table,
    )

    mor_root = str(tmp_path / "mor")
    batches = [
        [("https://a.com/1", "甲", "国籍", "中国", 10),
         ("https://b.com/1", "甲", "国籍", "中国", 11),
         ("https://a.com/1", "甲", "主演", "戏1", 10)],
        [("https://c.com/1", "甲", "国籍", "法国", 20),
         ("https://d.com/1", "乙", "主演", "戏2", 21)],
        [("https://e.com/1", "甲", "国籍", "法国", 30),
         ("https://f.com/1", "甲", "国籍", "法国", 31),
         ("https://g.com/1", "甲", "国籍", "法国", 32)],  # flips 3>2
    ]

    def df(i):
        return spark.createDataFrame(batches[i], TRIPLES_STREAM_SCHEMA)

    def canon(d):
        cols = ["subject", "predicate", "object", "n_refs", "n_domains",
                "first_seen", "last_seen", "status"]
        return sorted(map(tuple, d.select(*cols).collect()))

    cat = Catalog(spark, mor_root)
    ref = None
    for i in range(3):
        assert fold_triples_batch_mor(df(i), i, mor_root, compact_every=2)
        assert not fold_triples_batch_mor(df(i), i, mor_root,
                                          compact_every=2)  # replay no-op
        prov = triple_provenance(df(i), seen_col="ts")
        ref = merge_delta(prov.limit(0) if ref is None else ref, prov)
        assert canon(read_merged_table(spark, mor_root)) == canon(ref)

    # batches 0+1 compacted into a snapshot; batch 2 pending as a delta
    assert cat.exists("kg_edges")
    assert cat.committed_delta_ids("kg_edges") == [2]
    flip = {r["object"]: r["status"]
            for r in read_merged_table(spark, mor_root)
            .where(F.col("predicate") == "国籍").collect()}
    assert flip == {"法国": "confirmed", "中国": "retracted"}

    # crash window: a delta id <= the snapshot's applied batch is stale
    before = canon(read_merged_table(spark, mor_root))
    stale = spark.createDataFrame(
        [("甲", "国籍", "火星", 99, 99, 1, 1)], PROV_COLS)
    cat.write_delta("kg_edges", 0, _seq(stale, 0))
    assert canon(read_merged_table(spark, mor_root)) == before
    assert compact_table(spark, mor_root)  # folds 2, sweeps stale 0
    assert cat.committed_delta_ids("kg_edges") == []
    assert canon(read_merged_table(spark, mor_root)) == before
