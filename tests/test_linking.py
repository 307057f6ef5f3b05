"""Entity linking: MinHash-LSH blocking, alias verification, connected
components, canonicalization (SURVEY.md §2 J4/R11, stages 7-8)."""

import pyspark.sql.functions as F
import pytest

from relation_extraction_spark.operators.linking import (
    _shingles_expr,
    canonical_mapping,
    canonicalize_edges,
    connected_components,
    lsh_candidate_pairs,
    verified_alias_pairs,
)


@pytest.fixture(scope="module")
def names(spark):
    return spark.createDataFrame(
        [("张艺谋",), ("张艺谋导演",), ("大导演张艺谋",), ("周杰伦",), ("周杰伦先生",),
         ("完全无关实体",), ("另一个东西",)],
        "entity string",
    )


def test_lsh_recall(spark, names):
    pairs = {tuple(r) for r in lsh_candidate_pairs(names, num_hashes=16, bands=8).collect()}
    # near-duplicate names must be blocked together
    assert ("张艺谋", "张艺谋导演") in pairs or ("张艺谋导演", "张艺谋") in pairs


def test_verified_aliases(spark, names):
    cands = lsh_candidate_pairs(names, num_hashes=16, bands=8)
    ok = {tuple(r) for r in verified_alias_pairs(cands, names).collect()}
    flat = {x for p in ok for x in p}
    assert "张艺谋" in flat and "张艺谋导演" in flat
    assert "完全无关实体" not in flat


def _per_pair_verify(candidates, jaccard_threshold, containment):
    """Reference: the per-pair verification formula, evaluated on the
    candidate rows themselves (shingles rebuilt for every pair)."""
    sh = lambda c: _shingles_expr(c, 2)  # noqa: E731
    cond = (F.size(F.array_intersect(sh("a"), sh("b")))
            / F.size(F.array_union(sh("a"), sh("b")))) >= jaccard_threshold
    if containment:
        alias_ok = lambda c: ((F.length(c) > 4) & (~F.col(c).contains("·"))  # noqa: E731
                              & F.col(c).rlike("[\\u4e00-\\u9fa5]"))
        cond = cond | (
            ((F.length("a") > 1) & F.col("b").contains(F.col("a")) & alias_ok("b"))
            | ((F.length("b") > 1) & F.col("a").contains(F.col("b")) & alias_ok("a")))
    return candidates.where(cond)


def test_verified_alias_pairs_match_per_pair_formula(spark):
    """Per-name features joined to both ends give exactly the rows (no
    duplicates) the per-pair formula keeps, over every pair of a name table
    that has duplicate rows, the empty string, a '·' name, Latin-only names,
    names of length 1, 2, 4 and 5, and contained/containing forms."""
    forms = ["", "张", "张三", "张三丰传", "张三丰传人", "著名张三丰传人",
             "乔丹", "迈克尔·乔丹", "迈克尔·乔丹先生", "乔丹先生", "Jordan", "Jordan Ltd",
             "Michael Jordan", "ab", "abab", "周杰伦", "周杰伦先生", "著名周杰伦",
             "周杰伦的歌", "完全无关实体"]
    names = spark.createDataFrame(
        [(f,) for f in forms + forms[::3]], "entity string").repartition(3)
    distinct = names.dropDuplicates()
    cands = (distinct.alias("x").crossJoin(distinct.alias("y"))
             .where(F.col("x.entity") < F.col("y.entity"))
             .select(F.col("x.entity").alias("a"), F.col("y.entity").alias("b")))
    for t in (0.5, 0.7, 1.0):
        got = {}
        for containment in (True, False):
            got[containment] = sorted(map(tuple, verified_alias_pairs(
                cands, names, jaccard_threshold=t,
                containment=containment).collect()))
            want = sorted(map(tuple, _per_pair_verify(cands, t, containment).collect()))
            assert got[containment] == want, (t, containment)
        assert ("乔丹", "迈克尔·乔丹先生") not in got[True]  # '·' alias gate
        assert ("乔丹", "乔丹先生") not in got[True]  # alias length gate
        assert ("周杰伦", "周杰伦的歌") in got[True]
        assert len(got[False]) < len(got[True])


def test_verification_never_enters_a_join_condition(spark, names):
    """No join condition of the optimized mapping plan holds a lambda: a
    filter on the candidate pair alone would be pushed below the candidate
    dedup into the blocking self-join, rebuilding the interpreted shingle
    arrays for every joined row. Per-name features keep it above the dedup."""
    plan = canonical_mapping(names)._jdf.queryExecution().optimizedPlan().toString()
    joins = [ln for ln in plan.splitlines() if "Join " in ln]
    assert joins
    assert not [ln for ln in joins if "lambdafunction" in ln]


def _hash_name(i: int, n_chars: int = 5) -> str:
    """Deterministic high-entropy CJK name (the round-4 soak generator):
    3 md5 hex digits per char into 0x6000..0x6fff — disjoint from the
    著/名/先/生 decoration chars."""
    import hashlib

    h = hashlib.md5(str(i).encode()).hexdigest()
    return "".join(chr(0x6000 + int(h[3 * p: 3 * p + 3], 16)) for p in range(n_chars))


def test_signature_stop_shingles(spark):
    """signature_stop_max_df drops corpus-wide decoration grams from the
    minhash signature. Short names have few shingles, so a shared 著名/先生
    gram wins the min for a constant fraction of names and one band bucket
    collects them all — O(n²) cross-family candidates (measured quadratic
    40k→400k entities, BENCH/PLANS.md). containment_block=False isolates
    the minhash path; the cluster check below re-enables it and shows true
    aliases still resolve."""
    bases = [_hash_name(i) for i in range(2500)]
    rows = [(form,) for b in bases
            for form in (b, f"著名{b}", f"{b}先生", f"著名{b}先生")]
    names = spark.createDataFrame(rows, "entity string").repartition(16)
    n_default = lsh_candidate_pairs(names, containment_block=False).count()
    n_capped = lsh_candidate_pairs(
        names, containment_block=False, signature_stop_max_df=100).count()
    # the cross-family quadratic term is gone: capped volume tracks the true
    # pair count (6 per family) while default carries the band fan-out on top
    # (measured 1k/4k/10k families: default 6.1k/36.9k/146.5k vs capped
    # 5.5k/22.3k/55.5k ~= 6K)
    assert n_capped < n_default * 0.85
    assert n_capped < 6 * len(bases) * 1.2
    # with blocking fully on, every alias family still resolves to ONE
    # representative and families never merge
    sample = bases[::250]
    m = {r["entity"]: r["canonical"]
         for r in canonical_mapping(names, signature_stop_max_df=100).collect()}
    for b in sample:
        assert len({m[b], m[f"著名{b}"], m[f"{b}先生"], m[f"著名{b}先生"]}) == 1
    assert len(set(m.values())) == len(bases)


def test_signature_stop_purge_is_join_not_literal(spark):
    """A stop set of thousands of hot shingles must never become a literal
    Catalyst expression: the old F.array(*[F.lit(s) ...]) purge blew up
    analysis/codegen already at a few thousand hot shingles — far below its
    nominal 100k guard (round-4 ADVICE). The purge is now a broadcast
    anti-join on exploded shingles, so plan size stays flat in |stop set|.

    6400 distinct leading 2-grams × 3 names each (df=3 > cap=2) → 6400 hot
    shingles; tails are unique high-codepoint chars, so after the purge each
    signature is driven by per-name unique grams and candidate volume is
    ~zero."""
    lead = [chr(0x4e00 + i) for i in range(80)]
    tail = [chr(0x7000 + i) for i in range(4096)]
    rows, t = [], 0
    for a in lead:
        for b in lead:
            for _ in range(3):
                u = tail[t % len(tail)] + tail[(t * 7 + 1) % len(tail)] \
                    + tail[(t * 13 + 2) % len(tail)]
                rows.append((a + b + u,))
                t += 1
    names = spark.createDataFrame(rows, "entity string").repartition(16)
    pairs = lsh_candidate_pairs(
        names, containment_block=False, signature_stop_max_df=2)
    # the stop set lives in a join subtree, not in the expression tree:
    # the optimized plan prints in O(plan shape), not O(|stop set|) — with
    # 6400 inlined literals this string alone would exceed ~200 KB
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 60_000, f"plan string blew up: {len(plan)} chars"
    # purged signatures → unique-gram-driven buckets → no quadratic fan-out
    assert pairs.count() < 2000


def test_connected_components_chain(spark):
    import random

    # a-b, b-c, d-e: two components
    pairs = spark.createDataFrame([("a", "b"), ("b", "c"), ("d", "e")], "a string, b string")
    comp = {r["entity"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["d"] == comp["e"] == "d"
    # a 64-node path whose names are permuted along it (labels are not
    # monotone, so hooking takes several outer rounds), edges shuffled and
    # spread over partitions: it resolves to one component named c000
    rng = random.Random(5)
    perm = rng.sample(range(64), 64)
    chain = [(f"c{perm[i]:03d}", f"c{perm[i + 1]:03d}") for i in range(63)]
    rng.shuffle(chain)
    df = spark.createDataFrame(chain, "a string, b string").repartition(4)
    comp = {r["entity"]: r["component"] for r in connected_components(df).collect()}
    assert len(comp) == 64
    assert set(comp.values()) == {"c000"}
    # zero alias pairs: the resolver's single partition holds no batch
    empty = spark.createDataFrame([], "a string, b string")
    assert connected_components(empty).collect() == []


def test_connected_components_order_matches_spark_min(spark):
    """The component is the smallest member in Spark's UTF-8 binary order:
    mixed ASCII, CJK and astral-plane names (where UTF-16 order would
    differ) must name each component exactly as ``F.min`` does."""
    pairs = [("Zed", "张三"), ("张三", "\U00020000甲"), ("\uff21lpha", "\U0001f600"),
             ("\U0001f600", "abc"), ("\ufb01x", "\U00010400y"), ("b", "B")]
    df = spark.createDataFrame(pairs, "a string, b string")
    comp = connected_components(df)
    spark_min = (comp.groupBy("component").agg(F.min("entity").alias("m"))
                 .where(F.col("m") != F.col("component")))
    assert spark_min.count() == 0
    got = {r["entity"]: r["component"] for r in comp.collect()}
    assert got["\U00020000甲"] == got["张三"] == "Zed"
    assert got["abc"] == got["\U0001f600"] == "abc"
    # U+FB01 sorts below U+10400 in code points; UTF-16 would invert them
    assert got["\U00010400y"] == "\ufb01x"
    assert got["b"] == "B"


def test_canonical_mapping_singletons(spark, names):
    m = {r["entity"]: r["canonical"] for r in canonical_mapping(names).collect()}
    assert m["完全无关实体"] == "完全无关实体"
    # alias cluster all maps to one representative
    reps = {m["张艺谋"], m["张艺谋导演"], m["大导演张艺谋"]}
    assert len(reps) == 1


def test_canonicalize_edges(spark, names):
    edges = spark.createDataFrame(
        [("张艺谋导演", "导演", "影片甲"), ("张艺谋", "导演", "影片甲")],
        "subject string, predicate string, object string",
    )
    mapping = canonical_mapping(names.union(
        spark.createDataFrame([("影片甲",)], "entity string")))
    out = canonicalize_edges(edges, mapping).collect()
    assert len(out) == 1  # both rows collapse onto the canonical subject


def test_partition_invariance(spark, names):
    m1 = sorted(map(tuple, canonical_mapping(names.repartition(1)).collect()))
    m8 = sorted(map(tuple, canonical_mapping(names.repartition(8)).collect()))
    assert m1 == m8


def test_canonical_mapping_name_col(spark, names):
    """A name column other than ``entity`` gives the same mapping."""
    renamed = names.select(F.col("entity").alias("name"))
    m = sorted(map(tuple, canonical_mapping(renamed, "name").collect()))
    assert m == sorted(map(tuple, canonical_mapping(names).collect()))
    assert len({c for _, c in m}) < len(m)  # some alias merged


def test_star_cc_matches_min_label(spark):
    """large-star/small-star CC equals the one-task resolver on random
    graphs."""
    import random

    from relation_extraction_spark.operators.linking import connected_components_star

    for seed, n_pairs in ((3, 35), (4, 60)):
        rng = random.Random(seed)
        nodes = [f"n{i:02d}" for i in range(40)]
        pairs = set()
        for _ in range(n_pairs):
            a, b = rng.sample(nodes, 2)
            pairs.add((min(a, b), max(a, b)))
        df = spark.createDataFrame(sorted(pairs), "a string, b string")
        lbl = {r["entity"]: r["component"] for r in connected_components(df).collect()}
        star = {r["entity"]: r["component"]
                for r in connected_components_star(df).collect()}
        assert lbl == star


def test_star_cc_long_chain(spark):
    """A 64-node path graph: min-label needs O(n) rounds; star converges and
    assigns one component."""
    from relation_extraction_spark.operators.linking import connected_components_star

    chain = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(63)]
    df = spark.createDataFrame(chain, "a string, b string")
    st: dict = {}
    out = {r["entity"]: r["component"]
           for r in connected_components_star(df, stats=st).collect()}
    assert len(out) == 64
    assert set(out.values()) == {"c000"}
    # O(log n) evidence: diameter 63 must converge far under 63 rounds
    # (min-label would need all 63); soak measured 7 at 2000×64 nodes
    assert 1 <= st["rounds"] <= 10


def test_canonicalization_soak_harness_smoke(spark):
    """The 10×-graph-order soak harness (scripts/soak_canonicalization.py)
    must keep producing the BENCH/PLANS.md metrics: perfect family
    precision, near-perfect recall, resolver = star with the star's rounds,
    the resolver's memory where /proc allows measuring it, and the star
    depth probe's rounds."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "soak_canonicalization",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "scripts", "soak_canonicalization.py"))
    soak = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(soak)
    out = soak.run_level(spark, 200, stop_df=1000)
    assert out["n_entities"] == 800 and out["true_pairs"] == 1200
    assert out["pair_precision"] == 1.0
    assert out["pair_recall"] >= 0.95
    assert out["cc_mismatch"] == 0
    assert out["cc_rounds"] >= 1
    if out["resolver_base_rss_mb"] is not None:
        assert out["resolver_peak_rss_mb"] >= out["resolver_base_rss_mb"] > 0
    cc = soak.cc_level(spark, 50)
    assert cc["n_verified"] == 250 and cc["cc_mismatch"] == 0
    probe = soak.chain_probe(spark, n_chains=20, length=32)
    assert probe["components_found"] == 20
    assert 1 <= probe["cc_rounds"] <= 10


def test_linking_quality_planted_aliases(spark):
    """Pair-level precision/recall of canonical_mapping against planted alias
    ground truth: canonical names plus honorific/title variants that the
    reference's containment gate should resolve, and distractors it must not."""
    # structurally distinct base names — digit-suffix families are genuinely
    # >0.7-Jaccard-similar and the reference's containment gate itself merges
    # them, so they cannot serve as negative ground truth for ANY surface-
    # similarity linker
    canon = ["王小明", "李大为", "赵建国", "陈思雨", "刘志强", "孙丽华",
             "周国栋", "吴雅婷", "郑海峰", "冯晓燕", "蒋文博", "沈清扬"]
    variants, truth = [], set()
    for c in canon:
        v1 = f"著名{c}"
        v2 = f"{c}先生"
        v3 = f"著名{c}先生"  # decorated at BOTH ends: neither a shared
        # prefix nor suffix with c — blocked via the shingle containment
        # block (every 2-gram of c appears in v3)
        variants += [v1, v2, v3]
        truth |= {(c, v1), (c, v2), (c, v3), (v1, v2), (v1, v3), (v2, v3)}
    distractors = ["宏远贸易集团", "蓝天科技公司", "绿洲文化中心", "星河影视基地",
                   "金桥投资银行", "紫荆花园酒店", "黑石矿业总部", "白云机场大厦"]
    names = spark.createDataFrame([(n,) for n in canon + variants + distractors],
                                  "entity string")
    m = {r["entity"]: r["canonical"] for r in canonical_mapping(names).collect()}

    def same(a, b):
        return m[a] == m[b]

    import itertools

    all_names = canon + variants + distractors
    pred_pairs = {(a, b) for a, b in itertools.combinations(sorted(all_names), 2)
                  if same(a, b)}
    truth_pairs = {tuple(sorted(p)) for p in truth}
    tp = len(pred_pairs & truth_pairs)
    precision = tp / max(len(pred_pairs), 1)
    recall = tp / len(truth_pairs)
    assert precision >= 0.95, (precision, sorted(pred_pairs - truth_pairs)[:5])
    assert recall >= 0.9, (recall, sorted(truth_pairs - pred_pairs)[:5])
