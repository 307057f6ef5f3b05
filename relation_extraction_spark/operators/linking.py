"""Entity linking + canonicalization (SURVEY.md §2 J4/R11, north_star stage 7-8).

Pipeline:
1. **MinHash-LSH blocking** over character n-gram shingles of entity names —
   pure Catalyst expressions (sequence/transform/aggregate over crc32), no
   UDF, no MLlib model state, fully deterministic. Candidate pairs are
   entities sharing an LSH band bucket.
2. **Verification**: n-gram Jaccard >= threshold OR containment (one name a
   substring of the other, the reference's fix_spo gate, utils/kg.py:308-309).
   It runs after the candidate dedup, on per-name features: each distinct
   name's shingle array and alias gate are built once and joined to both
   ends of every candidate pair, so a pair pays only codegen'd array and
   string work. The join is load-bearing: a filter on the pair alone is
   pushed by Catalyst below the dedup into the blocking self-join, where
   the interpreted shingle lambdas ran for every shared block of a pair.
3. **Connected components** in ONE task: the verified alias pairs are
   shuffled into a single partition and a ``mapInArrow`` kernel resolves
   them with vectorized min-label hooking plus pointer jumping until nothing
   changes. Blocking is the scalable part and resolution the cheap step
   after it (SparkER), so one job replaces the per-round shuffles,
   checkpoints and convergence checks of a distributed CC loop. Memory
   bound: one task holds every verified alias pair plus one label per
   aliased name. scripts/soak_canonicalization.py on 4 cores measured the
   resolver against the star on the same pairs: 500K verified pairs over
   400K names took 1.9 s and +42 MB of task RSS (star: 25 s); 5M pairs over
   4M names took 19.6 s and +403 MB (star: 178 s), about 80 bytes per pair.
   ``connected_components_star`` (large-star/small-star, O(log n) shuffle
   rounds) is the distributed form for alias graphs beyond one task's
   memory and the reference the resolver is tested against.
4. **Canonicalization**: every entity maps to the lexicographically smallest
   name in its component; edge endpoints are rewritten through the mapping
   (broadcast when small, shuffle join otherwise — Catalyst/AQE decide).

At 100 TB scale the shuffle keys are (band_id, band_hash) — uniformly hashed,
so no skew; the star CC loop joins on entity which can skew on hub entities,
which AQE skew-join splitting handles.

Design follows the published blocking-then-resolve architecture of Spark
entity-resolution systems (SparkER, EDBT 2019; MinoanER, EDBT 2019 —
meta-blocking + massively parallel resolution) and the large-star/small-star
connected-components algorithm of Kiveris et al., "Connected Components in
MapReduce and Beyond" (SoCC 2014).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _shingles_expr(colname: str, n: int = 2):
    """Distinct character n-grams of a string column (pure Catalyst)."""
    c = F.col(colname)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
            lambda i: c.substr(i, F.lit(n)),
        )
    )


def minhash_signature(shingles_col, num_hashes: int = 16):
    """sig[k] = min over shingles of crc32(k || shingle) — deterministic.

    Single aggregate pass with a running-min accumulator so the shingle
    array is materialized once per row, not once per hash (same fix as
    dedup.minhash_signatures; shingle arrays are never empty — the
    shingle expression emits ≥1 element for any non-empty name)."""
    max_crc = (1 << 32) - 1
    hashes = lambda s: F.array(*[  # noqa: E731
        F.crc32(F.concat(F.lit(f"{k}#"), s)) for k in range(num_hashes)])
    return F.aggregate(
        shingles_col, F.array_repeat(F.lit(max_crc).cast("bigint"), num_hashes),
        lambda acc, s: F.zip_with(acc, hashes(s), lambda a, b: F.least(a, b)))


def lsh_candidate_pairs(
    entities: DataFrame,
    name_col: str = "entity",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 2,
    containment_block: bool = True,
    max_block: int = 1000,
    max_block_shingles: int = 8,
    signature_stop_max_df: int | None = None,
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing at least one LSH band bucket
    or (with ``containment_block``) a 2-gram shingle block.

    Default = 8 bands × 2 minhash rows: per-band collision probability is J²,
    so the candidate volume over dissimilar names drops quadratically
    (O(n²·J̄²), not O(n²·J̄)) while pairs at the verification threshold are
    still blocked with 1-(1-J²)^8 ≥ 0.995 recall at J = 0.7. Containment
    aliases with LOW shingle-Jaccard (a short canonical name inside a long
    decorated form, the utils/kg.py:308-309 repair pattern) no longer ride
    on single-hash luck: each name also blocks on its first
    ``max_block_shingles`` character 2-grams plus its final 2-gram, and a
    contained name shares EVERY one of its 2-grams with the containing
    name — so prefix-decorated, suffix-decorated AND both-ends-decorated
    forms (著名X先生) are all blocked deterministically, as long as the
    short name starts within the long name's first ``max_block_shingles``+1
    chars or ends at its end. Blocks larger than ``max_block`` names are
    purged before the self-join (block purging, SparkER meta-blocking) — a
    stop-shingle like a common surname pair never fans out; purged
    containment pairs with J ≥ threshold still arrive through the minhash
    bands.

    ``signature_stop_max_df``: drop shingles occurring in more than this
    many distinct names from the MINHASH SIGNATURE (names whose every
    shingle is that common keep their full set as a fallback). Short names
    have few shingles, so one corpus-wide decoration gram (著名-/-先生
    honorifics, ltd./inc. suffixes) wins the min with probability
    ~1/|shingles| and puts O((n/bands-collision)²) cross-family pairs into
    the candidate set — measured quadratic at 40k→400k entities
    (BENCH/PLANS.md round-4 soak). With the cap, signatures are driven by
    the discriminative shingles and candidate volume returns to ~linear;
    decorated true aliases still arrive via the containment block, which is
    independently df-purged by ``max_block``. Default None preserves the
    exact candidate set (and the cc_components oracle hash); large-corpus
    callers should set it (the soak uses 1000, like max_block). The purge
    is a broadcast anti-join on exploded shingles — the stop set never
    touches the driver and never becomes a literal expression (an earlier
    version inlined it as F.array(*lits), which exploded the Catalyst plan
    already at a few thousand hot shingles), so it stays bounded at any
    stop-set size: at most |names|·|avg shingles|/max_df shingles can
    exceed the cap, a few MB broadcast even at web scale."""
    rows_per_band = num_hashes // bands
    e = entities.select(name_col).dropDuplicates()
    shingles = _shingles_expr(name_col, shingle_n)
    if signature_stop_max_df is not None:
        exploded = e.select(F.col(name_col), F.explode(shingles).alias("_s"))
        hot = (
            exploded.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > signature_stop_max_df)
            .select("_s")
        )
        kept = (
            exploded.join(F.broadcast(hot), "_s", "left_anti")
            .groupBy(name_col).agg(F.collect_list("_s").alias("_kept"))
        )
        # names whose EVERY shingle is hot drop out of the anti-join
        # entirely (null _kept after the left join) and keep their full
        # shingle set as the fallback, exactly like the old expression path.
        # merge hint: kept has the SAME cardinality as e (one array row per
        # name) — size misestimation here made AQE try to broadcast 4M rows
        # into an 8g driver at the 4M-entity soak; an equal-sized
        # self-derived side must shuffle, never broadcast
        e = e.join(kept.hint("merge"), name_col, "left")
        shingles = F.when(F.size("_kept") > 0, F.col("_kept")) \
            .otherwise(_shingles_expr(name_col, shingle_n))
    sig = e.withColumn("_sh", shingles).withColumn(
        "sig", minhash_signature(F.col("_sh"), num_hashes)
    )
    banded = sig.select(
        F.col(name_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.hash(F.concat_ws(",", F.transform(
                        F.slice("sig", b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string")))).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(name_col, "bb.band", "bb.bucket")
    if containment_block:
        # shingle keys live in the same (band, bucket) key space as the
        # minhash bands (band = -1), so ONE shuffle serves all blocks
        c = F.col(name_col)
        keys = F.array_distinct(F.concat(
            F.slice(_shingles_expr(name_col, 2), 1, max_block_shingles),
            F.array(c.substr(F.greatest(F.length(c) - 1, F.lit(1)), F.lit(2))),
        ))
        blocked = e.where(F.length(c) >= 2).select(
            F.col(name_col),
            F.explode(F.transform(
                keys,
                lambda s: F.struct(F.lit(-1).alias("band"),
                                   F.hash(s).alias("bucket")),
            )).alias("bb"),
        ).select(name_col, "bb.band", "bb.bucket")
        # anti-join against the OVERSIZED blocks, which are small by
        # construction (≤ n·keys/max_block survive the HAVING) — broadcast
        # keeps the purge map-side instead of shuffling the block table twice
        oversized = (
            blocked.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_block)
            .select("band", "bucket")
        )
        banded = banded.unionByName(
            blocked.join(F.broadcast(oversized), ["band", "bucket"], "left_anti"))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col(f"a.{name_col}") < F.col(f"b.{name_col}"))
        .select(F.col(f"a.{name_col}").alias("a"), F.col(f"b.{name_col}").alias("b"))
        .dropDuplicates()
    )


def verified_alias_pairs(
    candidates: DataFrame,
    names: DataFrame,
    jaccard_threshold: float = 0.7,
    shingle_n: int = 2,
    containment: bool = True,
) -> DataFrame:
    """Keep candidate pairs (a, b) with n-gram Jaccard >= threshold, or
    substring containment under the reference's fix_spo gates (canonical
    side len > 1; alias side len > 4, contains CJK, no '·' — utils/kg.py:
    308-309, 321-322), which stop short names from chaining whole entity
    families together.

    ``names`` is the table the candidates were blocked from, with the
    names in column ``entity`` (duplicate rows are fine). Each distinct
    name's shingle array and alias gate are computed once there and joined
    to both ends of the candidates, so a pair only pays codegen'd work:
    ``size(array_intersect)/size(array_union)`` and ``contains``. The join
    is what keeps it that way: a filter over the pair alone is pushed by
    Catalyst below ``lsh_candidate_pairs``'s dedup into the blocking
    self-join, where the interpreted shingle lambdas were rebuilt four
    times for every joined row, once per block a pair shares. Candidates
    whose names are not in ``names`` are dropped."""
    n = F.col("entity")
    feats = names.select(n).dropDuplicates().select(
        n, _shingles_expr("entity", shingle_n).alias("sh"),
        ((F.length(n) > 4) & ~n.contains("·")
         & n.rlike("[\\u4e00-\\u9fa5]")).alias("alias_ok"))
    side = lambda c: feats.select(  # noqa: E731
        n.alias(c), F.col("sh").alias(f"sh_{c}"), F.col("alias_ok").alias(f"ok_{c}"))
    pairs = candidates.join(side("a"), "a").join(side("b"), "b")
    cond = (
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b"))
    ) >= jaccard_threshold
    if containment:
        a, b = F.col("a"), F.col("b")
        cond = cond | (
            ((F.length(a) > 1) & b.contains(a) & F.col("ok_b"))
            | ((F.length(b) > 1) & a.contains(b) & F.col("ok_a"))
        )
    return pairs.where(cond).select(*candidates.columns)


def _resolve_components(batches):
    """mapInArrow kernel over the single partition of (a, b) pairs."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    batches = list(batches)
    if not batches:  # no alias pairs: the partition holds no batch at all
        return
    pairs = pa.Table.from_batches(batches)
    ends = pa.chunked_array(pairs["a"].chunks + pairs["b"].chunks,
                            type=pairs.schema.field("a").type)
    # ids in sorted name order, so the smallest id is the smallest name;
    # Arrow sorts strings by their UTF-8 bytes, Spark's binary string order
    names = pc.unique(ends)
    names = names.take(pc.sort_indices(names))
    ids = pc.index_in(ends, value_set=names).to_numpy()
    u, v = ids[:pairs.num_rows], ids[pairs.num_rows:]
    label = np.arange(len(names))
    while True:
        # hook both endpoint roots onto the smaller root, then jump pointers
        # until every label is a root (label[label] == label)
        lu, lv = label[u], label[v]
        low = np.minimum(lu, lv)
        hooked = label.copy()
        np.minimum.at(hooked, lu, low)
        np.minimum.at(hooked, lv, low)
        while True:
            jumped = hooked[hooked]
            if np.array_equal(jumped, hooked):
                break
            hooked = jumped
        if np.array_equal(hooked, label):
            break
        label = hooked
    out = pa.table({"entity": names, "component": names.take(label)})
    yield from out.to_batches(max_chunksize=1 << 16)


def connected_components(pairs: DataFrame) -> DataFrame:
    """Undirected pairs(a, b) → (entity, component), resolved in one task.

    Deterministic: component id = lexicographically smallest member name
    (the same answer as ``connected_components_star``). ``repartition(1)``,
    not ``coalesce(1)``: the shuffle keeps the upstream blocking self-join
    parallel and only the resolver runs in one task.
    """
    return (
        pairs.select("a", "b")
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .repartition(1)
        .mapInArrow(_resolve_components, "entity string, component string")
    )


def canonical_mapping(
    entities: DataFrame,
    name_col: str = "entity",
    num_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.7,
    signature_stop_max_df: int | None = None,
) -> DataFrame:
    """entity → canonical name (component representative); singleton entities
    map to themselves. Components come from the one-task resolver
    ``connected_components``. ``signature_stop_max_df`` forwards the minhash
    stop-shingle cap (see lsh_candidate_pairs) — set it on corpora with
    corpus-wide decoration grams."""
    cands = lsh_candidate_pairs(entities, name_col, num_hashes, bands,
                                signature_stop_max_df=signature_stop_max_df)
    all_e = entities.select(F.col(name_col).alias("entity")).dropDuplicates()
    aliases = verified_alias_pairs(cands, all_e, jaccard_threshold=jaccard_threshold)
    comp = connected_components(aliases)
    return (
        all_e.join(comp, "entity", "left")
        .select("entity", F.coalesce("component", F.col("entity")).alias("canonical"))
    )


def canonicalize_edges(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite edge endpoints through the canonical mapping (stage 8→9)."""
    m_s = mapping.select(F.col("entity").alias("subject"), F.col("canonical").alias("_cs"))
    m_o = mapping.select(F.col("entity").alias("object"), F.col("canonical").alias("_co"))
    return (
        edges.join(m_s, "subject", "left")
        .join(m_o, "object", "left")
        .select(
            F.coalesce("_cs", F.col("subject")).alias("subject"),
            "predicate",
            F.coalesce("_co", F.col("object")).alias("object"),
        )
        .dropDuplicates()
    )


def connected_components_star(
    pairs: DataFrame, max_iter: int = 25, stats: dict | None = None
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al., "Connected
    Components in MapReduce and Beyond") on undirected pairs(a, b) →
    (entity, component). Converges in O(log n) rounds on adversarial chains
    where plain min-label propagation needs O(diameter) — the scale path for
    canonicalizing billion-node alias graphs.

    Node ordering is lexicographic on the entity name (deterministic,
    partition-invariant); component id = smallest member. ``stats``
    (optional dict) receives {"rounds": <rounds run>}.
    """
    edges = (
        pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )

    def large_star(e: DataFrame) -> DataFrame:
        # symmetric neighborhoods; attach every strictly-larger neighbor of u
        # to min(Γ(u) ∪ {u})
        sym = e.union(e.select(F.col("v"), F.col("u")))
        m = (
            sym.union(sym.select("u", F.col("u")))
            .groupBy("u").agg(F.min("v").alias("m"))
        )
        return (
            sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            # no dropDuplicates here: small_star's nbr dedup absorbs the
            # multiplicity one shuffle later (min-aggregations are
            # duplicate-insensitive) — one fewer exchange per round
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient (larger → smaller); attach all small neighbors and u itself
        # to min(N(u) ∪ {u})
        oriented = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        nbr = oriented.union(oriented.select("u", F.col("u"))).dropDuplicates()
        m = nbr.groupBy("u").agg(F.min("v").alias("m"))
        return (
            nbr.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .dropDuplicates()
        )

    prev = None
    for it in range(max_iter):
        edges = small_star(large_star(edges)).localCheckpoint(eager=True)
        sig = edges.agg(F.count(F.lit(1)).alias("c"),
                        F.sum(F.hash("u", "v")).alias("s")).collect()[0]
        cur = (sig["c"], sig["s"])
        if stats is not None:
            stats["rounds"] = it + 1
        if cur == prev:
            break
        prev = cur

    all_nodes = pairs.select(F.col("a").alias("entity")).union(
        pairs.select("b")).dropDuplicates()
    return (
        all_nodes.join(edges.withColumnRenamed("u", "entity"), "entity", "left")
        .groupBy("entity")
        .agg(F.min(F.coalesce("v", F.col("entity"))).alias("component"))
    )
