"""Graph analytics over the materialized KG edge table: degree profiles and
fixed-iteration PageRank — the read-side workloads a KG-construction
pipeline's consumers run first (hub detection, entity importance ranking
for downstream linking/pruning).

Provenance: PageRank is Brin & Page 1998; the DataFrame-join iteration is
the standard Spark formulation (one join + one combinable aggregation per
round). No Python on any path.

Scale notes (100 TB KG):
* ``degrees`` is two map-side-combinable counts unioned — uniform keys.
* ``pagerank`` joins the rank vector to edges on the source entity. A hub
  SOURCE (one entity with 10⁶ out-edges) is a skew key for the join — AQE
  skew-join splits it (the rank side is one row per entity, trivially
  replicable); the per-destination contribution sum is a combinable
  aggregation, so a hub DESTINATION reduces map-side. Iteration count is
  fixed (the caller's convergence budget); each round's output is one
  entity-keyed table, no lineage growth beyond ``iters`` joins — callers
  running many iterations should checkpoint every few rounds like the CC
  loop (linking.py) does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def degrees(
    edges: DataFrame, src_col: str = "subject", dst_col: str = "object",
) -> DataFrame:
    """Per-entity (out_degree, in_degree, degree) over a directed edge table."""
    out_d = edges.groupBy(F.col(src_col).alias("entity")).agg(
        F.count(F.lit(1)).alias("out_degree"))
    in_d = edges.groupBy(F.col(dst_col).alias("entity")).agg(
        F.count(F.lit(1)).alias("in_degree"))
    return (
        out_d.join(in_d, "entity", "full_outer")
        .select(
            "entity",
            F.coalesce("out_degree", F.lit(0)).cast("bigint").alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).cast("bigint").alias("in_degree"),
            (F.coalesce("out_degree", F.lit(0)) + F.coalesce("in_degree", F.lit(0)))
            .cast("bigint").alias("degree"),
        )
    )


def pagerank(
    edges: DataFrame, iters: int = 5, damping: float = 0.85,
    src_col: str = "subject", dst_col: str = "object",
    checkpoint_every: int = 5, tol: float | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge table (duplicate edges
    count once; self-loops allowed). rank₀(v) = 1/N; rankₜ₊₁(v) =
    (1−d)/N + d·Σ_{(u,v)∈E} rankₜ(u)/outdeg(u). Dangling-node mass is NOT
    redistributed (the plain sparse formulation, exactly mirrorable in SQL).

    ``checkpoint_every``: localCheckpoint the rank vector every k rounds
    (same cadence idea as the CC loop, linking.py) so the logical plan —
    and with it analysis/optimization time — stays flat at high iteration
    counts instead of growing a join-chain per round.

    ``tol``: optional L1 convergence early-exit — when
    Σ|rankₜ₊₁ − rankₜ| < tol the loop stops (one extra join + one scalar
    collect per round, like the CC convergence signature). Default None
    keeps the exact fixed-``iters`` semantics (and the SQL oracle's
    unrolled mirror). ``stats['rounds']`` reports the executed count.

    Returns ``(entity, rank)`` with rank unrounded — round at the edge of
    the pipeline, not inside the iteration.
    """
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .dropDuplicates()
    )
    nodes = e.select(F.col("src").alias("entity")).union(
        e.select("dst")).dropDuplicates()
    n = nodes.count()  # one scalar to the driver: the graph order
    if n == 0:  # empty edge table → empty ranking, like degrees()
        return nodes.select("entity", F.lit(0.0).alias("rank"))
    out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # ship outdeg with every edge once, instead of re-joining per iteration;
    # pin nodes + weighted edges: every round re-reads both
    e_w = e.join(out_deg, "src").localCheckpoint(eager=False)
    nodes = nodes.localCheckpoint(eager=False)
    ranks = nodes.select("entity", F.lit(1.0 / n).alias("rank"))
    for it in range(iters):
        prev = ranks
        contrib = (
            e_w.join(ranks, e_w["src"] == ranks["entity"])
            .select("dst", (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("csum"))
        )
        ranks = (
            nodes.join(contrib, nodes["entity"] == contrib["dst"], "left")
            .select(
                "entity",
                (F.lit((1.0 - damping) / n)
                 + F.lit(damping) * F.coalesce("csum", F.lit(0.0))).alias("rank"),
            )
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
        if stats is not None:
            stats["rounds"] = it + 1
        if tol is not None:
            delta = (
                ranks.join(prev.withColumnRenamed("rank", "prev_rank"),
                           "entity")
                .agg(F.sum(F.abs(F.col("rank") - F.col("prev_rank")))
                     .alias("d")).collect()[0]["d"]
            )
            if delta is not None and delta < tol:
                break
    return ranks


def cooccurrence_edges(
    mentions: DataFrame,
    id_col: str = "doc_id",
    entity_col: str = "entity",
    min_pairs: int = 2,
    per_doc_cap: int = 64,
) -> DataFrame:
    """Document-level entity co-occurrence with lift weighting — the
    corpus-statistics edge evidence next to the extracted predicate edges
    (two entities that keep appearing in the same pages are related even
    when no predicate pattern fires; the classic KG-completion signal).

    Input: a (doc, entity) mention table (``locate.locate_doc_entities``
    output or the extraction's subject/object columns). Presence counts,
    not multiplicity: a page mentioning a pair fifty times is one
    co-occurring document. Output per unordered pair (``a`` < ``b``):
    ``n_pair`` co-occurring docs, each side's document frequency, and
    ``lift_micro`` = floor(n_pair · n_docs · 10⁶ / (df_a · df_b)) — the
    integer-micro-unit lift (PMI without the log; identical ranking, and
    exact in both engines where float log diverges). 10⁶ lift = the pair
    co-occurs exactly as often as independence predicts.

    Scale shape: one per-doc aggregation (uniform key) whose entity set
    is capped at the lexicographically-first ``per_doc_cap`` (an
    entity-soup page — a tag index listing 10⁴ entities — would otherwise
    emit 10⁸ pairs; the cap bounds fan-out at cap²/2 ≈ 2k pairs per doc
    while keeping the cap DETERMINISTIC, same convention as
    ``kg.unique_adjacency``), in-partition pair explode (no self-join),
    then a map-side-combinable pair count; the ``min_pairs`` filter runs
    before the df joins so the singleton long tail never shuffles twice.
    ``n_docs`` stays a 1-row broadcast, not a driver scalar.
    """
    m = mentions.select(
        F.col(id_col).alias("_doc"), F.col(entity_col).alias("_e")
    ).dropDuplicates()
    tot = m.select(F.count_distinct("_doc").alias("n_docs"))
    df_e = m.groupBy("_e").agg(F.count(F.lit(1)).alias("_df"))
    capped = m.groupBy("_doc").agg(
        F.slice(F.sort_array(F.collect_set("_e")), 1, per_doc_cap)
        .alias("_es"))
    pair_struct = F.flatten(F.transform(
        "_es",
        lambda x, i: F.transform(
            F.slice(F.col("_es"), i + F.lit(2), F.size("_es")),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))
    pairs = (
        capped.select(F.explode(pair_struct).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= min_pairs)
    )
    return (
        pairs
        .join(df_e.select(F.col("_e").alias("a"),
                          F.col("_df").alias("df_a")), "a")
        .join(df_e.select(F.col("_e").alias("b"),
                          F.col("_df").alias("df_b")), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a", "b", "n_pair", "df_a", "df_b",
            # integer DIV on DECIMAL(38,0) intermediates, not floor(double)
            # and not bare BIGINT: float division loses exactness past 2^53,
            # and a BIGINT product n_pair·n_docs·10⁶ wraps at web scale
            # (n_pair 10⁶ × n_docs 10¹³ × 10⁶ ≈ 10²⁵ ≫ 2⁶³). Decimal holds
            # 10³⁸; the DuckDB mirror uses HUGEINT (int128) — identical
            # integer results. The quotient itself is ≤ n_docs·10⁶
            # (n_pair ≤ df_a), so the BIGINT output cast is safe up to
            # ~9·10¹² documents.
            F.expr("(CAST(n_pair AS DECIMAL(38,0)) * n_docs * 1000000)"
                   " DIV (CAST(df_a AS DECIMAL(38,0)) * df_b)")
            .cast("bigint").alias("lift_micro"))
    )


def label_propagation(
    edges: DataFrame, iters: int = 3,
    src_col: str = "subject", dst_col: str = "object",
    checkpoint_every: int = 5,
) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al. 2007)
    over the undirected view of an edge table — community detection for
    the KG analytics family, between ``degrees`` (local) and ``pagerank``
    (global): label₀(v) = v; labelₜ₊₁(v) = the most frequent label among
    v's NEIGHBORS at round t, ties broken by the lexicographically
    smallest label (the classic algorithm breaks ties randomly — the
    deterministic rule makes results partitioning-invariant and exactly
    SQL-mirrorable); isolated direction never occurs (every node here has
    an edge) but nodes whose neighbors vanish keep their label via the
    left join. Fixed ``iters`` rounds, no early exit — the oracle unrolls
    the same rounds.

    Scale shape per round: one combinable groupBy on (node, label) — a
    10⁷-degree hub's count rows are bounded by its DISTINCT neighbor
    labels, which contracts rapidly after round 1 as communities absorb
    the tail — then a per-node argmax as a combinable
    ``min(struct(-count, label))`` (lexicographic struct order = count
    desc, label asc — the identical deterministic tie-break), NOT a
    row_number window: at round 1 a 10⁷-degree hub has ~10⁷ distinct
    neighbor labels, and a window would sort all of them in one
    unsplittable task while the struct-min reduces map-side.
    ``checkpoint_every`` truncates the logical plan like the
    pagerank/CC loops. Self-loops dropped (a node's own label is not a
    neighbor vote)."""
    und = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    e = (
        und.union(und.select(F.col("dst"), F.col("src")))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    nodes = e.select(F.col("src").alias("entity")).dropDuplicates() \
        .localCheckpoint(eager=False)
    labels = nodes.select("entity", F.col("entity").alias("label"))
    for it in range(iters):
        nb = (
            e.join(labels, e["dst"] == labels["entity"])
            .select(F.col("src").alias("v"), "label")
            .groupBy("v", "label").agg(F.count(F.lit(1)).alias("c"))
        )
        best = (
            nb.groupBy("v")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), "label")).alias("m"))
            .select(F.col("v").alias("entity"), F.col("m.label").alias("_nl"))
        )
        labels = (
            nodes.join(best, "entity", "left")
            .select("entity",
                    F.coalesce("_nl", F.col("entity")).alias("label"))
        )
        if (it + 1) % checkpoint_every == 0:
            labels = labels.localCheckpoint(eager=True)
    return labels


def triangle_counts(
    edges: DataFrame,
    src_col: str = "subject", dst_col: str = "object",
) -> DataFrame:
    """Per-entity triangle counts + local clustering coefficient over the
    undirected simple graph (duplicate edges and self-loops dropped) —
    the cohesion profile next to ``degrees``/``pagerank``/
    ``label_propagation`` (dense KG neighborhoods signal alias families
    and template-generated link farms; near-zero coefficients at high
    degree signal hub/spam shapes).

    Scale shape is the standard degree orientation (Cohen 2009 /
    node-iterator++): every undirected edge points from its (degree, id)-
    smaller endpoint to the larger, so each triangle is enumerated
    exactly once and every node's ORIENTED out-degree is O(√m) — the
    wedge self-join per source is bounded regardless of how head a hub
    is (a 10⁷-degree entity contributes no wedges unless its neighbors
    out-rank it, and at most √m if they do). Wedges then semi-join the
    oriented edge set for closure. Three uniform shuffles (degree agg,
    wedge join, closure join) + the final per-node count.

    ``coeff_micro`` = 2·T·10⁶ DIV d·(d−1) in exact integers (repo rule),
    -1 sentinel for degree < 2 (coefficient undefined)."""
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .dropDuplicates()
    )
    deg = (
        und.select(F.col("u").alias("n")).union(und.select("v"))
        .groupBy("n").agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient by (deg, id): the strict total order every endpoint pair has
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    with_deg = und.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = with_deg.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ).localCheckpoint(eager=False)
    e1 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    wedges = e1.join(e2, "a").where(F.col("b") < F.col("c"))
    # closure: the (b,c) leg exists in EITHER orientation — b<c is the
    # string order, not the degree order the edges were directed by
    closing = oriented.select(
        F.least("src", "dst").alias("b"), F.greatest("src", "dst").alias("c"))
    tri = wedges.join(closing, ["b", "c"], "left_semi")
    per_node = (
        tri.select(F.col("a").alias("n")).union(tri.select("b"))
        .union(tri.select("c"))
        .groupBy("n").agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "n", "left")
        .select(
            F.col("n").alias("entity"),
            F.col("deg").cast("bigint").alias("degree"),
            F.coalesce("triangles", F.lit(0)).cast("bigint")
            .alias("triangles"))
        .selectExpr(
            "entity", "degree", "triangles",
            # DECIMAL(38,0) intermediates (the cooccurrence lift_micro
            # pattern): triangles ≈ d²/2 at a hub, so triangles·2·10⁶ can
            # exceed 2⁶³ and silently wrap in non-ANSI BIGINT while the
            # DuckDB mirror promotes to HUGEINT (round-7 ADVICE)
            "CASE WHEN degree < 2 THEN -1 "
            "ELSE CAST((CAST(triangles AS DECIMAL(38,0)) * 2000000)"
            " DIV (CAST(degree AS DECIMAL(38,0)) * (degree - 1)) AS BIGINT)"
            " END AS coeff_micro")
    )
