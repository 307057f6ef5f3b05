"""Knowledge-graph build, correction and materialization (SURVEY.md §2 A7/A8,
J3/J5, R8/R9/R10).

The reference holds the KG as an in-memory dict-of-Node adjacency
(utils/kg.py:107-209) and walks it imperatively. Here the KG is two
DataFrames — ``edges(subject, predicate, object)`` and per-entity
``vertices(entity, gender, professions map, fictional, has_in_wife)`` — and
every correction is a join + a vectorized per-row cascade, so the same code
runs against a billion-edge KG: the joins shuffle on entity keys (AQE handles
the skew of head entities), and only the final rule cascade runs in an Arrow
batch.

Determinism note: the reference iterates KG neighbor lists in dict-insertion
order (utils/kg.py:247-253). We use lexicographic order instead — a
deterministic, partition-invariant choice; outputs differ from the reference
only when several KG objects for the same (subject, predicate) all occur in
the text, where the reference's own result depends on file order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..schema import (
    CONFLICT_GROUPS,
    MY_SCHEMA_DICT,
    PROFESSION_CONFLICTS,
    TRIPLE_SCHEMA,
    UNIQUE_PREDICATES,
)
from .batches import row_frames

# Node.add_properity rules (reference utils/kg.py:127-147)
_GENDER_MALE_SBJ = ("妻子",)
_GENDER_MALE_OBJ = ("父亲",)
_GENDER_FEMALE_OBJ = ("妻子", "母亲")
_PROF_SBJ = ("配音", "饰演")
_PROF_OBJ = ("作者", "编剧", "歌手", "制片人", "作词", "导演", "作曲", "主演", "主持人")
_FICTIONAL_OBJ = ("主角", "配音", "角色", "饰演")


# ST10 entity splitting (reference utils/kg.py:497-525 — DORMANT,
# commented out upstream; implemented behind a flag, OFF by default to
# match the reference's live surface). Type groups and split regexes are
# the reference's verbatim; ｡､ is the halfwidth ideographic comma.
_SPLIT_WORK_TYPES = ("文学作品", "作品", "影视作品", "图书作品", "歌曲")
_SPLIT_ORG_TYPES = ("企业", "企业/品牌", "机构")
_SPLIT_PERSON_TYPES = ("人物", "历史人物", "娱乐人物")
_SPLIT_WORK_RX = "》《|》、《|》，《|\\d\\d |》和《"
_SPLIT_ORG_RX = "、|/|､"
_SPLIT_PERSON_RX = "、|/"


def _split_name_parts(name, etype):
    """Array of ST10 name parts, NULL when no type rule applies
    (reference utils/kg.py:498-516): work titles split on the 》…《
    joiners; org and person names split on 、 / ､ only when the name has
    no fullwidth comma; person names additionally gate on length ≤ 40 and,
    when a split actually happened, keep only parts shorter than 15 chars.
    Empty parts (adjacent delimiters — the dormant reference code would
    have created empty-named nodes) are dropped, documented deviation."""
    no_comma = ~name.contains("，")
    person_raw = F.split(name, _SPLIT_PERSON_RX)
    person = F.when(
        F.size(person_raw) > 1,
        F.filter(person_raw, lambda p: F.length(p) < 15),
    ).otherwise(person_raw)
    parts = (
        F.when(etype.isin(*_SPLIT_WORK_TYPES), F.split(name, _SPLIT_WORK_RX))
        .when(no_comma & etype.isin(*_SPLIT_ORG_TYPES),
              F.split(name, _SPLIT_ORG_RX))
        .when(no_comma & etype.isin(*_SPLIT_PERSON_TYPES)
              & (F.length(name) <= 40), person)
    )
    return F.filter(parts, lambda p: F.length(p) > 0)


def split_entity_names(
    entities: DataFrame, name_col: str = "entity",
    type_col: str = "entity_type",
) -> DataFrame:
    """ST10: explode concatenated entity names (《A》《B》 work-title runs,
    、/-joined org/person lists) into their parts — the reference's
    dormant ``split_nodes`` (utils/kg.py:497-525) as a map-only Catalyst
    projection (zero shuffle). Emits one row per part for entities a type
    rule MATCHED (single-part matches ride along, like the reference's
    copy-then-combine no-op): input columns + ``part``, ``part_idx``
    (1-based), ``n_parts``. Entities with no matching rule produce no
    rows, mirroring the reference's empty ``nodes_name`` skip."""
    parts = _split_name_parts(F.col(name_col), F.col(type_col))
    return (
        entities.withColumn("_parts", parts)
        .where(F.col("_parts").isNotNull() & (F.size("_parts") > 0))
        .select("*", F.posexplode("_parts").alias("_i", "part"))
        .select(*entities.columns,
                "part", (F.col("_i") + 1).alias("part_idx"),
                F.size("_parts").alias("n_parts"))
    )


def kg_edges(triples: DataFrame, split_names: bool = False) -> DataFrame:
    """A7: distinct (subject, predicate, object-@value) edge table.

    ``split_names=True`` additionally applies ST10 entity splitting
    (``split_entity_names``; OFF by default — dormant in the reference):
    each split part of a subject (by subject_type) or object (by the
    @value object_type) gets a copy of the original row's edge, original
    edges kept — the reference's copy_node duplicates all incident edges
    onto the new nodes while the original node remains."""
    base = (
        triples.select(
            "subject", "predicate", F.col("object")["@value"].alias("object")
        )
        .where(F.col("object").isNotNull())
        .dropDuplicates()
    )
    if not split_names:
        return base
    flat = triples.select(
        "subject", F.col("subject_type").alias("_st"),
        "predicate", F.col("object")["@value"].alias("object"),
        F.col("object_type")["@value"].alias("_ot"),
    ).where(F.col("object").isNotNull())
    sparts = split_entity_names(
        flat.select(F.col("subject").alias("entity"),
                    F.col("_st").alias("entity_type"),
                    "predicate", "object"),
    ).select(F.col("part").alias("subject"), "predicate", "object")
    oparts = split_entity_names(
        flat.select("subject", "predicate",
                    F.col("object").alias("entity"),
                    F.col("_ot").alias("entity_type")),
    ).select("subject", "predicate", F.col("part").alias("object"))
    return base.unionByName(sparts).unionByName(oparts).dropDuplicates()


def kg_vertices(triples: DataFrame) -> DataFrame:
    """A8: per-entity properties derived from incident predicates.

    Profession lists keep multiplicity (the >30 dominance rule counts
    occurrences, utils/kg.py:236-240), so aggregation runs over ALL triple
    rows, not distinct edges. Conflicting gender evidence → 'error'
    (utils/kg.py:128-132).
    """
    base = triples.select("subject", "predicate", F.col("object")["@value"].alias("object"))
    sbj = base.select(
        F.col("subject").alias("entity"),
        F.col("predicate").isin(*_GENDER_MALE_SBJ).alias("male_ev"),
        F.lit(False).alias("female_ev"),
        F.when(F.col("predicate").isin(*_PROF_SBJ), F.col("predicate")).alias("prof"),
        F.lit(False).alias("fict_ev"),
    )
    obj = base.where(F.col("object").isNotNull()).select(
        F.col("object").alias("entity"),
        F.col("predicate").isin(*_GENDER_MALE_OBJ).alias("male_ev"),
        F.col("predicate").isin(*_GENDER_FEMALE_OBJ).alias("female_ev"),
        F.when(F.col("predicate").isin(*_PROF_OBJ), F.col("predicate")).alias("prof"),
        F.col("predicate").isin(*_FICTIONAL_OBJ).alias("fict_ev"),
    )
    ev = sbj.unionByName(obj)
    agg = ev.groupBy("entity").agg(
        F.max("male_ev").alias("male"),
        F.max("female_ev").alias("female"),
        F.max("fict_ev").alias("fictional"),
    )
    prof_counts = (
        ev.where(F.col("prof").isNotNull())
        .groupBy("entity", "prof").count()
        .groupBy("entity")
        .agg(F.map_from_entries(F.collect_list(F.struct("prof", "count"))).alias("professions"))
    )
    has_in_wife = (
        base.where(F.col("predicate") == "妻子")
        .select(F.col("object").alias("entity"))
        .dropDuplicates()
        .withColumn("has_in_wife", F.lit(True))
    )
    return (
        agg
        .join(prof_counts, "entity", "left")
        .join(has_in_wife, "entity", "left")
        .select(
            "entity",
            F.when(F.col("male") & F.col("female"), "error")
            .when(F.col("male"), "male")
            .when(F.col("female"), "female")
            .otherwise("unknown").alias("gender"),
            F.coalesce("professions", F.create_map().cast("map<string,bigint>")).alias("professions"),
            "fictional",
            F.coalesce("has_in_wife", F.lit(False)).alias("has_in_wife"),
        )
    )


def with_in_kg(triples: DataFrame, edges: DataFrame) -> DataFrame:
    """check_spo_1 membership flag (utils/kg.py:420-427) as a 3-key existence
    join: the KG side is made distinct on (subject, predicate, object), so
    each triple matches at most one row — zero fan-out and no re-aggregation.
    (The previous 2-key join replicated every predicted triple once per KG
    object of its (subject, predicate) — 10⁵× on a hub pair — then collapsed
    the copies with a groupBy-max.)"""
    e = (
        edges.select("subject", "predicate", F.col("object").alias("_obj"))
        .dropDuplicates()
        .withColumn("_in", F.lit(True))
    )
    return (
        triples.withColumn("_obj", F.col("object")["@value"])
        .join(e, ["subject", "predicate", "_obj"], "left")
        .withColumn("in_kg", F.coalesce("_in", F.lit(False)))
        .select(*triples.columns, "in_kg")
    )


# --------------------------------------------------------------------------
# R8: check_spo correction cascade (utils/kg.py:224-280)
# --------------------------------------------------------------------------

_CORRECT_SCHEMA = T.StructType(
    TRIPLE_SCHEMA.fields[:]  # url, subject_type, subject, predicate, object_type, object
)


def _rewrite_predicate_cascade(pred: str, pair_preds: set[str]) -> str:
    """correct_rlt loop with its in-place mutation semantics (utils/kg.py:226-234)."""
    for group in CONFLICT_GROUPS:
        if pred in group:
            for c in group:
                if c != pred and c in pair_preds and c != "嘉宾":
                    pred = c
    return pred


# the kernel's input columns, in its parameter order
_KERNEL_COLS = ["url", "text", "subject_type", "subject", "predicate", "object_type",
                "object", "sbj_known", "obj_known", "pair_preds", "kg_adj",
                "obj_professions", "obj_has_in_wife"]


def _check_spo_kernel(url, text, subject_type, subject, predicate, object_type,
                      obj, sbj_known, obj_known, pair_preds, kg_adj,
                      obj_professions, obj_has_in_wife) -> list[dict]:
    """Per-row cascade; one input row may emit several corrected triples."""
    spo = {
        "url": url, "subject_type": subject_type, "subject": subject,
        "predicate": predicate,
        "object_type": dict(object_type), "object": dict(obj),
    }
    pair_preds = set() if pair_preds is None else set(pair_preds)
    if not (sbj_known and obj_known) or spo["predicate"] in pair_preds:
        return [spo]
    # predicate rewrite within conflict groups (+ type re-derivation)
    new_pred = _rewrite_predicate_cascade(spo["predicate"], pair_preds)
    if new_pred != spo["predicate"]:
        spo["predicate"] = new_pred
        st, ot = MY_SCHEMA_DICT[new_pred]
        spo["subject_type"] = st
        spo["object_type"] = {**spo["object_type"], "@value": ot["@value"]}
    # profession-dominance rewrite for 歌手/作词/作曲 (no type re-derivation)
    profs = {} if obj_professions is None else dict(obj_professions)
    if spo["predicate"] in PROFESSION_CONFLICTS and profs.get(spo["predicate"], 0) == 0:
        for p in PROFESSION_CONFLICTS:
            if profs.get(p, 0) > 30:
                spo["predicate"] = p
                break
    # object correction for unique predicates (utils/kg.py:243-264) —
    # adjacency looked up for the (possibly rewritten) predicate
    emitted: list[dict] = []
    if spo["predicate"] in UNIQUE_PREDICATES:
        kg_adj = {} if kg_adj is None else dict(kg_adj)
        objs = kg_adj.get(spo["predicate"])
        kg_objs = sorted([] if objs is None else list(objs))  # deterministic order (see module note)
        text = text or ""
        obj_val = spo["object"]["@value"]
        for name in kg_objs:
            if len(name) > 1 and text.find(name) != -1:
                replacement = name if name not in obj_val else obj_val
                if spo["predicate"] != "妻子":
                    spo["object"] = {**spo["object"], "@value": replacement}
                    break
                new_spo = {**spo, "object": {**spo["object"], "@value": replacement}}
                if new_spo not in emitted:
                    emitted.append(new_spo)
                if (spo not in emitted and not bool(obj_has_in_wife)
                        and len(kg_objs) > 1):
                    emitted.append(spo)
    return emitted or [spo]


MAX_ADJ_OBJECTS = 10_000


def unique_adjacency(edges: DataFrame, cap: int = MAX_ADJ_OBJECTS) -> DataFrame:
    """subject → {unique_predicate: [≤cap sorted KG objects]}.

    The correction kernel only ever reads adjacency for the 8
    UNIQUE_PREDICATES (utils/kg.py:243-264 guarded by the `rlt in
    unique_relations` check) — even after the conflict rewrite, since every
    rewrite target that reaches the unique branch is itself in
    UNIQUE_PREDICATES. Gathering only those predicates and capping each
    object list (lexicographically-first ``cap``, matching the kernel's
    deterministic scan order) bounds the per-subject row: a head entity with
    10⁶ 主演 edges contributes NOTHING here, and one with >cap objects for a
    single functional predicate — degenerate input for a "unique object"
    rule — is truncated instead of materializing a multi-GB row.
    """
    return (
        edges.where(F.col("predicate").isin(*UNIQUE_PREDICATES))
        .groupBy("subject", "predicate")
        .agg(F.slice(F.sort_array(F.collect_set("object")), 1, cap).alias("objs"))
        .groupBy("subject")
        .agg(F.map_from_entries(F.collect_list(F.struct("predicate", "objs"))).alias("kg_adj"))
    )


def kg_correct(
    triples_with_text: DataFrame, edges: DataFrame, vertices: DataFrame,
    adj_cap: int = MAX_ADJ_OBJECTS,
) -> DataFrame:
    """R8: conflict-predicate and unique-object correction against the KG.

    ``triples_with_text`` must carry (url, text, subject_type, subject,
    predicate, object_type, object). All context is gathered with equi-joins
    (broadcast or shuffle — Catalyst's choice), then the deterministic rule
    cascade runs vectorized per row.
    """
    t = triples_with_text.withColumn("_obj", F.col("object")["@value"])
    ent = vertices.select("entity").withColumn("_known", F.lit(True))
    # (subject, object) → set of predicates the KG holds for the pair
    pair = edges.groupBy("subject", "object").agg(
        F.collect_set("predicate").alias("pair_preds")
    )
    # subject → {unique predicate: [KG objects]} — looked up AFTER the
    # conflict rewrite (reference reads sbj_node.out_edges[rlt] with the
    # mutated rlt, utils/kg.py:247); restricted to UNIQUE_PREDICATES and
    # capped, see unique_adjacency
    adj = unique_adjacency(edges, adj_cap)
    vtx = vertices.select(
        F.col("entity").alias("_obj_ent"),
        F.col("professions").alias("obj_professions"),
        F.col("has_in_wife").alias("obj_has_in_wife"),
    )
    base = (
        t.join(ent.withColumnRenamed("entity", "subject")
                 .withColumnRenamed("_known", "sbj_known"), "subject", "left")
        .join(ent.select(F.col("entity").alias("_obj"), F.col("_known").alias("obj_known")),
              "_obj", "left")
        .join(pair.withColumnRenamed("object", "_obj"), ["subject", "_obj"], "left")
        .fillna({"sbj_known": False, "obj_known": False})
    )

    # Kernel bypass: the cascade's first branch (utils/kg.py:224-226) passes a
    # triple through UNCHANGED when an endpoint is unknown to the KG or the
    # predicate already connects the pair — both Catalyst-expressible, so
    # those rows (the vast majority against a converged KG) never cross the
    # Arrow boundary. Only repair CANDIDATES pay the Python kernel and the
    # adjacency/vertex joins.
    #
    # `base` is deliberately NOT checkpointed/persisted even though both
    # union legs reference it: the legs re-run two cheap columnar scans +
    # broadcast joins, while materializing the wide join output (triples ×
    # text) measurably OOMs executor storage at 13M rows on this box — the
    # double scan is the memory-safe shape at any scale. Precondition: the
    # input must be DETERMINISTIC under re-evaluation (a table/checkpointed
    # stage, as in the pipeline) — a nondeterministic source (sample(),
    # unseeded limit) could present different rows to the two legs; persist
    # such inputs before calling.
    bypass = (
        ~F.col("sbj_known") | ~F.col("obj_known")
        | F.coalesce(F.array_contains("pair_preds", F.col("predicate")), F.lit(False))
    )
    passthrough = base.where(bypass).select(*TRIPLE_SCHEMA.names)
    candidates = (
        base.where(~bypass)
        .join(adj, ["subject"], "left")
        .join(vtx, F.col("_obj") == vtx["_obj_ent"], "left")
    )

    corrected = (
        candidates.select(*_KERNEL_COLS)
        .mapInPandas(lambda batches: row_frames(batches, _CORRECT_SCHEMA.names,
                                                _check_spo_kernel),
                     schema=_CORRECT_SCHEMA)
        .unionByName(passthrough)
    )
    # reference dedups the per-doc list after correction (utils/kg.py:276-279)
    from .eval import canonical_triple_key

    return (
        canonical_triple_key(corrected)
        .dropDuplicates(["url", "triple_key"])
        .drop("triple_key")
    )


# --------------------------------------------------------------------------
# J4: fix_spo — alias/containment endpoint repair (utils/kg.py:296-330)
# --------------------------------------------------------------------------

def fix_spo(triples: DataFrame, edges: DataFrame, person_types=("人物", "历史人物", "娱乐人物")) -> DataFrame:
    """Repair one unknown endpoint via KG neighbors whose canonical name is a
    substring of the predicted name (length>1, person-type + CJK gates)."""
    from ..functions.tokenizer import have_chinese  # noqa: F401 (documented gate)

    from .eval import canonical_triple_key

    ent = edges.select(F.col("subject").alias("entity")).union(
        edges.select("object")).dropDuplicates().withColumn("known", F.lit(True))

    orig = canonical_triple_key(triples.select(*TRIPLE_SCHEMA.names)) \
        .withColumnRenamed("triple_key", "src_key")
    t = (
        orig.withColumn("_obj", F.col("object")["@value"])
        .join(ent.withColumnRenamed("entity", "subject")
                 .withColumnRenamed("known", "sbj_known"), "subject", "left")
        .join(ent.select(F.col("entity").alias("_obj"),
                         F.col("known").alias("obj_known")), "_obj", "left")
        .fillna({"sbj_known": False, "obj_known": False})
    )
    has_cjk = lambda c: c.rlike("[\\u4e00-\\u9fa5]")  # noqa: E731

    # Candidate gathering is a direct equi-join of the repairable triples to
    # the DISTINCT edge rows — no collect_set/explode round-trip: a head
    # entity with 10⁶ 主演 edges fans out into ordinary join rows that AQE's
    # skew-join splitting handles, instead of materializing one multi-GB
    # array row + straggler task (the same hub hazard kg_correct's
    # unique_adjacency fixed). The inner join itself restricts the gather to
    # (subject|object, predicate) keys that actually have a repairable
    # triple; dedup semantics of the old collect_set are preserved by the
    # dropDuplicates on the edge projection.
    # case 1: known subject, unknown object of person type
    cand_o = edges.select(
        "subject", "predicate", F.col("object").alias("cand")).dropDuplicates()
    case1 = (
        t.where(F.col("sbj_known") & ~F.col("obj_known")
                & F.col("object_type")["@value"].isin(*person_types))
        .join(cand_o, ["subject", "predicate"], "inner")
        .where(
            (F.length("cand") > 1)
            & F.col("_obj").contains(F.col("cand"))
            & (F.length("_obj") > 4)
            & (~F.col("_obj").contains("·"))
            & has_cjk(F.col("_obj"))
        )
        .withColumn("object", F.map_concat(
            F.map_filter("object", lambda k, v: k != F.lit("@value")),
            F.create_map(F.lit("@value"), F.col("cand"))))
    )
    # case 2: unknown subject of person type, known object
    cand_s = edges.select(
        F.col("object").alias("_obj"), "predicate",
        F.col("subject").alias("cand")).dropDuplicates()
    case2 = (
        t.where(~F.col("sbj_known") & F.col("obj_known")
                & F.col("subject_type").isin(*person_types))
        .join(cand_s, ["_obj", "predicate"], "inner")
        .where(
            (F.length("cand") > 1)
            & F.col("subject").contains(F.col("cand"))
            & (F.length("subject") > 4)
            & (~F.col("subject").contains("·"))
            & has_cjk(F.col("subject"))
        )
        .withColumn("subject", F.col("cand"))
    )
    fixed = case1.select(*TRIPLE_SCHEMA.names, "src_key").unionByName(
        case2.select(*TRIPLE_SCHEMA.names, "src_key"))

    # the reference REPLACES a triple with its repair(s) when any candidate
    # matched (utils/kg.py:328-330): drop originals that spawned fixes, keep
    # the rest untouched, dedup the repaired rows
    sources = fixed.select("url", F.col("src_key")).dropDuplicates()
    kept = orig.join(sources, ["url", "src_key"], "left_anti").drop("src_key")
    fixed_rows = (
        canonical_triple_key(fixed.drop("src_key"))
        .dropDuplicates(["url", "triple_key"]).drop("triple_key")
    )
    return kept.unionByName(fixed_rows)


# --------------------------------------------------------------------------
# R9: self_check — prune conflicting parallel edges (utils/kg.py:332-404)
# --------------------------------------------------------------------------

def self_check(edges: DataFrame, std_vertices: DataFrame) -> DataFrame:
    """Delete one (or both) of two parallel conflicting edges per (s, o) pair,
    arbitrated by the standard-KG vertex properties, else surname heuristic."""
    pair = edges.groupBy("subject", "object").agg(F.collect_set("predicate").alias("preds"))
    vtx = std_vertices.select(
        F.col("entity").alias("object"),
        F.col("gender").alias("o_gender"),
        F.col("professions").alias("o_prof"),
        F.col("fictional").alias("o_fict"),
    )
    p = pair.join(vtx, "object", "left")

    both = lambda a, b: F.array_contains("preds", a) & F.array_contains("preds", b)  # noqa: E731
    prof_has = lambda name: F.coalesce(F.element_at("o_prof", name) > 0, F.lit(False))  # noqa: E731
    same_surname = F.substring("subject", 1, 1) == F.substring("object", 1, 1)

    def rule(a: str, b: str, del_a_if, del_b_if, else_del_both=True):
        """Returns array of predicates to delete for the (a, b) conflict."""
        return F.when(
            both(a, b),
            F.when(del_a_if, F.array(F.lit(a)))
            .when(del_b_if, F.array(F.lit(b)))
            .otherwise(F.array(F.lit(a), F.lit(b)) if else_del_both else F.array()),
        ).otherwise(F.array().cast("array<string>"))

    g = F.coalesce("o_gender", F.lit("unknown"))
    # 作者/主角: delete 主角 if std professions has 作者; delete 作者 if fictional
    del_author = F.when(
        both("作者", "主角"),
        F.when(prof_has("作者"), F.array(F.lit("主角")))
        .when(F.coalesce("o_fict", F.lit(False)), F.array(F.lit("作者")))
        .otherwise(F.array(F.lit("作者"), F.lit("主角"))),
    ).otherwise(F.array().cast("array<string>"))
    # surname branch of 母亲/父亲 must delete 母亲 (not 父亲): rebuild precisely.
    # Exactly-two gate: the 妻子/母亲/父亲 group fires only when EXACTLY two of
    # its predicates connect the pair (reference len(conflict_list)==2,
    # utils/kg.py:345-346) — a three-way 妻子+母亲+父亲 conflict is a
    # deliberate no-op upstream (len==3 only prints a diagnostic).
    del_parent = F.when(
        both("母亲", "父亲") & ~F.array_contains("preds", "妻子"),
        F.when(g == "male", F.array(F.lit("母亲")))
        .when(g == "female", F.array(F.lit("父亲")))
        .when(same_surname, F.array(F.lit("母亲")))
        .otherwise(F.array(F.lit("父亲"), F.lit("母亲"))),
    ).otherwise(F.array().cast("array<string>"))

    deletions = F.flatten(F.array(
        del_parent,
        rule("主角", "主演", del_a_if=prof_has("主演"), del_b_if=F.coalesce("o_fict", F.lit(False))),
        rule("角色", "主演", del_a_if=prof_has("主演"), del_b_if=F.coalesce("o_fict", F.lit(False))),
        del_author,
        rule("嘉宾", "主持人", del_a_if=prof_has("主持人"), del_b_if=F.lit(False)),
    ))
    to_delete = (
        p.select("subject", "object", F.explode(deletions).alias("predicate"))
        .dropDuplicates()
    )
    return edges.join(to_delete, ["subject", "predicate", "object"], "left_anti")


# --------------------------------------------------------------------------
# R10: materialize edges back to formal triples via the schema table
# --------------------------------------------------------------------------

def materialize_triples(edges: DataFrame, spark=None) -> DataFrame:
    from ..schema import schema_predicates_df

    spark = spark or edges.sparkSession
    sch = F.broadcast(schema_predicates_df(spark).select(
        "predicate", F.col("subject_type").alias("_st"),
        F.element_at("object_type", "@value").alias("_ot")))
    return (
        edges.join(sch, "predicate", "inner")
        .select(
            "subject", "predicate", "object",
            F.col("_st").alias("subject_type"),
            F.create_map(F.lit("@value"), F.col("_ot")).alias("object_type"),
            F.create_map(F.lit("@value"), F.col("object")).alias("object_map"),
        )
        .withColumnRenamed("object", "object_value")
        .withColumnRenamed("object_map", "object")
    )
