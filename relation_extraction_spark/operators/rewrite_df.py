"""DataFrame-level wrappers for the R1/R2/R3 rewrite kernels.

R1 (expand) is a pure per-row rule → implemented as a Catalyst column
expression (explode of a case-built struct array): whole-stage codegen, no
Python. R2/R3 need per-document context → grouped Arrow stages
(``applyInPandas`` on url). The reference consumes triples in Python list
order (data/lic_2020.py:394-574); for partition-count invariance we impose a
canonical order (subject, predicate, object json) before running the kernel
(SURVEY.md §4 item 4).
"""

from __future__ import annotations

import json

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from ..schema import TRIPLE_SCHEMA
from .batches import records_frame
from .rewrite import combine_spos, postprocess_1

_TRIPLE_COLS = ["url", "subject_type", "subject", "predicate", "object_type", "object"]


def expand_spo_df(triples: DataFrame) -> DataFrame:
    """R1 as a pure column expression (no UDF): complex → simple triples."""
    o = F.col("object")
    row = lambda st, s, p, ot_pairs, o_pairs: F.struct(  # noqa: E731
        F.lit(st).alias("subject_type"), s.alias("subject"), F.lit(p).alias("predicate"),
        F.create_map(*ot_pairs).alias("object_type"), F.create_map(*o_pairs).alias("object"),
    )
    val = lambda key: o[key]  # noqa: E731
    atv = F.lit("@value")

    def base(st, p, ot):
        return row(st, F.col("subject"), p, [atv, F.lit(ot)], [atv, val("@value")])

    def opt(cond, struct_col):
        return F.when(cond, F.array(struct_col)).otherwise(F.array().cast(
            "array<struct<subject_type:string,subject:string,predicate:string,"
            "object_type:map<string,string>,object:map<string,string>>>"))

    has = lambda k: o.getItem(k).isNotNull()  # noqa: E731

    expanded = (
        F.when(F.col("predicate") == "配音", F.concat(
            F.array(base("娱乐人物", "配音", "人物")),
            opt(has("inWork"), row("影视作品", val("inWork"), "角色",
                                   [atv, F.lit("人物")], [atv, val("@value")]))))
        .when(F.col("predicate") == "上映时间", F.concat(
            F.array(base("影视作品", "上映时间", "Date")),
            opt(has("inArea"), row("地点", val("inArea"), "上映地点-时间",
                                   [atv, F.lit("Date")], [atv, val("@value")]))))
        .when(F.col("predicate") == "票房", F.concat(
            F.array(base("影视作品", "票房", "Number")),
            opt(has("inArea"), row("Number", val("@value"), "票房区域",
                                   [atv, F.lit("地点")], [atv, val("inArea")]))))
        .when(F.col("predicate") == "获奖", F.concat(
            F.array(base("娱乐人物", "获奖", "奖项")),
            opt(has("inWork"), row("娱乐人物", F.col("subject"), "作品",
                                   [atv, F.lit("作品")], [atv, val("inWork")])),
            opt(has("inWork"), row("作品", val("inWork"), "作品获奖",
                                   [atv, F.lit("奖项")], [atv, val("@value")])),
            opt(has("onDate"), row("奖项", val("@value"), "奖项时间",
                                   [atv, F.lit("Date")], [atv, val("onDate")]))))
        .when(F.col("predicate") == "饰演", F.concat(
            F.array(base("娱乐人物", "饰演", "人物")),
            opt(has("inWork"), row("影视作品", val("inWork"), "角色",
                                   [atv, F.lit("人物")], [atv, val("@value")])),
            opt(has("inWork"), row("人物", F.col("subject"), "参与影视作品",
                                   [atv, F.lit("影视作品")], [atv, val("inWork")]))))
        .otherwise(F.array(F.struct(
            F.col("subject_type"), F.col("subject"), F.col("predicate"),
            F.col("object_type"), F.col("object"))))
    )
    return (
        triples.select("url", F.explode(expanded).alias("t"))
        .select("url", "t.subject_type", "t.subject", "t.predicate",
                "t.object_type", "t.object")
    )


def _run_doc_kernel(pdf: pd.DataFrame, per_doc, with_text: bool) -> pd.DataFrame:
    """Run ``per_doc(url, text, spos) → spos`` over every url group of one
    pandas batch, emitting one concatenated frame. Group prep (dict rows +
    canonical in-group sort) matches the old per-group applyInPandas form
    exactly."""
    records: list[dict] = []
    for url, g in pdf.groupby("url", sort=False, dropna=False):
        text = (g["text"].iloc[0] or "") if with_text else ""
        spos = [
            {"subject_type": r.subject_type, "subject": r.subject,
             "predicate": r.predicate, "object_type": dict(r.object_type),
             "object": dict(r.object)}
            for r in g.itertuples(index=False)
        ]
        spos.sort(key=lambda s: (s["subject"], s["predicate"],
                                 json.dumps(s["object"], sort_keys=True, ensure_ascii=False)))
        records.extend({**s, "url": url} for s in per_doc(url, text, spos))
    return records_frame(records, _TRIPLE_COLS)


def _grouped_stage(triples: DataFrame, cols: list[str], per_doc,
                   with_text: bool) -> DataFrame:
    """One url-hash shuffle + in-partition sort, then a ``mapInPandas`` that
    processes MANY url groups per Arrow batch. Replaces the round-7
    ``groupBy(url).applyInPandas`` form, which paid one Arrow round-trip per
    ~3-row group (guide §4.2 batch-size rule; measured 15-24 s → ~2 s per
    rewrite query at sf0.1). Grouping semantics are identical: hash
    partitioning puts every row of a url in one partition, the sort makes
    groups contiguous, and the batch loop carries a possibly-straddling
    boundary group into the next batch."""
    from collections.abc import Iterator

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if pdf.empty:
                continue
            # the batch's final url may continue in the next batch — hold it
            last = pdf["url"].iloc[-1]
            mask = pdf["url"] == last
            carry = pdf[mask]
            work = pdf[~mask]
            if not work.empty:
                yield _run_doc_kernel(work, per_doc, with_text)
        if carry is not None and len(carry):
            yield _run_doc_kernel(carry, per_doc, with_text)

    return (
        triples.select(*cols)
        .repartition("url")
        .sortWithinPartitions("url")
        .mapInPandas(fn, schema=TRIPLE_SCHEMA)
    )


def _grouped_rewrite(triples_with_text: DataFrame, do_combine: bool,
                     do_postprocess: bool) -> DataFrame:
    def per_doc(url, text, spos):
        if do_combine:
            spos = combine_spos(spos)
        if do_postprocess:
            spos = postprocess_1(text, spos)
        return spos

    return _grouped_stage(triples_with_text, _TRIPLE_COLS + ["text"],
                          per_doc, with_text=True)


def _grouped_kernel(triples: DataFrame, kernel) -> DataFrame:
    """Run a per-document list kernel (spos → spos, e.g. clean_spos or
    simplify_schema) as a grouped Arrow stage: one shuffle on url, canonical
    in-group order for partition-count invariance."""
    return _grouped_stage(triples, _TRIPLE_COLS,
                          lambda url, text, spos: kernel(spos),
                          with_text=False)


def clean_spos_df(triples: DataFrame) -> DataFrame:
    """F1-F3 clean filters as a DataFrame stage (reference data/lic_2020.py:679-704)."""
    from .rewrite import clean_spos

    return _grouped_kernel(triples, clean_spos)


def simplify_schema_df(triples: DataFrame) -> DataFrame:
    """R4: 丈夫 → inverse 妻子 + per-doc dedup (reference data/lic_2020.py:645-656)."""
    from .rewrite import simplify_schema

    return _grouped_kernel(triples, simplify_schema)


def combine_spos_df(triples: DataFrame, documents: DataFrame) -> DataFrame:
    """R2 + R3 over a standalone triples table (e.g. after ensemble union).

    ``documents`` provides per-url text for add_period; the join broadcasts
    or shuffles on url — the grouped kernel itself adds exactly one shuffle.
    """
    t = triples.join(documents.select("url", "text"), "url", "left")
    return _grouped_rewrite(t, do_combine=True, do_postprocess=True)


def postprocess_df(triples: DataFrame, documents: DataFrame) -> DataFrame:
    t = triples.join(documents.select("url", "text"), "url", "left")
    return _grouped_rewrite(t, do_combine=False, do_postprocess=True)
