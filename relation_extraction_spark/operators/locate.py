"""J1: entity-occurrence locate — ALL substring occurrences of each entity in
each document (training-label projection; reference main.py:60-72 +
utils/kmp.py, char-level variant data/lic_2020.py:86-105).

DataFrame shape: each document's own entity list (reference main.py:380-405)
joined to its text, then a vectorized scan yields one row per (url, entity)
with the occurrence span list. Count-only projection is pure SQL
(length-difference trick), used by the driver oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from .batches import row_frames

LOCATE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("entity", T.StringType()),
    T.StructField("n_occ", T.IntegerType()),
    T.StructField("spans", T.ArrayType(T.StructType([
        T.StructField("s", T.IntegerType()), T.StructField("e", T.IntegerType()),
    ]))),
])


def all_occurrences(text: str, entity: str) -> list[tuple[int, int]]:
    out = []
    if not entity:
        return out
    i = 0
    while True:
        i = text.find(entity, i)
        if i < 0:
            return out
        out.append((i, i + len(entity) - 1))
        i += len(entity)  # non-overlapping, like the reference's KMP restart


def locate_doc_entities(docs: DataFrame, doc_entities: DataFrame,
                        id_col: str = "url", text_col: str = "text") -> DataFrame:
    """Per-document locate — each document scans only its OWN entities,
    matching the reference exactly: main.py:380-405 calls
    locate_entity(text, e) for the entities of that document's spo list, not
    a global vocabulary.

    ``doc_entities``: (id_col, entity) rows. The entity lists are aggregated
    per document (bounded by the doc's own triple count), joined to the text,
    and one Arrow pass scans each text against its list — cost scales with
    the DATA, not with a vocabulary, and nothing touches the driver. This is
    the 100-TB path."""
    ents = (
        doc_entities.select(F.col(id_col).cast("string").alias("url"),
                            "entity")
        .dropDuplicates()
        .groupBy("url")
        .agg(F.sort_array(F.collect_set("entity")).alias("_ents"))
    )
    src = docs.select(
        F.col(id_col).cast("string").alias("url"), F.col(text_col).alias("text")
    ).join(ents, "url", "inner")

    def per_doc(url, text, doc_ents):
        for ent in doc_ents:
            spans = all_occurrences(text or "", ent)
            yield {"url": url, "entity": ent, "n_occ": len(spans), "spans": spans}

    return src.mapInPandas(
        lambda batches: row_frames(batches, LOCATE_SCHEMA.names, per_doc),
        schema=LOCATE_SCHEMA)


def occurrence_counts_sql_style(docs: DataFrame, entities: DataFrame,
                                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Count-only variant in pure Catalyst (oracle-able): occurrences =
    floor((len(text) - len(replace(text, entity))) / len(entity)) — the
    quotient is always an exact integer, but the floor is explicit per the
    repo's oracle float rule (Spark int-cast truncates, DuckDB rounds)."""
    j = docs.select(id_col, text_col).crossJoin(
        F.broadcast(entities.select("entity").dropDuplicates()))
    n = F.floor((F.length(text_col) - F.length(F.replace(F.col(text_col), F.col("entity"))))
                / F.length("entity")).cast("int")
    return j.select(id_col, "entity", n.alias("n_occ"))
