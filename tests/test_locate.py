"""J1 entity-occurrence locate tests."""

from relation_extraction_spark.operators.locate import (
    all_occurrences,
    locate_doc_entities,
    occurrence_counts_sql_style,
)


def test_all_occurrences_non_overlapping():
    assert all_occurrences("aaaa", "aa") == [(0, 1), (2, 3)]
    assert all_occurrences("xyx", "q") == []
    assert all_occurrences("金曲3是金曲3", "金曲3") == [(0, 2), (4, 6)]


def test_locate_doc_entities_per_doc_lists(spark):
    """Each doc scans only its OWN entities (reference main.py:380-405):
    u1's text contains 'table' but u1's list doesn't ask for it, so no row."""
    docs = spark.createDataFrame(
        [("u1", "spark table spark"), ("u2", "spark table"), ("u3", "empty")],
        "url string, text string")
    ents = spark.createDataFrame(
        [("u1", "spark"), ("u2", "table"), ("u2", "ghost"), ("u2", "table")],
        "url string, entity string")
    out = {(r["url"], r["entity"]): r for r in
           locate_doc_entities(docs, ents).collect()}
    assert set(out) == {("u1", "spark"), ("u2", "table"), ("u2", "ghost")}
    assert out[("u1", "spark")]["n_occ"] == 2
    assert [(s["s"], s["e"]) for s in out[("u1", "spark")]["spans"]] == [(0, 4), (12, 16)]
    assert out[("u2", "table")]["n_occ"] == 1
    assert out[("u2", "ghost")]["n_occ"] == 0


def test_counts_agree_with_span_variant(spark):
    """The SQL count (the j1_locate_counts query) equals the number of
    find-loop spans for every (doc, entity) pair, overlap cases included."""
    rows = [(1, "a table on a table by the table"), (2, "tableau"),
            (3, "aaaa"), (4, "")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    ents = spark.createDataFrame([("table",), ("aa",), ("tab",)], "entity string")
    counts = {(r["doc_id"], r["entity"]): r["n_occ"] for r in
              occurrence_counts_sql_style(docs, ents).collect()}
    want = {(d, e): len(all_occurrences(text, e))
            for d, text in rows for e in ("table", "aa", "tab")}
    assert counts == want
    assert counts[(1, "table")] == 3 and counts[(3, "aa")] == 2
