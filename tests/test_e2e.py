"""End-to-end golden test: documents → extract → tokenize → score → decode →
formalize → combine → postprocess, P/R ≥ 0.95 vs planted gold triples
(SURVEY.md §5.3; the sandbox stand-in for the DuIE dev harness,
reference main.py:101-110,226-271)."""

import pyspark.sql.functions as F
import pytest

from relation_extraction_spark.operators.extract_triples import (
    decode_document,
    extract_text_bytes,
    extract_text_df,
    extract_triples,
)
from relation_extraction_spark.operators.scorer import SurrogateScorer
from relation_extraction_spark.synthetic import documents_df, gen_row, gold_triples_df

N_DOCS = 300


def _key(t):
    return (
        t["subject_type"], t["subject"], t["predicate"],
        tuple(sorted(t["object_type"].items())), tuple(sorted(t["object"].items())),
    )


def test_kernel_e2e_parity():
    """Driver-side check of the fused kernel against hand-specified gold."""
    scorer = SurrogateScorer()
    correct = pred_n = true_n = 0
    for i in range(N_DOCS):
        r = gen_row(i)
        if r["lang"] != "zh":
            continue
        pred = decode_document(r["text"], scorer)
        gold_keys = {_key(g) for g in r["gold"]}
        pred_keys = {_key(p) for p in pred}
        correct += len(gold_keys & pred_keys)
        pred_n += len(pred_keys)
        true_n += len(gold_keys)
    precision = correct / max(pred_n, 1)
    recall = correct / max(true_n, 1)
    assert precision >= 0.95, (precision, recall)
    assert recall >= 0.95, (precision, recall)


def test_extract_text_byte_identity():
    for i in range(50):
        r = gen_row(i)
        assert extract_text_bytes(r["html"]) == r["text"]


# --- adversarial real-Common-Crawl-shaped HTML (round-4 VERDICT task 1) ------

def _x(html: str | bytes) -> str:
    return extract_text_bytes(html if isinstance(html, bytes) else html.encode())


def test_extract_text_block_breaks():
    assert _x("<p>one</p><p>two</p>") == "one\ntwo"
    assert _x("line a<br>line b<br/>line c") == "line a\nline b\nline c"
    assert _x("<ul><li>alpha</li><li>beta</li></ul>") == "alpha\nbeta"
    assert _x("<table><tr><td>c1</td><td>c2</td></tr>"
              "<tr><td>c3</td></tr></table>") == "c1\nc2\nc3"
    assert _x("<h1>Title</h1><div>body text</div>") == "Title\nbody text"
    # inline tags do NOT break lines
    assert _x("<p>a <b>bold</b> and <a href='/x'>link</a> text</p>") \
        == "a bold and link text"


def test_extract_text_malformed_nesting():
    # overlapping close order — tree-free passes can't be confused by it
    assert _x("<p>a<div>b</p>c</div>") == "a\nb\nc"
    # unclosed blocks, stray closes, bare '<' as text
    assert _x("<div><p>x<li>y") == "x\ny"
    assert _x("</p>orphan close</div>") == "orphan close"
    assert _x("<p>3 < 5 and 7 > 2</p>") == "3 < 5 and 7 > 2"
    # tag left unterminated at EOF is dropped, not leaked as text
    assert _x("<p>kept</p><div class='x") == "kept"


def test_extract_text_raw_elements_and_comments():
    assert _x("<script>var x = '<p>fake</p>';</script><p>real</p>") == "real"
    assert _x("<style>p { color: red }</style><p>styled</p>") == "styled"
    # unclosed script eats to EOF (browser tokenizer behavior)
    assert _x("<p>seen</p><script>while(1){ never closed") == "seen"
    assert _x("<!-- <p>comment</p> --><p>after</p>") == "after"
    # precedence: '<!--' INSIDE a script body belongs to the script (HTML5
    # raw-text state starts first) — a comment-first pass would eat across
    # </script> to the later '-->' and swallow the visible paragraph
    assert _x("<script>x<!--</script><p>seen</p><!-- hidden -->") == "seen"
    # and the mirror case: a '<script>' inside a comment stays a comment
    assert _x("<!-- <script> --><p>alive</p>") == "alive"
    assert _x("<![CDATA[ <td>not a cell</td> ]]><p>ok</p>") == "ok"
    # closed <head> (title/meta) removed; unclosed <head> must not eat body
    assert _x("<head><title>T</title></head><body><p>B</p></body>") == "B"
    assert _x("<head><meta x=1><p>still here</p>") == "still here"


def test_extract_text_entities():
    assert _x("<p>Tom &amp; Jerry</p>") == "Tom & Jerry"
    # escaped markup is TEXT, never re-parsed as tags (unescape after strip)
    assert _x("<p>&lt;td&gt;literal&lt;/td&gt;</p>") == "<td>literal</td>"
    assert _x("<p>&#20013;&#x6587;</p>") == "中文"
    # &nbsp; survives whitespace collapsing (it is not HTML whitespace)
    assert _x("<p>a&nbsp;&nbsp;b</p>") == "a\xa0\xa0b"


def test_extract_text_charset_sniffing():
    gbk = "<html><head><meta charset=gbk></head><body><p>中文内容</p></body></html>"
    assert _x(gbk.encode("gbk")) == "中文内容"
    legacy = ('<meta http-equiv="Content-Type" '
              'content="text/html; charset=gb2312"><p>汉字</p>')
    assert _x(legacy.encode("gb2312")) == "汉字"
    # BOMs win over meta; utf-16 BOM is consumed, not leaked into the text
    assert _x("<p>bom utf8</p>".encode("utf-8-sig")) == "bom utf8"
    assert _x("<p>utf16 text</p>".encode("utf-16")) == "utf16 text"
    # unknown charset falls back to utf-8
    assert _x('<meta charset="no-such-enc"><p>fallback</p>'.encode()) == "fallback"


def test_extract_text_pre_preserves_whitespace():
    """round-5 verdict ask #6: closed <pre>/<textarea> keep their internal
    newlines + indentation verbatim (CSS white-space:pre), while the rest of
    the document still gets source-formatting collapse."""
    # indentation and blank lines inside pre survive; the block around it
    # still breaks; the HTML5 leading-newline-after-start-tag is dropped
    assert _x("<p>before</p><pre>\ndef f():\n    return 1</pre><p>after</p>") \
        == "before\ndef f():\n    return 1\nafter"
    # CRLF normalized to LF (HTML5 tokenizer newline normalization)
    assert _x("<pre>a\r\n  b\rc</pre>") == "a\n  b\nc"
    # markup inside pre: tags strip WITHOUT inserting breaks, entities decode
    assert _x("<pre><code>x  &amp;  y</code>\n  z</pre>") == "x  &  y\n  z"
    # textarea is RCDATA: tags inside are literal text, entities decode
    assert _x("<textarea>a <b>raw</b>\n  &lt;kept&gt;</textarea>") \
        == "a <b>raw</b>\n  <kept>"
    # UNCLOSED pre falls back to normal handling (ordinary element, no
    # raw-text EOF rule): newline runs collapse, pure-space runs survive
    assert _x("<p>a</p><pre>b   c\nd") == "a\nb   c d"
    # a <pre> inside a script body is not real; a script inside pre is
    # stripped before stashing (comments too — browsers parse them in pre)
    assert _x("<script>var p='<pre>no</pre>';</script><pre>x\ny</pre>") \
        == "x\ny"
    assert _x("<pre>k<!-- gone -->\n v</pre>") == "k\n v"
    # document edges: pre-owned whitespace at the END is preserved (only
    # block-break newlines are trimmed), slots restore after the trim
    assert _x("<pre>tail  \n</pre>") == "tail  \n"


def test_extract_text_whitespace_rendering():
    # source-formatting newlines/indentation render as single spaces
    assert _x("<p>\n  spread\n  over\n  lines\n</p>") == "spread over lines"
    # blank lines between blocks collapse to ONE break, ends are trimmed
    assert _x("\n\n<div>a</div>\n\n\n<div>b</div>\n\n") == "a\nb"


def test_extract_text_deterministic_pure():
    blobs = [gen_row(i)["html"] for i in range(10)] + [
        b"<p>x</p><div class='y", b"\xff\xfe<p>mixed</p>".decode("latin-1").encode()]
    for blob in blobs:
        assert extract_text_bytes(blob) == extract_text_bytes(bytes(blob))


@pytest.fixture(scope="module")
def corpus(spark):
    docs = documents_df(spark, N_DOCS)
    gold = gold_triples_df(spark, N_DOCS)
    return docs, gold


def test_spark_e2e_parity(spark, corpus):
    docs, gold = corpus
    # force the extraction path: blank the text column, recover it from html
    blanked = docs.withColumn("text", F.lit(None).cast("string"))
    restored = extract_text_df(blanked)
    triples = extract_triples(restored).cache()

    # J2-style exact-match scoring join (reference main.py:101-110)
    def norm(df):
        return df.select(
            "url", "subject", "predicate",
            F.concat_ws("|", F.sort_array(F.map_keys("object"))).alias("ok"),
            F.concat_ws("|", F.sort_array(F.transform(
                F.map_entries("object"), lambda e: F.concat_ws("=", e.key, e.value)))).alias("ov"),
        )

    p, g = norm(triples), norm(gold)
    correct = p.join(g, on=list(p.columns), how="inner").count()
    pred_n = p.count()
    true_n = g.count()
    precision, recall = correct / max(pred_n, 1), correct / max(true_n, 1)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall, pred_n, true_n)


def test_partition_invariance(spark, corpus):
    """Decode determinism under repartition (SURVEY.md §4 item 4) — the
    correctness precondition for the two-cluster-size scaling check."""
    docs, _ = corpus
    out2 = extract_triples(docs.repartition(2)).orderBy(
        "url", "subject", "predicate").select("url", "subject", "predicate").collect()
    out16 = extract_triples(docs.repartition(16)).orderBy(
        "url", "subject", "predicate").select("url", "subject", "predicate").collect()
    assert out2 == out16


def test_truncation_beyond_max_tokens():
    """Entities planted past the 203-token truncation point are skipped
    gracefully (no crash, no partial spans); entities before it survive."""
    from relation_extraction_spark.operators.extract_triples import decode_document
    from relation_extraction_spark.operators.scorer import SurrogateScorer

    filler = "这是一些没有关系的填充文字。" * 40  # pushes past MAX_TOKENS
    early = "金曲7是李明9演唱的歌曲。"
    late_doc = filler + early
    early_doc = early + filler
    sc = SurrogateScorer()
    assert any(s["predicate"] == "歌手" for s in decode_document(early_doc, sc))
    assert decode_document(late_doc, sc) == []  # truncated away, no error


def test_populated_text_skips_extraction(spark):
    """input_hint: extraction must be skipped when text is already populated
    (the html column is not even touched — column pruning)."""
    from relation_extraction_spark.operators.extract_triples import extract_text_df

    docs = spark.createDataFrame(
        [("u1", None, b"<p>FROM-HTML</p>", "already here", "zh")],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    out = extract_text_df(docs).select("text").collect()
    assert out[0]["text"] == "already here"


def test_rule_gates_result_identical():
    """The per-rule literal gates only skip regex scans that cannot match —
    a gated SurrogateScorer must score every document identically to an
    ungated RuleScorer over the same rules (gates=None disables)."""
    from relation_extraction_spark.operators.scorer import (
        _RULES, SBJ2ID, RuleScorer)
    from relation_extraction_spark.schema import PRED2ID

    gated = SurrogateScorer()
    ungated = RuleScorer(_RULES, SBJ2ID, PRED2ID)
    for i in range(400):
        t = gen_row(i)["text"]
        assert gated.score(t) == ungated.score(t)


def test_rule_gates_length_mismatch_raises():
    """Gates pair with rules positionally; a missing gate must raise (also
    under ``python -O``), not silently drop the trailing rules."""
    from relation_extraction_spark.operators.scorer import (
        _RULES, SBJ2ID, RuleScorer)
    from relation_extraction_spark.schema import PRED2ID

    with pytest.raises(ValueError):
        RuleScorer(_RULES, SBJ2ID, PRED2ID, gates=[None] * (len(_RULES) - 1))
