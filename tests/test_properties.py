"""Property-based tests (hypothesis): decode invariants, tokenizer byte
identity on arbitrary text, expand/combine round-trip on random complex
triples (SURVEY.md §5.2)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from relation_extraction_spark.functions.tokenizer import tokenize_with_offsets
from relation_extraction_spark.operators.decode import decode_channel, word_limit_maps
from relation_extraction_spark.operators.rewrite import combine_spos, expand_spo

TEXT = st.text(
    alphabet=st.sampled_from(list("abcZ 19一二汉字《》“”，。\xa0　  ")), max_size=120)


@given(TEXT)
@settings(max_examples=300, deadline=None)
def test_tokenizer_byte_identity(text):
    tokens, starts, ends = tokenize_with_offsets(text)
    assert len(tokens) == len(starts) == len(ends)
    for tok, s, e in zip(tokens, starts, ends):
        assert 0 <= s <= e < len(text)
        if not tok.startswith("[unused"):
            assert text[s : e + 1].lower() == tok
    # offsets strictly increase
    assert all(a < b for a, b in zip(starts, starts[1:]))


SEQ = 40
POINTS = st.lists(st.integers(0, SEQ - 1), max_size=6).map(lambda v: sorted(set(v)))
MASK = st.lists(st.booleans(), min_size=SEQ, max_size=SEQ).map(np.array)


@given(POINTS, POINTS, MASK)
@settings(max_examples=300, deadline=None)
def test_decode_channel_invariants(starts, ends, mask):
    tokens = [f"t{i}" for i in range(SEQ)]
    ps_l, pe_l = word_limit_maps(mask)
    keys, groups = decode_channel(
        tokens, np.array(starts, dtype=np.int64), np.array(ends, dtype=np.int64),
        ps_l, pe_l)
    seen = set()
    for key, spans in zip(keys, groups):
        assert spans, "empty groups must be filtered"
        for s, e in spans:
            assert 0 <= s <= e < SEQ
            assert tuple(tokens[s : e + 1]) == key
            assert (key, s, e) not in seen
            seen.add((key, s, e))
    # determinism
    keys2, groups2 = decode_channel(
        tokens, np.array(starts, dtype=np.int64), np.array(ends, dtype=np.int64),
        ps_l, pe_l)
    assert keys == keys2 and groups == groups2


NAME = st.text(alphabet="甲乙丙丁戊XYZ", min_size=1, max_size=4)


@st.composite
def complex_spo(draw):
    pred = draw(st.sampled_from(["配音", "上映时间", "票房", "获奖", "饰演", "国籍", "作者"]))
    subject = draw(NAME)
    value = draw(NAME.filter(lambda v: v != subject))
    obj = {"@value": value}
    ot = {"@value": "奖项" if pred == "获奖" else "人物"}
    # NB: a 饰演 without inWork is DROPPED by combine (reference
    # data/lic_2020.py:540-556 — unmatched 饰演 vanishes), so the round-trip
    # property only holds for 饰演 with inWork; asserted in test_rewrite.
    if pred == "饰演" or (pred in ("配音", "获奖") and draw(st.booleans())):
        obj["inWork"] = draw(NAME.filter(lambda v: v not in (subject, value)))
        ot["inWork"] = "作品" if pred == "获奖" else "影视作品"
    if pred in ("上映时间", "票房") and draw(st.booleans()):
        obj["inArea"] = draw(NAME.filter(lambda v: v not in (subject, value)))
        ot["inArea"] = "地点"
    if pred == "获奖" and "inWork" in obj and draw(st.booleans()):
        obj["onDate"] = draw(NAME.filter(lambda v: v not in obj.values() and v != subject))
        ot["onDate"] = "Date"
    # canonical types as the reference emits them post-combine
    st_map = {"配音": "娱乐人物", "上映时间": "影视作品", "票房": "影视作品",
              "获奖": "娱乐人物", "饰演": "娱乐人物", "国籍": "人物", "作者": "图书作品"}
    ot["@value"] = {"配音": "人物", "上映时间": "Date", "票房": "Number",
                    "获奖": "奖项", "饰演": "人物", "国籍": "国家", "作者": "人物"}[pred]
    return {"subject_type": st_map[pred], "subject": subject, "predicate": pred,
            "object_type": ot, "object": obj}


@given(st.lists(complex_spo(), min_size=1, max_size=4))
@settings(max_examples=200, deadline=None)
def test_expand_combine_roundtrip_random(spos):
    # distinct entity values across triples keep recomposition unambiguous —
    # mirrors the reference's own train-set fidelity check
    values = []
    for s in spos:
        values.append(s["subject"])
        values.extend(s["object"].values())
    if len(values) != len(set(values)):
        return  # ambiguous fixtures are allowed to recombine differently
    expanded = []
    for s in spos:
        expanded.extend(expand_spo(s))
    combined = combine_spos(expanded)
    for s in spos:
        assert s in combined, (s, combined)


_WP_SMALL = {t: i for i, t in enumerate(
    ["[PAD]", "[UNK]", "[unused1]", "[unused2]", "[unused3]", "[unused4]",
     "[unused5]", "[unused6]", "a", "ab", "##c", "##z", "z", "19", "##9",
     "一", "二", "汉", "《", "》", "，", "。"])}


@given(TEXT)
@settings(max_examples=300, deadline=None)
def test_wordpiece_span_invariants(text):
    """WordPiece mode keeps the byte-identity contract: spans ascend and
    never overlap; every non-special token's slice (lowercased, ##-stripped)
    equals the token; [UNK] spans cover exactly one basic word."""
    from relation_extraction_spark.functions.wordpiece import WordPieceTokenizer

    wp = WordPieceTokenizer(_WP_SMALL)
    tokens, starts, ends = wp.tokenize_with_offsets(text)
    base_tokens, base_starts, base_ends = tokenize_with_offsets(text)
    assert len(tokens) == len(starts) == len(ends)
    for tok, s, e in zip(tokens, starts, ends):
        assert 0 <= s <= e < len(text)
        if tok == "[UNK]":
            # many-to-one: the span is exactly one basic word's span
            assert (s, e) in set(zip(base_starts, base_ends))
        elif not tok.startswith("[unused"):
            assert text[s:e + 1].lower() == tok.replace("##", "")
    # spans ascend and never overlap
    assert all(e < s2 or s < s2 for (s, e), (s2, _e2) in
               zip(zip(starts, ends), list(zip(starts, ends))[1:]))
    assert all(a <= b for a, b in zip(starts, starts[1:]))
    assert all(e1 < s2 for e1, s2 in zip(ends, starts[1:]))
    # wordpiece never loses coverage vs the basic pass: every basic word's
    # span range is fully tiled by wordpiece spans
    covered = set()
    for s, e in zip(starts, ends):
        covered.update(range(s, e + 1))
    for s, e in zip(base_starts, base_ends):
        assert set(range(s, e + 1)) <= covered


# --- round-5 surfaces: html extraction + Aho-Corasick ------------------------

HTML_SOUP = st.text(
    alphabet=st.sampled_from(list(
        "<>/&;#ap b=\"'!-\n\t汉字x01e")), max_size=200)


@given(HTML_SOUP)
@settings(max_examples=300, deadline=None)
def test_extract_text_total_and_deterministic(soup):
    """extract_text_bytes is a TOTAL pure function of the bytes: arbitrary
    tag soup (unbalanced brackets, truncated entities, stray quotes, mixed
    newlines) never raises, and equal bytes give equal text — the
    determinism contract of BASELINE.json's byte-identical-per-url rule."""
    from relation_extraction_spark.operators.extract_triples import extract_text_bytes

    b = soup.encode("utf-8")
    out1 = extract_text_bytes(b)
    out2 = extract_text_bytes(bytes(b))
    assert out1 == out2
    assert isinstance(out1, str)


@given(st.binary(max_size=200))
@settings(max_examples=300, deadline=None)
def test_extract_text_survives_arbitrary_bytes(blob):
    """Raw crawl bytes are hostile: invalid utf-8, truncated multibyte
    sequences, NULs, fake BOMs. The extractor must stay total."""
    from relation_extraction_spark.operators.extract_triples import extract_text_bytes

    out = extract_text_bytes(blob)
    assert isinstance(out, str)
    assert "\x00" not in out  # the internal break sentinel never leaks
    assert "\x01" not in out  # ...nor the pre-slot delimiter


CLEAN = st.text(
    alphabet=st.sampled_from(list("ab 1汉字，。x")), max_size=80).map(
        lambda t: t.strip())


@given(CLEAN)
@settings(max_examples=300, deadline=None)
def test_extract_text_p_wrap_byte_identity(text):
    """Generalization of the corpus property: clean text (no markup chars,
    no newlines, trimmed — but ANY internal space runs) wrapped in the
    corpus envelope comes back byte-identical."""
    from relation_extraction_spark.operators.extract_triples import extract_text_bytes

    html = f"<html><body><p>{text}</p></body></html>".encode()
    assert extract_text_bytes(html) == text


WARC_URL = st.from_regex(r"https://[a-z]{1,8}\.example/[a-z0-9]{0,6}",
                         fullmatch=True)
WARC_HTML = st.binary(max_size=120)


@given(st.lists(st.tuples(WARC_URL, WARC_HTML), min_size=1, max_size=6),
       st.booleans())
@settings(max_examples=150, deadline=None)
def test_warc_roundtrip_property(pairs, compress):
    """write_warc_bytes ∘ parse_warc_bytes is the identity on (url, ts,
    html) for arbitrary binary payloads — including payloads that CONTAIN
    WARC-looking byte sequences (length-delimited framing must never
    resynchronize inside a payload) — plain and per-record-gzipped."""
    import datetime as dt

    from relation_extraction_spark.sources.warc import (
        parse_warc_bytes,
        write_warc_bytes,
    )

    recs = [{"url": u, "html": h,
             "warc_ts": dt.datetime(2026, 5, 1, 0, 0, i % 60)}
            for i, (u, h) in enumerate(pairs)]
    blob = write_warc_bytes(recs, compress=compress)
    got = parse_warc_bytes(blob)
    assert [(r["url"], r["warc_ts"], r["html"]) for r in got] \
        == [(r["url"], r["warc_ts"], r["html"]) for r in recs]
