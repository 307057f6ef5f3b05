"""Tokenize + align DataFrame stage (ST1-ST6 fused; SURVEY.md §2.8).

One Arrow stage produces, per document: tokens, exact char offsets
(start/end per token — computed at tokenize time, replacing the reference's
fragile re-derivation data/lic_2020.py:193-262), hand features
(split-char membership, data/lic_2020.py:611-640), a b2w token→word map
(char2word best-effort with previous-word fallback, data/lic_2020.py:577-596
— our word segmenter is a deterministic whitespace/punct segmenter standing
in for pkuseg), and w2v ids (vocab lookup with 0 = OOV, data/lic_2020.py:
599-607) resolved against a broadcast vocabulary.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions.tokenizer import SPLIT_CHARS, hand_features, tokenize_with_offsets
from ..schema import MAX_TOKENS
from .batches import row_frames

TOKENIZE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.StringType())),
    T.StructField("starts", T.ArrayType(T.IntegerType())),
    T.StructField("ends", T.ArrayType(T.IntegerType())),
    T.StructField("hand", T.ArrayType(T.IntegerType())),
    T.StructField("b2w", T.ArrayType(T.IntegerType())),
    T.StructField("w2v_ids", T.ArrayType(T.IntegerType())),
    # BERT vocab ids (wordpiece mode only; null in vocab-free mode)
    T.StructField("token_ids", T.ArrayType(T.IntegerType())),
])


class DictSegmenter:
    """Dictionary longest-match word segmenter — a pkuseg-compatible plug-in
    (reference data/lic_2020.py:577-596 runs pkuseg and keys w2v on its
    words): at each position take the LONGEST dictionary word starting
    there, else a single char; whitespace separates and carries no word.
    Returns the same (word, start, end_inclusive) shape as segment_words, so
    tokenize_df(segmenter=DictSegmenter(words)) swaps in transparently and
    multi-char CJK words flow into b2w/w2v (and the W3 clip fixtures)."""

    def __init__(self, words):
        self.words = set(words)
        self.max_len = max((len(w) for w in self.words), default=1)

    def __call__(self, text: str) -> list[tuple[str, int, int]]:
        out: list[tuple[str, int, int]] = []
        i, n = 0, len(text)
        while i < n:
            if text[i].isspace():
                i += 1
                continue
            for ln in range(min(self.max_len, n - i), 1, -1):
                if text[i:i + ln] in self.words:
                    out.append((text[i:i + ln], i, i + ln - 1))
                    i += ln
                    break
            else:
                out.append((text[i], i, i))
                i += 1
        return out


def segment_words(text: str) -> list[tuple[str, int, int]]:
    """Deterministic word segmenter: split on whitespace and separator chars;
    CJK runs stay whole words (default stand-in for pkuseg — same downstream
    shape; see DictSegmenter for the dictionary longest-match variant)."""
    words: list[tuple[str, int, int]] = []
    start = -1
    for i, ch in enumerate(text):
        if ch.isspace() or ch in SPLIT_CHARS:
            if start >= 0:
                words.append((text[start:i], start, i - 1))
                start = -1
            if not ch.isspace():
                words.append((ch, i, i))
        else:
            if start < 0:
                start = i
    if start >= 0:
        words.append((text[start:], start, len(text) - 1))
    return words


def char2word_map(text_len: int, words: list[tuple[str, int, int]]) -> list[int]:
    """char index → word index; chars between words attach to the previous
    word (the reference's best-effort fallback, data/lic_2020.py:592)."""
    out = [0] * text_len
    w = 0
    for i in range(text_len):
        while w + 1 < len(words) and words[w + 1][1] <= i:
            w += 1
        out[i] = w
    return out


def tokenize_document(
    url: str, text: str, vocab: dict[str, int], wp=None, segmenter=None,
) -> dict[str, list]:
    if wp is not None:
        tokens, starts, ends = wp.tokenize_with_offsets(text, MAX_TOKENS)
        token_ids = wp.convert_tokens_to_ids(tokens)
    else:
        tokens, starts, ends = tokenize_with_offsets(text, MAX_TOKENS)
        token_ids = None
    hand = hand_features(tokens, starts, text)
    words = (segmenter or segment_words)(text)
    c2w = char2word_map(len(text), words) if words else []
    b2w = [c2w[s] if c2w else 0 for s in starts]
    w2v = [vocab.get(words[wi][0], 0) if words else 0 for wi in b2w]
    return {"url": url, "tokens": tokens, "starts": starts, "ends": ends,
            "hand": hand, "b2w": b2w, "w2v_ids": w2v, "token_ids": token_ids}


def tokenize_df(
    docs: DataFrame, vocab: dict[str, int] | None = None,
    wordpiece_vocab: dict[str, int] | None = None,
    segmenter=None,
) -> DataFrame:
    """documents(url, text) → TOKENIZE_SCHEMA. ``vocab`` (w2v words) and
    ``wordpiece_vocab`` (BERT vocab.txt mapping) are each broadcast once per
    job (J8/S4: map-side lookup, never a shuffle join).

    With ``wordpiece_vocab`` the stage runs the real WordPiece tokenizer
    (subword splits, [UNK], ids — reference utils/base.py:19-111) and fills
    ``token_ids``; without it, the vocab-free tokenizer (same sentinel/offset
    invariants, no subword splits) and ``token_ids`` is null."""
    spark = docs.sparkSession
    bc = spark.sparkContext.broadcast(vocab or {})
    bc_wp = spark.sparkContext.broadcast(wordpiece_vocab) if wordpiece_vocab else None
    src = docs.select("url", "text").where(F.col("text").isNotNull())

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.wordpiece import WordPieceTokenizer

        v = bc.value
        wp = WordPieceTokenizer(bc_wp.value) if bc_wp is not None else None
        yield from row_frames(
            batches, TOKENIZE_SCHEMA.names,
            lambda url, text: [tokenize_document(url, text, v, wp, segmenter)])

    return src.mapInPandas(run, schema=TOKENIZE_SCHEMA)


def load_cjk_lexicon(path: str | None = None) -> list[str]:
    """The packaged ~2.2k-word general+domain CJK lexicon
    (resources/cjk_lexicon.txt) — a real dictionary behind ``DictSegmenter``
    standing in for the pkuseg model the reference loads
    (data/lic_2020.py:577-596). All entries are ≥2-char CJK words, so every
    multi-char match groups tokens into the word runs the W3 clip snaps to."""
    import os

    p = path or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "resources", "cjk_lexicon.txt")
    with open(p, encoding="utf-8") as f:
        words = (w.strip() for w in f)
        return [w for w in words if w and not w.startswith("#")]


MAX_VOCAB_ROWS = 5_000_000


def vocab_from_embeddings(embeddings: DataFrame, word_col: str = "label",
                          max_rows: int = MAX_VOCAB_ROWS) -> dict[str, int]:
    """Build a word→id vocabulary from a small embedding table (S4 analog).
    Collected driver-side then broadcast — valid because vocabularies are
    O(100k) rows even at full scale, like the reference's 300-d w2v pickle.
    A guard count fails fast with an actionable message instead of a driver
    OOM if a full data table is passed by mistake."""
    # one action: the collect is bounded at max_rows+1, so the guard and the
    # vocabulary come from the same (safe) scan
    rows = (embeddings.select(word_col).where(F.col(word_col).isNotNull())
            .dropDuplicates().limit(max_rows + 1).collect())
    if len(rows) > max_rows:
        raise ValueError(
            f"vocab_from_embeddings: more than {max_rows} distinct words — "
            "this collects the vocabulary to the driver; pass a real "
            "vocabulary table, not a data table.")
    # sort the string values, not Rows: a NULL label would make Row
    # comparison raise TypeError (None < str)
    return {w: i + 1 for i, w in enumerate(sorted(str(r[0]) for r in rows))}
