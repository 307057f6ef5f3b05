"""Surrogate scorer — deterministic stand-in for the neural cascade.

The reference's trained weights no longer exist (reference README.md:14), so
parity binds to the deterministic dataflow around the model (SURVEY.md intro).
This scorer plays the role of N2-N6: given one document it emits subject
start/end pointer channels (20 subject types), a word mask, and per-subject
object pointer channels (54 predicates) — exactly the tensor interface of the
reference model (reference main.py:373-377,392) in sparse form. The decode
kernel, formalize, combine and postprocess stages downstream are the real
pipeline under test.

Spans are located with anchored regexes over the template grammar of
:mod:`relation_extraction_spark.synthetic`; subject points are planted at ALL
occurrences of the surface form, mirroring the reference's training-label
projection (reference main.py:60-72).
"""

from __future__ import annotations

import re

from ..functions.tokenizer import tokenize_with_offsets
from ..schema import MAX_TOKENS, PRED2ID, SUBJECT_TYPES

SBJ2ID = {t: i for i, t in enumerate(SUBJECT_TYPES)}

# rule = (compiled regex, [(group_sbj, sbj_type, predicate, group_obj), ...])
_RULES: list[tuple[re.Pattern, list[tuple[int, str, str, int]]]] = [
    (re.compile(r"《(神作\d+)》是(李明\d+)写的图书作品"),
     [(1, "图书作品", "作者", 2)]),
    (re.compile(r"(李明\d+)的妻子是(李明\d+)"),
     [(1, "人物", "妻子", 2)]),
    (re.compile(r"(李明\d+)的父亲是(李明\d+)"),
     [(1, "人物", "父亲", 2)]),
    (re.compile(r"(李明\d+)的母亲是(李明\d+)"),
     [(1, "人物", "母亲", 2)]),
    (re.compile(r"(李明\d+)在《(神作\d+)》中为(李明\d+)配音"),
     [(1, "娱乐人物", "配音", 3), (2, "影视作品", "角色", 3)]),
    (re.compile(r"《(神作\d+)》于(2019年\d+月\d+日)在(江城\d+)上映"),
     [(1, "影视作品", "上映时间", 2), (3, "地点", "上映地点-时间", 2)]),
    (re.compile(r"《(神作\d+)》在(江城\d+)的票房达到(\d+亿)"),
     [(1, "影视作品", "票房", 3), (3, "Number", "票房区域", 2)]),
    (re.compile(r"(李明\d+)凭借《(神作\d+)》荣获第[一二三四五六七八九十]+届(金奖\d+)"),
     [(1, "娱乐人物", "获奖", 3), (1, "娱乐人物", "作品", 2), (2, "作品", "作品获奖", 3)]),
    (re.compile(r"(李明\d+)在《(神作\d+)》中饰演(李明\d+)"),
     [(1, "娱乐人物", "饰演", 3), (2, "影视作品", "角色", 3), (1, "人物", "参与影视作品", 2)]),
    (re.compile(r"(李明\d+)的国籍是(中国)"),
     [(1, "人物", "国籍", 2)]),
    (re.compile(r"(机构\d+)成立日期为(2008年\d+月\d+日)"),
     [(1, "机构", "成立日期", 2)]),
    (re.compile(r"(金曲\d+)是(李明\d+)演唱的歌曲"),
     [(1, "歌曲", "歌手", 2)]),
    (re.compile(r"《(神作\d+)》由(李明\d+)和(李明\d+)主演"),
     [(1, "影视作品", "主演", 2), (1, "影视作品", "主演", 3)]),
]


def _all_occurrences(text: str, surface: str) -> list[tuple[int, int]]:
    out = []
    start = 0
    while True:
        i = text.find(surface, start)
        if i < 0:
            return out
        out.append((i, i + len(surface) - 1))
        start = i + len(surface)


class RuleScorer:
    """Regex-rule surrogate over an arbitrary schema id space.

    score(text) → (tokens, starts, ends, sbj_channels, word_mask, obj_map).
    sbj_channels: {subject_type_id: (sorted start token idx, sorted end idx)}
    obj_map: {subject_surface: {predicate_id: (sorted starts, sorted ends)}}

    ``rules``: [(compiled regex, [(group_sbj, sbj_type, predicate, group_obj)])]
    with sbj2id/pred2id mapping into the target DatasetSchema's id space —
    LIC2019-style flat corpora plug in their own 50-predicate maps
    (reference data/lic_2019.py:54-62); SurrogateScorer below is the LIC2020
    instance.
    """

    def __init__(self, rules, sbj2id: dict[str, int], pred2id: dict[str, int],
                 gates: list[str | None] | None = None):
        self.rules = rules
        self.sbj2id = sbj2id
        self.pred2id = pred2id
        # ``gates``: optional per-rule literal pre-filters. gates[i] MUST be a
        # substring of every possible match of rules[i] (then ``gate not in
        # text`` ⇒ finditer finds nothing, so skipping it is result-
        # identical); one C-level substring test replaces a full regex scan
        # for absent rules. None (per-entry or wholesale) disables the gate.
        if gates is None:
            gates = [None] * len(rules)
        # channel ids resolved ONCE — the emit loop runs per match on the
        # fused-stage hot path, where the two dict lookups per emit add up
        self._resolved = [
            (rx, [(gs, sbj2id[st], pred2id[p], go) for gs, st, p, go in emits], gate)
            for (rx, emits), gate in zip(rules, gates, strict=True)
        ]

    def score(self, text: str):
        tokens, starts, ends = tokenize_with_offsets(text, MAX_TOKENS)
        start_of = {s: t for t, s in enumerate(starts)}
        end_of = {e: t for t, e in enumerate(ends)}
        n = len(tokens)
        sg = start_of.get
        eg = end_of.get
        find = text.find

        sbj_points: dict[int, tuple[set[int], set[int]]] = {}
        obj_points: dict[str, dict[int, tuple[set[int], set[int]]]] = {}
        # plain list: per-doc masks are ≤205 elements, where list slice
        # assignment beats numpy allocation+fancy indexing (round-8 kernel
        # measurement; word_limit_maps accepts either)
        word_mask = [False] * n
        # per-doc caches (round-8): a subject surface repeated across emits/
        # matches re-found ALL its occurrences and re-planted them through a
        # closure per point; the span list (and the word-mask planting, which
        # is channel-independent) is computed once per surface, and each
        # (channel, surface) pair plants once — the sets deduped the repeats
        # anyway, so the final channels are identical
        occ_cache: dict[str, list[tuple[int, int]]] = {}
        planted_sbj: set[tuple[int, str]] = set()

        for rx, emits, gate in self._resolved:
            if gate is not None and gate not in text:
                continue
            for m in rx.finditer(text):
                for g_sbj, sbj_ch, pred_ch, g_obj in emits:
                    sbj_surface = m.group(g_sbj)
                    spans = occ_cache.get(sbj_surface)
                    if spans is None:
                        # all occurrences of the subject surface
                        # (main.py:60-72 semantics), token-valid ones only
                        spans = []
                        ln = len(sbj_surface)
                        p = 0
                        while True:
                            i = find(sbj_surface, p)
                            if i < 0:
                                break
                            ts = sg(i)
                            te = eg(i + ln - 1)
                            if ts is not None and te is not None:
                                spans.append((ts, te))
                                word_mask[ts:te + 1] = [True] * (te + 1 - ts)
                            p = i + ln
                        occ_cache[sbj_surface] = spans
                    key = (sbj_ch, sbj_surface)
                    if key not in planted_sbj:
                        planted_sbj.add(key)
                        if spans:  # channel entry only on >=1 valid span,
                            entry = sbj_points.get(sbj_ch)  # like the old
                            if entry is None:               # early return
                                entry = sbj_points[sbj_ch] = (set(), set())
                            ss, es = entry
                            for ts, te in spans:
                                ss.add(ts)
                                es.add(te)
                    # surface entry created BEFORE the validity check — the
                    # old setdefault-then-plant order (an all-invalid object
                    # still leaves surface -> {} in obj_points)
                    per_sbj = obj_points.get(sbj_surface)
                    if per_sbj is None:
                        per_sbj = obj_points[sbj_surface] = {}
                    ts = sg(m.start(g_obj))
                    te = eg(m.end(g_obj) - 1)
                    if ts is not None and te is not None:
                        entry = per_sbj.get(pred_ch)
                        if entry is None:
                            entry = per_sbj[pred_ch] = (set(), set())
                        ss, es = entry
                        ss.add(ts)
                        es.add(te)
                        word_mask[ts:te + 1] = [True] * (te + 1 - ts)

        # sorted plain lists — decode_channel bisects them directly;
        # np.array wrapping cost ~1 µs per channel for 1-4 points
        sbj_channels = {
            ch: (sorted(ss), sorted(es)) for ch, (ss, es) in sbj_points.items()
        }
        obj_map = {
            k: {ch: (sorted(ss), sorted(es)) for ch, (ss, es) in v.items()}
            for k, v in obj_points.items()
        }
        return tokens, starts, ends, sbj_channels, word_mask, obj_map


# required-literal gate per _RULES entry (same order): each string appears in
# EVERY match of its regex, so "gate not in text" proves zero matches
_GATES = [
    "写的图书作品", "的妻子是", "的父亲是", "的母亲是", "配音", "上映",
    "的票房达到", "荣获第", "中饰演", "的国籍是中国", "成立日期为",
    "演唱的歌曲", "主演",
]


class SurrogateScorer(RuleScorer):
    """The LIC2020 surrogate: template-grammar rules over the 54-predicate
    expanded schema (see module docstring)."""

    def __init__(self):
        super().__init__(_RULES, SBJ2ID, PRED2ID, gates=_GATES)


class DroppingScorer:
    """Ensemble-member stand-in: deterministically drops a fraction of object
    channels by (seed, subject-surface) hash — used to exercise the vote +
    KG-filter chain (R6/R7) with disagreeing models."""

    def __init__(self, seed: int, drop_mod: int = 5):
        import hashlib

        self._hash = lambda key: int(
            hashlib.md5(f"{seed}:{key}".encode()).hexdigest()[:8], 16)
        self.base = SurrogateScorer()
        self.drop_mod = drop_mod

    def score(self, text: str):
        tokens, starts, ends, sbj, wm, obj = self.base.score(text)
        obj2 = {k: v for k, v in obj.items() if self._hash(k) % self.drop_mod != 0}
        return tokens, starts, ends, sbj, wm, obj2
