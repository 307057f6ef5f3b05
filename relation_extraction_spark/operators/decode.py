"""Span-decode kernel — exact re-implementation of the reference decode rules.

This is the numpy core that runs inside the fused ``mapInPandas`` extraction
stage (SURVEY.md §2.5 W1-W4, §2.10 N7-N9). Semantics re-derived from the
reference (NOT copied):

* nearest-start map / nearest-end map with -999/999 sentinels
  (reference model/hbt.py:194-206);
* span assembly from both directions: each start pairs with the nearest end
  at/after it, each end pairs with the nearest start at/before it
  (model/hbt.py:208-248);
* spans longer than 10 tokens are clipped to the word-run limit maps when the
  clipped span still keeps >2 tokens (model/hbt.py:210-214, 231-234,
  limit-map construction model/hbt.py:279-295);
* entity grouping by surface token-sequence, first-seen order, occurrence
  lists deduped (model/hbt.py:219-248);
* crossing-span suppression with *sequential* deletion — each deletion is
  visible to later crossing checks, and the start-containment / end-
  containment flags may be satisfied by two different spans
  (model/hbt.py:174-187, 250-258);
* cross-channel subject dedup: the 20 subject-type channels merge by entity
  text keeping the FIRST channel's occurrence list; the type is discarded and
  later re-derived from the predicate (model/hbt.py:297-308);
* object channels (54 predicates) are NOT deduped across channels
  (model/hbt.py:341-350);
* SPO assembly is the nested subject x predicate-channel x object product
  (model/hbt.py:352-369).

All functions are pure and operate on one document (seq_len <= 205), so they
are deterministic under any partitioning — a precondition for the N→4N
scaling-equivalence check.
"""

from __future__ import annotations

# most channels carry 1-4 points: bisect beats numpy call overhead there
# (module-scope import — decode_channel runs ~74x per document)
import bisect

import numpy as np

NEG = -999
POS = 999
CLIP_LEN = 10  # spans longer than this are candidates for word-run clipping
MIN_KEEP = 2   # clip only if the clipped span keeps more than this many tokens


def word_limit_maps(word_mask) -> tuple[list[int], list[int]]:
    """Per-position start/end of the contiguous True run (else -999/999).

    Pure-Python two-pass scan returning plain lists: documents are ≤205
    tokens, where list indexing beats the ~14 numpy array ops the old
    vectorized form paid per call (one call per document on the fused
    extraction hot path — round-8 measurement: ~30 µs → ~5 µs/doc).
    Accepts any bool sequence (numpy arrays included)."""
    mask = word_mask.tolist() if hasattr(word_mask, "tolist") else list(word_mask)
    n = len(mask)
    ps = [NEG] * n
    pe = [POS] * n
    run = -1
    for i in range(n):
        if mask[i]:
            if run < 0:
                run = i
            ps[i] = run
        else:
            run = -1
    run = -1
    for i in range(n - 1, -1, -1):
        if mask[i]:
            if run < 0:
                run = i
            pe[i] = run
        else:
            run = -1
    return ps, pe


def _is_crossing(point: tuple[int, int], groups: list[list[tuple[int, int]]]) -> bool:
    """True iff point's start lies strictly inside some span AND its end lies
    strictly inside some (possibly different) span. The two containment flags
    accumulate across spans exactly like the reference's if/elif scan."""
    start_in = False
    end_in = False
    for spans in groups:
        for qs, qe in spans:
            if not start_in and qs < point[0] <= qe:
                start_in = True
            elif not end_in and qs <= point[1] < qe:
                end_in = True
            if start_in and end_in:
                return True
    return False


def suppress_crossing(span_groups: list[list[tuple[int, int]]]) -> None:
    """Crossing suppression in place — SEQUENTIAL deletion: each removal is
    visible to later crossing checks (model/hbt.py:250-258), so a span whose
    only start-container gets deleted first survives where batch deletion
    would kill it."""
    for gi in range(len(span_groups)):
        for point in list(span_groups[gi]):
            if _is_crossing(point, span_groups):
                span_groups[gi].remove(point)


def decode_channel(
    tokens: list[str],
    start_idx,
    end_idx,
    ps_limit,
    pe_limit,
) -> tuple[list[tuple[str, ...]], list[list[tuple[int, int]]]]:
    """Decode one pointer channel into (entity_keys, occurrence_span_lists).

    ``start_idx``/``end_idx`` are the sorted token positions where the start /
    end pointer fires (sparse form of the boolean maps) — any sorted int
    sequence (plain lists on the hot path; numpy arrays accepted). Pairing
    uses bisect directly on the sparse points — equivalent to the reference's
    full-length ps_map/pe_map scan but O(points) instead of O(seq_len) per
    channel (hot path: 74 channels per document).
    """
    # hot path passes plain sorted lists and this function never mutates
    # them — skip the defensive copy there (round-8)
    if type(start_idx) is list:
        starts = start_idx
    else:
        starts = start_idx.tolist() if hasattr(start_idx, "tolist") else list(start_idx)
    if type(end_idx) is list:
        ends = end_idx
    else:
        ends = end_idx.tolist() if hasattr(end_idx, "tolist") else list(end_idx)
    if not starts and not ends:
        return [], []
    if len(starts) == 1 and len(ends) == 1:
        # 1-start x 1-end is ~89% of channels on the fused hot path; the
        # general machinery below reduces to these two outcomes exactly:
        # e < s → forward pass finds no end at/after s and backward no start
        # at/before e (both drop); otherwise both passes add the same
        # (s, e) pair — when the span is within CLIP_LEN neither clip can
        # fire — and a single span never crosses itself (strict
        # inequalities in _is_crossing)
        s = starts[0]
        e = ends[0]
        if e < s:
            return [], []
        if e - s <= CLIP_LEN:
            return [tuple(tokens[s : e + 1])], [[(s, e)]]

    keys: list[tuple[str, ...]] = []
    span_groups: list[list[tuple[int, int]]] = []
    key_index: dict[tuple[str, ...], int] = {}  # O(1) dedup; insertion order
    # of `keys` (= reference behavior) is preserved by the append

    def add(s: int, e: int) -> None:
        key = tuple(tokens[s : e + 1])
        gi = key_index.get(key)
        if gi is None:
            key_index[key] = len(keys)
            keys.append(key)
            span_groups.append([(s, e)])
        elif (s, e) not in span_groups[gi]:
            span_groups[gi].append((s, e))

    # forward pass: each start pairs with the nearest end at/after it
    for s in starts:
        k = bisect.bisect_left(ends, s)
        if k >= len(ends):
            continue  # only-start: dropped
        e = ends[k]
        if e - s > CLIP_LEN and e > pe_limit[s] and pe_limit[s] - s > MIN_KEEP:
            e = int(pe_limit[s])
        add(s, e)

    # backward pass: each end pairs with the nearest start at/before it
    for e in reversed(ends):
        k = bisect.bisect_right(starts, e) - 1
        if k < 0:
            continue  # only-end: dropped
        s = starts[k]
        if e - s > CLIP_LEN and s < ps_limit[e] and e - ps_limit[e] > MIN_KEEP:
            s = int(ps_limit[e])
        add(s, e)

    suppress_crossing(span_groups)
    kept_keys: list[tuple[str, ...]] = []
    kept_groups: list[list[tuple[int, int]]] = []
    for key, spans in zip(keys, span_groups):
        if spans:
            kept_keys.append(key)
            kept_groups.append(spans)
    return kept_keys, kept_groups


def decode_subjects(
    tokens: list[str],
    channels: dict[int, tuple[np.ndarray, np.ndarray]],
    word_mask: np.ndarray,
    limits: tuple[np.ndarray, np.ndarray] | None = None,
) -> tuple[list[tuple[str, ...]], list[list[tuple[int, int]]]]:
    """Decode all subject-type channels and merge by entity key (first wins)."""
    ps_limit, pe_limit = limits if limits is not None else word_limit_maps(word_mask)
    keys: list[tuple[str, ...]] = []
    groups: list[list[tuple[int, int]]] = []
    for ch in sorted(channels.keys()):
        s_idx, e_idx = channels[ch]
        ks, gs = decode_channel(tokens, s_idx, e_idx, ps_limit, pe_limit)
        for k, g in zip(ks, gs):
            if k not in keys:
                keys.append(k)
                groups.append(g)
    return keys, groups


def decode_objects(
    tokens: list[str],
    channels: dict[int, tuple[np.ndarray, np.ndarray]],
    word_mask: np.ndarray,
    limits: tuple[np.ndarray, np.ndarray] | None = None,
) -> dict[int, tuple[list[tuple[str, ...]], list[list[tuple[int, int]]]]]:
    """Decode per-predicate object channels for one (doc, subject) pair.
    ``limits``: precomputed word-run limit maps (the doc-level word mask is
    shared across all subjects, reference model/hbt.py:322 — pass it once)."""
    ps_limit, pe_limit = limits if limits is not None else word_limit_maps(word_mask)
    out: dict[int, tuple[list, list]] = {}
    for ch, (s_idx, e_idx) in channels.items():
        ks, gs = decode_channel(tokens, s_idx, e_idx, ps_limit, pe_limit)
        if ks:
            out[ch] = (ks, gs)
    return out


def assemble_spos(
    subject_groups: list[list[tuple[int, int]]],
    objects_per_subject: list[dict[int, tuple[list, list]]],
) -> list[tuple[list[tuple[int, int]], int, list[tuple[int, int]]]]:
    """Subject x predicate-channel x object product → raw token-span triples."""
    spos = []
    for sbj_spans, obj_channels in zip(subject_groups, objects_per_subject):
        for pred_id in sorted(obj_channels.keys()):
            _, obj_groups = obj_channels[pred_id]
            for obj_spans in obj_groups:
                spos.append((sbj_spans, pred_id, obj_spans))
    return spos
