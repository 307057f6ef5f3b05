"""Decode-rule unit tests on hand-built point maps (SURVEY.md §5.1, W1-W4).

Adversarial fixtures from FIXTURES.md §4: only-start, only-end, >10-token span
with/without clippable word run, crossing spans, cross-channel dedup,
multi-occurrence entities."""

import numpy as np

from relation_extraction_spark.operators.decode import (
    assemble_spos,
    decode_channel,
    decode_objects,
    decode_subjects,
    word_limit_maps,
)

TOKENS = [f"t{i}" for i in range(30)]
NO_WORDS = (np.full(30, -999, dtype=np.int64), np.full(30, 999, dtype=np.int64))


def ch(starts, ends):
    return np.array(sorted(starts), dtype=np.int64), np.array(sorted(ends), dtype=np.int64)


def test_simple_span():
    keys, groups = decode_channel(TOKENS, *ch([3], [5]), *NO_WORDS)
    assert groups == [[(3, 5)]]
    assert keys == [("t3", "t4", "t5")]


def test_only_start_dropped():
    keys, groups = decode_channel(TOKENS, *ch([3], []), *NO_WORDS)
    assert groups == []


def test_only_end_dropped():
    keys, groups = decode_channel(TOKENS, *ch([], [5]), *NO_WORDS)
    assert groups == []


def test_multiple_disjoint_spans():
    keys, groups = decode_channel(TOKENS, *ch([2, 10], [4, 12]), *NO_WORDS)
    assert groups == [[(2, 4)], [(10, 12)]]


def test_multi_occurrence_same_surface():
    # same entity text at two positions groups into one key with two spans
    toks = ["a", "b", "x", "a", "b"]
    keys, groups = decode_channel(toks, *ch([0, 3], [1, 4]),
                                  np.full(5, -999, dtype=np.int64),
                                  np.full(5, 999, dtype=np.int64))
    assert keys == [("a", "b")]
    assert groups == [[(0, 1), (3, 4)]]


def test_long_span_clipped_to_word_run():
    # span (0, 15) is >10 tokens; word run covers 0..4 → clip end to 4
    # (pe_map[0]=15 > pe_limit[0]=4 and 4-0 > 2 → end=4; model/hbt.py:210-214)
    mask = np.zeros(30, dtype=bool)
    mask[0:5] = True
    ps_l, pe_l = word_limit_maps(mask)
    keys, groups = decode_channel(TOKENS, *ch([0], [15]), ps_l, pe_l)
    assert (0, 4) in groups[0]


def test_long_span_not_clipped_when_run_too_short():
    # word run 0..1 → clipped span would keep only 2 tokens (not > 2) → no clip
    mask = np.zeros(30, dtype=bool)
    mask[0:2] = True
    ps_l, pe_l = word_limit_maps(mask)
    keys, groups = decode_channel(TOKENS, *ch([0], [15]), ps_l, pe_l)
    assert groups[0] == [(0, 15)]


def test_long_span_no_word_run_kept():
    keys, groups = decode_channel(TOKENS, *ch([0], [15]), *NO_WORDS)
    assert groups[0] == [(0, 15)]


def test_backward_pass_clip():
    # end=20 pairs backward with start=0 (>10); word run 17..20 → start clipped
    # to 17 when end - ps_limit[end] > 2... 20-17=3 > 2 → start=17
    mask = np.zeros(30, dtype=bool)
    mask[17:21] = True
    ps_l, pe_l = word_limit_maps(mask)
    keys, groups = decode_channel(TOKENS, *ch([0], [20]), ps_l, pe_l)
    spans = [s for g in groups for s in g]
    assert (17, 20) in spans


def test_crossing_span_suppressed():
    # spans (0,5) and (10,15); span (3,12) starts inside (0,5] and ends inside
    # [10,15) → suppressed (model/hbt.py:174-187)
    keys, groups = decode_channel(TOKENS, *ch([0, 3, 10], [5, 12, 15]), *NO_WORDS)
    spans = [s for g in groups for s in g]
    assert (3, 12) not in spans
    assert (0, 5) in spans and (10, 15) in spans


def test_word_limit_maps():
    mask = np.array([0, 1, 1, 0, 1], dtype=bool)
    ps, pe = word_limit_maps(mask)      # plain lists since round 8
    assert list(ps) == [-999, 1, 1, -999, 4]
    assert list(pe) == [999, 2, 2, 999, 4]
    ps2, pe2 = word_limit_maps([False, True, True, False, True])
    assert (ps2, pe2) == (ps, pe)


def test_subject_channel_dedup_keeps_first():
    # same surface in channels 0 and 1 with different spans → first channel's
    # occurrence list wins (model/hbt.py:301-304)
    toks = ["a", "b", "x", "a", "b"]
    nw = (np.full(5, -999, dtype=np.int64), np.full(5, 999, dtype=np.int64))
    channels = {0: ch([0], [1]), 1: ch([3], [4])}
    keys, groups = decode_subjects(toks, channels, np.zeros(5, dtype=bool))
    assert keys == [("a", "b")]
    assert groups == [[(0, 1)]]


def test_object_channels_not_deduped():
    toks = ["a", "b", "x", "a", "b"]
    channels = {3: ch([0], [1]), 7: ch([3], [4])}
    out = decode_objects(toks, channels, np.zeros(5, dtype=bool))
    assert set(out.keys()) == {3, 7}


def test_assemble_product():
    sbj_groups = [[(0, 1)], [(5, 6)]]
    objs = [
        {2: ([("x",)], [[(10, 10)]]), 4: ([("y",)], [[(11, 11)], [(12, 12)]])},
        {},
    ]
    spos = assemble_spos(sbj_groups, objs)
    assert len(spos) == 3
    assert spos[0] == ([(0, 1)], 2, [(10, 10)])
    assert spos[1] == ([(0, 1)], 4, [(11, 11)])


def test_crossing_deletion_is_sequential():
    """Sequential deletion semantics (model/hbt.py:250-258): P2=(3,9) is
    crossing (start in P1=(0,5], end in P3=[7,12)) and gets deleted FIRST;
    P3=(7,12) is then NOT crossing (its start was only inside the now-deleted
    P2) and survives — batch-style deletion would kill P3 too (start in P2,
    end in P4=[10,15))."""
    from relation_extraction_spark.operators.decode import suppress_crossing

    groups = [[(0, 5)], [(3, 9)], [(7, 12)], [(10, 15)]]
    suppress_crossing(groups)
    spans = [s for g in groups for s in g]
    assert (3, 9) not in spans      # deleted (crossing)
    assert (7, 12) in spans         # survives ONLY under sequential deletion
    assert (0, 5) in spans and (10, 15) in spans


def test_single_point_inverted_dropped():
    """1-start x 1-end with end before start: the forward pass finds no end
    at/after s and the backward no start at/before e — empty either through
    the fast path (plain lists) or the general machinery (numpy)."""
    assert decode_channel(TOKENS, [5], [3], *NO_WORDS) == ([], [])
    assert decode_channel(TOKENS, *ch([5], [3]), *NO_WORDS) == ([], [])


def test_plain_list_inputs_match_numpy():
    """The hot path passes plain sorted lists (no defensive copy taken) —
    results must equal the numpy-array form for 1-point and multi-point
    channels, and the input lists must come back unmutated."""
    s_in, e_in = [2, 10], [4, 12]
    got_list = decode_channel(TOKENS, s_in, e_in, *NO_WORDS)
    got_np = decode_channel(TOKENS, *ch([2, 10], [4, 12]), *NO_WORDS)
    assert got_list == got_np
    assert s_in == [2, 10] and e_in == [4, 12]
    assert decode_channel(TOKENS, [3], [5], *NO_WORDS) \
        == decode_channel(TOKENS, *ch([3], [5]), *NO_WORDS)
