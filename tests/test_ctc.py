"""CTC decode kernels vs explicit logit matrices, including the
reference beam's blank-handling quirks (pipline.py:31-84), and the
batched beam against the reference's literal transcription
(tools.oracle.beam_search_decoder)."""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_spark.config import ALPHABET, BLANK_ID, CHAR_TO_ID, N_CLASSES
from ocr_spark.functions.ctc import (
    beam_decode,
    beam_decode_batch,
    beam_decode_texts,
    greedy_decode,
    greedy_decode_batch,
)
from tools.oracle import beam_search_decoder


def probs_for(ids, t_extra=0):
    """One confident frame per id (+ optional trailing blanks)."""
    t = len(ids) + t_extra
    p = np.full((t, len(ALPHABET)), 0.001)
    for i, cid in enumerate(ids):
        p[i, cid] = 0.9
    for i in range(len(ids), t):
        p[i, BLANK_ID] = 0.9
    return p / p.sum(axis=1, keepdims=True)


def ids_of(s):
    return [CHAR_TO_ID[c] for c in s]


def test_greedy_collapse_and_blank():
    # "1" "1" blank "1" -> "11" (repeat collapses, blank separates)
    seq = [CHAR_TO_ID["1"], CHAR_TO_ID["1"], BLANK_ID, CHAR_TO_ID["1"]]
    assert greedy_decode(probs_for(seq)) == "11"


def test_greedy_simple():
    assert greedy_decode(probs_for(ids_of("3+4=7"))) == "3+4=7"


def test_greedy_batch_matches_single():
    mats = [probs_for(ids_of(s), 2) for s in ["12+3=15", "9", ""]]
    lengths = np.array([m.shape[0] for m in mats])
    tmax = lengths.max()
    batch = np.zeros((len(mats), tmax, len(ALPHABET)))
    for i, m in enumerate(mats):
        batch[i, : m.shape[0]] = m
    outs = greedy_decode_batch(batch, lengths)
    assert outs == [greedy_decode(m) for m in mats]


def test_beam_top1_agrees_with_greedy_when_confident():
    p = probs_for(ids_of("7×8=56"), 1)
    texts = beam_decode_texts([p])[0]
    assert texts[0].rstrip(" ") == "7×8=56"
    # candidates are unique sequences
    assert len(set(texts)) == len(texts)


def test_beam_recovers_second_best():
    # one ambiguous frame: '5' (0.44) vs '6' (0.36) -> greedy says 5,
    # beam's candidate set must contain the 6-variant
    p = probs_for(ids_of("16"), 0)
    amb = np.full(len(ALPHABET), 0.001)
    amb[CHAR_TO_ID["5"]] = 0.44
    amb[CHAR_TO_ID["6"]] = 0.36
    p[1] = amb / amb.sum()
    assert greedy_decode(p) == "15"
    texts = beam_decode_texts([p])[0]
    assert "15" in [t.rstrip(" ") for t in texts]
    assert "16" in [t.rstrip(" ") for t in texts]


def test_beam_scores_sorted():
    p = probs_for(ids_of("2+2=4"), 2)
    beams = beam_decode(p)
    scores = [s for _, s in beams]
    assert scores == sorted(scores)


# A small value set makes exact score ties common. The oracle takes
# math.log, the decoder np.log; on these values the two agree bit for
# bit, so any difference below is the decoder's.
TIE_VALUES = np.array([0.9, 0.5, 0.25, 0.2, 0.125, 0.1, 0.05])
assert [float(x) for x in np.log(TIE_VALUES)] == [math.log(v) for v in TIE_VALUES]


def tie_matrix(rng, t):
    """t frames over TIE_VALUES: uniform draws, or (half the time)
    CTC-like frames, a floor plus a few hot classes and often a hot
    blank, where many candidate prefixes coincide."""
    if rng.random() < 0.5:
        return rng.choice(TIE_VALUES, size=(t, N_CLASSES))
    m = np.full((t, N_CLASSES), TIE_VALUES[-1])
    for frame in m:
        hot = rng.choice(N_CLASSES, size=int(rng.integers(1, 4)), replace=False)
        frame[hot] = rng.choice(TIE_VALUES[:4], size=len(hot))
        if rng.random() < 0.6:
            frame[BLANK_ID] = rng.choice(TIE_VALUES[:3])
    return m


@settings(max_examples=60, deadline=None)
@given(
    st.integers(0, 2**32 - 1),
    st.lists(st.integers(0, 12), min_size=1, max_size=32),
    st.sampled_from([1, 3, 10]),
)
def test_beam_batch_matches_oracle(seed, lengths, k):
    rng = np.random.default_rng(seed)
    mats = [tie_matrix(rng, t) for t in [1] + lengths[1:]]
    got = beam_decode_batch(mats, k)
    for mat, beams in zip(mats, got):
        want = beam_search_decoder(mat, k)
        assert [s for s, _ in beams] == [tuple(s) for s, _ in want]
        assert np.allclose([c for _, c in beams], [c for _, c in want], rtol=0, atol=1e-12)
    # a row's beams do not depend on its batch or its place in it
    perm = rng.permutation(len(mats))
    shuffled = beam_decode_batch([mats[i] for i in perm], k)
    assert [got[i] for i in perm] == shuffled
    i = int(rng.integers(len(mats)))
    assert beam_decode_batch([mats[i]], k)[0] == got[i]


def test_beam_batch_crowded_windows_match_oracle():
    """CTC-like matrices (found by seed) with a step whose best
    candidates repeat a few prefixes many times, so the decoder has to
    look past its first 16 candidates for the 10 distinct ones."""
    mats = [tie_matrix(np.random.default_rng(s), 12) for s in (55, 71, 94, 106, 121, 145)]
    for mat, beams in zip(mats, beam_decode_batch(mats)):
        want = beam_search_decoder(mat, 10)
        assert [s for s, _ in beams] == [tuple(s) for s, _ in want]
        assert np.allclose([c for _, c in beams], [c for _, c in want], rtol=0, atol=1e-12)
