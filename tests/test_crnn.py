"""The real recognition compute (functions/crnn.py): width-dependent
sequence length, determinism, decode fidelity, and that every weight
tensor genuinely participates in the forward pass. Pure numpy — no
Spark session needed."""

from __future__ import annotations

import numpy as np
import pytest

from ocr_spark.config import ALPHABET, BLANK_ID
from ocr_spark.functions import crnn
from ocr_spark.functions.ctc import greedy_decode


@pytest.fixture(scope="module")
def weights():
    return crnn.build_conv_weights()


def test_sequence_length_formula(weights):
    """T = floor((w-2)/2) - 2 clamped >= 1 (reference
    model.py:176-183), realized by the actual conv/pool stack — not
    asserted after the fact but produced by the layer arithmetic."""
    for label in ["", "1", "12+3", "1234567890"]:
        img = crnn.render_label(label, seed=5)
        feats = crnn.conv_features(img, weights)
        assert len(feats) == crnn.sequence_length(img.shape[1])
    assert crnn.sequence_length(4) == 1  # clamp


def test_forward_deterministic(weights):
    a = crnn.forward_probs(crnn.render_label("12+34=46", 99), weights)
    b = crnn.forward_probs(crnn.render_label("12+34=46", 99), weights)
    assert np.array_equal(a, b)
    c = crnn.forward_probs(crnn.render_label("12+34=46", 100), weights)
    assert a.shape == c.shape and not np.array_equal(a, c)


def test_probs_are_distributions(weights):
    p = crnn.forward_probs(crnn.render_label("7×8=56", 3), weights)
    assert p.shape[1] == len(ALPHABET)
    assert np.all(p >= 0)
    assert np.allclose(p.sum(axis=1), 1.0)


def test_decode_fidelity(weights):
    """Greedy decode of the real forward pass recovers the rendered
    label >= 95% of the time over random jittered strings (residual
    errors are deterministic glyph confusions — the realistic error
    surface the routing/backup stages consume)."""
    rng = np.random.default_rng(123)
    chars = [c for i, c in enumerate(ALPHABET) if i != BLANK_ID]
    n, ok = 120, 0
    for _ in range(n):
        label = "".join(rng.choice(chars) for _ in range(rng.integers(1, 9)))
        img = crnn.render_label(label, seed=int(rng.integers(0, 2**31)))
        if greedy_decode(crnn.forward_probs(img, weights)) == label:
            ok += 1
    assert ok / n >= 0.95, f"decode fidelity {ok}/{n}"


def test_repeated_chars_survive_collapse(weights):
    """Inter-glyph gap frames classify blank, so CTC collapse keeps
    repeated characters — the property the gap width was chosen for."""
    for label in ["11", "888", "4455"]:
        img = crnn.render_label(label, seed=17)
        assert greedy_decode(crnn.forward_probs(img, weights)) == label


def test_every_weight_tensor_matters(weights):
    """Zeroing any stage's parameters changes the output — the
    broadcast payload is all load-bearing, none decorative."""
    img = crnn.render_label("3+4=7", 1)
    base = crnn.forward_probs(img, weights)
    for key in ("conv1", "conv2", "wh", "cls_w"):
        w2 = dict(weights)
        w2[key] = np.zeros_like(weights[key])
        assert not np.array_equal(base, crnn.forward_probs(img, w2)), key


def test_shiftsum_head_equals_stacked(weights):
    """The shift-sum classifier head (one narrow matmul + 2r+1 shifted
    adds) is bit-identical AFTER round(10) quantization to the literal
    context-stacked product — the algebraic identity that removes the
    ~1 MB/crop context materialization without touching decode."""
    for i, lab in enumerate(["12+3=15", "", "9", "(4+5", "123÷4=30*3"]):
        img = crnn.render_label(lab, seed=i)
        feats = crnn.recurrent_mix(crnn.conv_features(img, weights)[None], weights["wh"])[0]
        assert np.array_equal(
            crnn.class_probs(feats, weights),
            crnn._class_probs_stacked(feats, weights),
        ), lab


def test_char_frame_range_covers_glyphs(weights):
    img = crnn.render_label("12", seed=0)
    t_total = crnn.sequence_length(img.shape[1])
    r0 = crnn.char_frame_range(0, t_total)
    r1 = crnn.char_frame_range(1, t_total)
    assert 0 <= r0[0] < r0[1] < r1[0] < r1[1] <= t_total - 1


def _assert_batch_equals_singles(imgs, weights, variant="base"):
    batched = crnn.forward_probs_batch(imgs, weights, variant)
    assert len(batched) == len(imgs)
    for i, img in enumerate(imgs):
        assert np.array_equal(batched[i], crnn.forward_probs(img, weights, variant)), i


@pytest.mark.parametrize("rec_batch", [1, 8])
def test_batched_forward_bit_identical(weights, monkeypatch, rec_batch):
    """The width-bucketed batched forward pass returns BIT-IDENTICAL
    matrices to batches of one for every crop — the property that lets
    the extraction kernels batch recognition across the whole Arrow
    batch without touching the frozen fixtures. Mixed widths exercise
    shape grouping; 11 crops of one width cross recurrence chunk
    boundaries: every crop its own chunk at 1, one full and one
    partial chunk at 8."""
    monkeypatch.setattr(crnn, "_REC_BATCH", rec_batch)
    labels = ["12+3=15", "7×8=56", "", "9", "(4+5", "123÷4=30*3"]
    imgs = [crnn.render_label(lab, seed=100 + i) for i, lab in enumerate(labels)]
    imgs += [crnn.render_label("5×5=25", seed=i) for i in range(11)]
    _assert_batch_equals_singles(imgs, weights)


def test_batched_forward_fraction_variant(w_fraction, monkeypatch):
    """The fraction variant's pair smoothing runs inside the batched
    pass: a mixed-width batch that crosses recurrence chunks equals its
    batches of one."""
    monkeypatch.setattr(crnn, "_REC_BATCH", 4)
    labels = ["67+25=92", "9", "(3+4)×2=14", "72÷8=9", "100÷7=14~2"]
    imgs = [crnn.render_label(lab, seed=300 + i) for i, lab in enumerate(labels)]
    imgs += [crnn.render_label("8×9=72", seed=i) for i in range(6)]
    _assert_batch_equals_singles(imgs, w_fraction, "fraction")


def test_batched_span_extraction_matches_single():
    """extract_media_spans_batch(refs) == one call per ref — the whole
    chain (render, corruption injection, routing, splice, beam backups)
    is invariant to cross-page batching."""
    from ocr_spark.operators.postprocess import extract_media_spans_batch
    from ocr_spark.sources.weights import default_weights

    w = default_weights()
    refs = [f"m-{i:012d}" for i in range(40)]
    batched = extract_media_spans_batch(refs, w)
    single = [extract_media_spans_batch([r], w)[0] for r in refs]
    assert batched == single


# -- conv-stack variants (reference model3.py / model_fraction2.py) ----------


@pytest.fixture(scope="module")
def w_conv9():
    return crnn.build_conv_weights("conv9")


@pytest.fixture(scope="module")
def w_fraction():
    return crnn.build_conv_weights("fraction")


def test_variant_sequence_length_formulas():
    """Width arithmetic of the two variant stacks vs the reference:
    conv9 (model3.py:66-71) trims two more steps than base
    (after_pool4 = after_pool3 - 2); fraction (model_fraction2.py:
    66-73) doubles — after_conv9 = (after_pool3 - 1) * 2. Both
    clamped >= 1 like tf.maximum(seq_len, 1)."""
    for w in (10, 24, 50, 120, 250):
        base = max((w - 2) // 2 - 2, 1)
        assert crnn.sequence_length(w) == base
        assert crnn.sequence_length(w, "conv9") == max((w - 2) // 2 - 4, 1)
        assert crnn.sequence_length(w, "fraction") == max(
            ((w - 2) // 2 - 3) * 2, 1
        )
    assert crnn.sequence_length(4, "conv9") == 1
    assert crnn.sequence_length(4, "fraction") == 1


@pytest.mark.parametrize("variant", ["conv9", "fraction"])
def test_variant_stack_realizes_seq_len(variant, w_conv9, w_fraction):
    """The variant conv stacks PRODUCE their sequence lengths from the
    layer arithmetic (extra valid conv trims / height interleave
    doubles), same D=96 feature width as base."""
    wv = w_conv9 if variant == "conv9" else w_fraction
    for label in ["1", "12+3", "1234567890"]:
        img = crnn.render_label(label, seed=5)
        feats = crnn.conv_features(img, wv, variant)
        assert len(feats) == crnn.sequence_length(img.shape[1], variant)
        assert feats.shape[1] == 96


def test_variant_base_weights_unchanged(weights):
    """Variant kernels are drawn AFTER the base sequence from the same
    rng — the base weights (and every frozen fixture derived from
    them) are byte-identical to a no-variant build. Fingerprint pinned
    at the value the round-1..3 fixtures were frozen against."""
    assert "conv9" not in weights and "conv9f" not in weights
    assert weights.get("ctx_r", 4) == 4
    assert np.isclose(float(weights["cls_w"].sum()), 1.0000215593560935)


@pytest.mark.parametrize("variant", ["conv9", "fraction"])
def test_variant_decode_fidelity(variant, w_conv9, w_fraction):
    """Greedy decode through each variant stack recovers the rendered
    label exactly, including the quirk alphabet (remainder '~',
    operators, brackets). The fraction variant additionally exercises
    its pair-consistency smoothing (in forward_probs_batch) — without
    it, 36% of random labels decode with doubled characters."""
    wv = w_conv9 if variant == "conv9" else w_fraction
    labels = [
        "67+25=92", "62-4=58", "(19+2544)+7=51", "123÷4=30*3",
        "5×5=25", "100÷7=14~2", "8×9=72", "(3+4)×2=14",
        "999-111=888", "72÷8=9",
    ]
    for i, lab in enumerate(labels):
        img = crnn.render_label(lab, seed=100 + i)
        dec = greedy_decode(crnn.forward_probs(img, wv, variant))
        assert dec == lab, (variant, lab, dec)


def test_fraction_variant_random_sweep(w_fraction):
    """Exact decode over 40 random labels (seeded) — the property the
    pair-consistency smoothing buys (0/100 misses measured at adoption
    time; 40 here to bound test wall time)."""
    rng = np.random.default_rng(7)
    glyphs = [c for c in ALPHABET if c != ALPHABET[BLANK_ID]]
    for i in range(40):
        lab = "".join(rng.choice(glyphs, size=int(rng.integers(4, 12))))
        img = crnn.render_label(lab, seed=5000 + i)
        dec = greedy_decode(crnn.forward_probs(img, w_fraction, "fraction"))
        assert dec == lab, (lab, dec)
