"""Real recognition compute: a deterministic numpy CRNN stand-in for
the reference's conv-stack + BiLSTM recognizer (model.py:93-218).

Round 1 fabricated CTC probability matrices directly from the gold
label ("recipe-seeded logits", SURVEY §2.9 allowance). This module
replaces that with an actual forward pass over actually-rendered
pixels, so the heavy-UDF surface costs what real inference costs and
the skew/cost-model numbers are measured, not extrapolated:

- ``render_label``: glyph-bitmap renderer — the pixel source for a
  crop (the sandbox twin of "decode the image bytes"; the reference's
  synthetic data is likewise rendered from recipes, mnist_to_num.py).
  Deterministic per (label, seed): seeded amplitude/offset jitter and
  background noise.
- conv stack (weights broadcast via sources/weights.py): two 3x3
  valid convolutions with ReLU and (2,2)/(2,1) max-pools — the width
  arithmetic reproduces the reference's width-dependent
  sequence_length = floor((w-2)/2) - 2 (model.py:176-183, its
  stride-[2,1] pooling plan), clamped >= 1.
- recurrence: a residual bidirectional tanh recurrence with a
  diagonal (LRU-style) gate, h_t = tanh(x_t + d ⊙ h_{t-1}), over
  timestep features — the BiLSTM's sequential dependency with real
  per-step state propagation.
- classifier: a context-stacked linear head fit in closed form (ridge
  regression to one-hot frame labels over jittered glyph renders
  pushed through the SAME conv+recurrence stack) at
  weight-construction time; softmax with a fixed gain yields per-frame
  class probabilities. Inter-glyph gap frames are trained to the CTC
  blank, which is what makes greedy collapse recover repeated
  characters.

``forward_probs_batch`` is the one forward pass: conv stack and head
per crop, the recurrence over same-width crops together;
``forward_probs`` is it over one crop.

Everything is a pure function of (label, seed, weights): fixtures are
regenerated from this compute and the decode oracle replays it
identically.
"""

from __future__ import annotations

from functools import lru_cache

import numpy as np

from ocr_spark.config import ALPHABET, BLANK_ID, N_CLASSES

# -- glyph font (7x5 bitmaps, our own design) -------------------------------

_G = {
    "0": ".###.|#...#|#...#|#...#|#...#|#...#|.###.",
    "1": "..#..|.##..|..#..|..#..|..#..|..#..|.###.",
    "2": ".###.|#...#|....#|...#.|..#..|.#...|#####",
    "3": "####.|....#|...#.|..##.|....#|....#|####.",
    "4": "...#.|..##.|.#.#.|#..#.|#####|...#.|...#.",
    "5": "#####|#....|####.|....#|....#|#...#|.###.",
    "6": ".###.|#....|#....|####.|#...#|#...#|.###.",
    "7": "#####|....#|...#.|..#..|..#..|.#...|.#...",
    "8": ".###.|#...#|#...#|.###.|#...#|#...#|.###.",
    "9": ".###.|#...#|#...#|.####|...#.|..#..|.#...",
    "-": ".....|.....|.....|#####|.....|.....|.....",
    "=": ".....|#####|.....|.....|.....|#####|.....",
    "+": ".....|..#..|..#..|#####|..#..|..#..|.....",
    "×": ".....|#...#|.#.#.|..#..|.#.#.|#...#|.....",
    "÷": ".....|.##..|.....|#####|.....|..##.|.....",
    "(": "...#.|..#..|.#...|.#...|.#...|..#..|...#.",
    ")": ".#...|..#..|...#.|...#.|...#.|..#..|.#...",
    "*": ".....|#.#.#|.###.|#####|.###.|#.#.#|.....",
    "@": ".###.|#...#|#.###|#.#.#|#.##.|#....|.####",
    "~": ".....|.....|.#..#|#.#.#|#..#.|.....|.....",
    " ": ".....|.....|.....|.....|.....|.....|.....",
}

_SCALE = 4          # 7x5 bitmap -> 28x20 pixels
GLYPH_H, GLYPH_W = 7 * _SCALE, 5 * _SCALE
CELL_W = GLYPH_W + 8          # 8px inter-glyph gap (wider than the
                              # conv receptive span -> pure-blank frames)
IMG_H = GLYPH_H + 4           # 2px top/bottom margin
_MARGIN = 4                   # canvas side margins


@lru_cache(maxsize=1)
def _glyph_bitmaps() -> np.ndarray:
    """[N_CLASSES, GLYPH_H, GLYPH_W] float bitmaps, class-id indexed."""
    out = np.zeros((N_CLASSES, GLYPH_H, GLYPH_W), dtype=np.float64)
    for cid, ch in enumerate(ALPHABET):
        rows = _G[ch].split("|")
        small = np.array(
            [[1.0 if c == "#" else 0.0 for c in row] for row in rows]
        )
        out[cid] = np.kron(small, np.ones((_SCALE, _SCALE)))
    return out


def render_label(label: str, seed: int) -> np.ndarray:
    """label -> [IMG_H, W] grayscale image, W = CELL_W*len + margins.
    Seeded jitter: per-char amplitude 0.85-1.0, +-1px placement offset;
    background noise U(0, 0.06)."""
    rng = np.random.default_rng(seed)
    n = len(label)
    width = CELL_W * n + 2 * _MARGIN
    img = rng.uniform(0.0, 0.06, size=(IMG_H, width))
    bitmaps = _glyph_bitmaps()
    ids = [ALPHABET.index(c) for c in label]
    for i, cid in enumerate(ids):
        amp = rng.uniform(0.85, 1.0)
        dy = int(rng.integers(-1, 2))
        dx = int(rng.integers(-1, 2))
        y0 = 2 + dy
        x0 = _MARGIN + CELL_W * i + dx
        img[y0 : y0 + GLYPH_H, x0 : x0 + GLYPH_W] += amp * bitmaps[cid]
    return np.clip(img, 0.0, 1.0)


# -- conv stack -------------------------------------------------------------


def _conv2d_valid(x: np.ndarray, k: np.ndarray) -> np.ndarray:
    """x [Cin, H, W], k [Cout, Cin, 3, 3] -> [Cout, H-2, W-2] via
    SLAB im2col + one BLAS matmul (the fast path: this is where the
    compute budget goes, as in the real model). The column matrix is
    assembled as 9 whole-slab strided copies (one per kernel tap)
    instead of the per-window gather a transpose+reshape of
    sliding_window_view compiles to — same bytes, ~3x faster to
    build, and the [Cout, 9Cin] @ [9Cin, HW] orientation writes the
    output contiguous so the old final transpose-copy disappears.
    Same dot products up to BLAS summation order, which the
    classifier's round(10) quantization absorbs (fixture-asserted)."""
    cin, h, w = x.shape
    cout = k.shape[0]
    h2, w2 = h - 2, w - 2
    cols = np.empty((9, cin, h2, w2))
    for di in range(3):
        for dj in range(3):
            cols[di * 3 + dj] = x[:, di : di + h2, dj : dj + w2]
    # k[co, ci, di, dj] -> kk[co, (di*3+dj)*Cin + ci] to match cols
    kk = k.transpose(0, 2, 3, 1).reshape(cout, 9 * cin)
    out = kk @ cols.reshape(9 * cin, h2 * w2)
    return out.reshape(cout, h2, w2)


def _maxpool(x: np.ndarray, ph: int, pw: int) -> np.ndarray:
    """Elementwise max over ph*pw strided views — value-identical to
    the reshape-reduce form but ~5x faster (no 5-D intermediate; pure
    max, so no float-order concerns at all)."""
    c, h, w = x.shape
    h2, w2 = h // ph, w // pw
    v = x[:, : h2 * ph, : w2 * pw]
    out = None
    for i in range(ph):
        for j in range(pw):
            s = v[:, i::ph, j::pw]
            out = s.copy() if out is None else np.maximum(out, s, out=out)
    return out


def sequence_length(width: int, variant: str = "base") -> int:
    """The reference's width-dependent CTC length, per conv-stack
    variant:

    - ``base`` (model.py:176-183): floor((w-2)/2) - 2;
    - ``conv9`` (model3.py:56-75): one extra 3x3 VALID conv after
      conv8 trims two more steps — after_pool4 = after_pool3 - 2;
    - ``fraction`` (model_fraction2.py:57-86): a final 2x2 VALID conv
      trims one step and leaves a height-2 map whose two rows are
      interleaved into the time axis — after_conv9 =
      (after_pool3 - 1) * 2, the doubled temporal resolution the
      reference uses for vertically-stacked fraction layouts.

    All clamped >= 1 (the reference's tf.maximum(seq_len, 1))."""
    base = (width - 2) // 2 - 2
    if variant == "conv9":
        return max(base - 2, 1)
    if variant == "fraction":
        return max((base - 1) * 2, 1)
    return max(base, 1)


def char_frame_range(pos: int, t_total: int) -> tuple[int, int]:
    """Output-frame span whose receptive field sits on character cell
    ``pos`` (used by the deterministic corruption injector)."""
    x0 = _MARGIN + CELL_W * pos + 3
    x1 = _MARGIN + CELL_W * pos + GLYPH_W - 3
    t0 = max((x0 - 3) // 2, 0)
    t1 = min((x1 - 3) // 2, t_total - 1)
    return t0, t1


def _conv2d_valid2(x: np.ndarray, k: np.ndarray) -> np.ndarray:
    """2x2 VALID conv: x [Cin, H, W], k [Cout, Cin, 2, 2] ->
    [Cout, H-1, W-1] (the fraction variant's final conv,
    model_fraction2.py:60)."""
    cin, h, w = x.shape
    cout = k.shape[0]
    h2, w2 = h - 1, w - 1
    cols = np.empty((4, cin, h2, w2))  # slab im2col (see _conv2d_valid)
    for di in range(2):
        for dj in range(2):
            cols[di * 2 + dj] = x[:, di : di + h2, dj : dj + w2]
    kk = k.transpose(0, 2, 3, 1).reshape(cout, 4 * cin)
    out = kk @ cols.reshape(4 * cin, h2 * w2)
    return out.reshape(cout, h2, w2)


def conv_features(img: np.ndarray, weights: dict, variant: str = "base") -> np.ndarray:
    """[H, W] image -> [T, D] timestep features,
    T = sequence_length(W, variant).

    Variants (see sequence_length): ``conv9`` appends a 3x3 VALID conv
    (model3.py:56-75 — extra capacity, two fewer timesteps);
    ``fraction`` appends a 2x2 VALID conv, pools the height to 2 and
    interleaves the two rows into the time axis (model_fraction2.py:
    57-86 — its transpose + reshape doubling), so vertically stacked
    content gets its own frames. Both keep D = 96, so the recurrence
    and classifier-head machinery are shared."""
    x = img[None, :, :]
    # ReLU commutes with max-pool (both are maxes), so pooling FIRST
    # shrinks the ReLU pass 4x (2x) — values exactly identical, and
    # the clamp runs in place on the pooled map
    x = _maxpool(_conv2d_valid(x, weights["conv1"]), 2, 2)
    np.maximum(x, 0.0, out=x)
    x = _maxpool(_conv2d_valid(x, weights["conv2"]), 2, 1)
    np.maximum(x, 0.0, out=x)
    if variant == "conv9":
        x = np.maximum(_conv2d_valid(x, weights["conv9"]), 0.0)
    elif variant == "fraction":
        x = np.maximum(_conv2d_valid2(x, weights["conv9f"]), 0.0)
        # height 5 -> 2 via OVERLAPPING half-pools (rows 0-2 / 2-4):
        # the reference reaches its h=2 map through a deeper stack
        # whose two rows each cover ~half the input height; a plain
        # stride-2 pool here would drop row 4 and leave each frame
        # blind to a third of the glyph
        x = np.stack(
            [x[:, :3].max(axis=1), x[:, 2:].max(axis=1)], axis=1
        )
        c, h, t = x.shape
        # [C, 2, T] -> [2T, C]: row-major (time, height) interleave —
        # exactly the reference's transpose([0,2,1,3]) + reshape
        feats = x.transpose(2, 1, 0).reshape(h * t, c)
        want = sequence_length(img.shape[1], variant)
        return feats[:want] if len(feats) >= want else np.pad(
            feats, ((0, want - len(feats)), (0, 0))
        )
    c, h, t = x.shape
    feats = x.reshape(c * h, t).T  # [T, D]
    want = sequence_length(img.shape[1], variant)
    return feats[:want] if len(feats) >= want else np.pad(
        feats, ((0, want - len(feats)), (0, 0))
    )


def recurrent_mix(feats: np.ndarray, wh: np.ndarray, alpha: float = 0.25) -> np.ndarray:
    """[N, T, D] same-length feature sequences -> [N, T, D]: a residual
    bidirectional tanh recurrence with a DIAGONAL recurrent gate
    (LRU/minimal-RNN style), h_t = tanh(x_t + d ⊙ h_{t-1}). Still a
    real sequential dependency in T driven by broadcast per-feature
    decay weights, but each step is O(D) elementwise instead of an
    O(D^2) matvec — the dense-matrix variant made the recurrence 80% of
    the whole forward pass for no accuracy gain (profiled: 47 ms -> ~4
    ms per label), leaving the conv matmuls as the dominant (and
    representative) compute. All N sequences advance per step, and
    elementwise ops make each row bitwise identical to stepping it
    alone."""
    n, t, d = feats.shape
    # BOTH directions step together as one [2, N, D] state: the forward
    # pass walks feats as-is, the backward pass walks it reversed, so
    # step i needs [feats[:, i], feats[:, t-1-i]] — staged once into xs.
    # Halves the per-step numpy dispatch count (the steps are
    # dispatch-bound); values stay bitwise identical to two independent
    # scans. Steps stay allocation-free: tanh lands directly in the out
    # row.
    ft = feats.transpose(1, 0, 2)  # [T, N, D] view
    xs = np.empty((t, 2, n, d))
    xs[:, 0] = ft
    xs[:, 1] = ft[::-1]
    out = np.empty((t, 2, n, d))
    buf = np.empty((2, n, d))
    h = np.zeros((2, n, d))
    for i in range(t):
        np.multiply(wh, h, out=buf)
        buf += xs[i]
        h = np.tanh(buf, out=out[i])
    # out[i, 0] = forward h_i; out[i, 1] = backward h_{t-1-i}
    fwd = out[:, 0].transpose(1, 0, 2)  # [N, T, D]
    bwd = out[::-1, 1].transpose(1, 0, 2)
    return feats + alpha * (fwd + bwd)


_CTX = 4  # classifier sees +-4 neighboring frames (~a full glyph width)


def stack_context(feats: np.ndarray, r: int = _CTX) -> np.ndarray:
    """[T, D] -> [T, (2r+1)*D]: each frame concatenated with its r
    neighbors on each side (zero-padded at the ends) — the temporal
    receptive field a real CRNN's sequence head has, which is what
    separates glyphs whose single-frame slices are ambiguous."""
    t, d = feats.shape
    padded = np.concatenate(
        [np.zeros((r, d)), feats, np.zeros((r, d))], axis=0
    )
    return np.concatenate([padded[i : i + t] for i in range(2 * r + 1)], axis=1)


def _head_blocks(weights: dict) -> tuple[np.ndarray, np.ndarray]:
    """Shift-sum form of the classifier head, derived once per worker
    and memoized inside the (worker-local) weights dict.

    The context-stacked product ``[ctx | 1] @ cls_w`` reads a
    [T, (2r+1)D+1] matrix that is 2r+1 shifted COPIES of the same
    [T, D] features (~1 MB/crop at D=96 — the cache-bound traffic
    BENCH r2/r3 profiled). Algebraically the same logits are
    ``sum_o padded[t+o] @ W_o + bias`` — so compute ONE matmul of the
    padded features against the column-concatenated blocks
    [D, (2r+1)C] (C=22 classes, ~4x narrower than 9D) and add 2r+1
    shifted [T, C] slices. Identical dot products up to summation
    order; the round(p, 10) quantization below absorbs that, keeping
    decode bit-identical (asserted against the stacked path and the
    frozen fixtures by test_crnn)."""
    cls_w = weights["cls_w"]
    r = weights.get("ctx_r", _CTX)
    cached = weights.get("_head_blocks")
    if cached is None or cached[2] is not cls_w:  # stale if cls_w swapped
        d = (cls_w.shape[0] - 1) // (2 * r + 1)
        wcat = np.ascontiguousarray(
            cls_w[:-1]
            .reshape(2 * r + 1, d, cls_w.shape[1])
            .transpose(1, 0, 2)
            .reshape(d, -1)
        )
        cached = (wcat, cls_w[-1], cls_w)
        weights["_head_blocks"] = cached
    return cached[0], cached[1]


def class_probs(feats: np.ndarray, weights: dict) -> np.ndarray:
    """[T, D] features -> [T, N_CLASSES] softmax probabilities through
    the context-window linear classifier head (shift-sum form, see
    _head_blocks; bias folded in as an augmented all-ones feature in
    the reference stacked form)."""
    wcat, bias = _head_blocks(weights)
    t, d = feats.shape
    r = weights.get("ctx_r", _CTX)
    c = wcat.shape[1] // (2 * r + 1)
    padded = np.concatenate(
        [np.zeros((r, d)), feats, np.zeros((r, d))], axis=0
    )
    p = padded @ wcat  # [t + 2r, (2r+1)*C]
    acc = np.tile(bias, (t, 1))
    for i in range(2 * r + 1):
        acc += p[i : i + t, i * c : (i + 1) * c]
    logits = weights["gain"] * acc
    logits -= logits.max(axis=1, keepdims=True)
    e = np.exp(logits)
    p = e / e.sum(axis=1, keepdims=True)
    # quantize: BLAS matmul summation order differs between driver and
    # pinned executor threads, and between OpenBLAS kernel sets, by
    # ~1e-15 relative — enough to flip a near-tied beam ordering.
    # 10-decimal rounding is 5 orders above the noise floor and far
    # below any decision margin, so for given weights decode is
    # bit-identical wherever (and in whichever algebraic form) the
    # forward pass runs. The weights themselves are not: the driver's
    # ridge-solve build (sources/weights.py) follows the driver's BLAS
    # kernel, and weights built on a different kernel set can move a
    # rare near-tied page.
    return np.round(p, 10)


def _class_probs_stacked(feats: np.ndarray, weights: dict) -> np.ndarray:
    """Reference stacked-context head (the literal [ctx | 1] @ cls_w
    product). Not on the forward path: test_shiftsum_head_equals_stacked
    uses it as the reference ``class_probs`` must equal."""
    ctx = stack_context(feats, weights.get("ctx_r", _CTX))
    aug = np.concatenate([ctx, np.ones((len(ctx), 1))], axis=1)
    logits = weights["gain"] * (aug @ weights["cls_w"])
    logits -= logits.max(axis=1, keepdims=True)
    e = np.exp(logits)
    p = e / e.sum(axis=1, keepdims=True)
    return np.round(p, 10)


# same-width crops per recurrence step: the [2, D] steps are dispatch-bound,
# so 64 crops share each dispatch (1.47x solo, BENCH/NOTES_r5 §2)
_REC_BATCH = 64


def forward_probs_batch(imgs: list, weights: dict, variant: str = "base") -> list:
    """The forward pass: crops -> conv stack -> recurrence -> classifier
    head -> per-crop [T, N_CLASSES] CTC probabilities, in input order.
    Pass a ``variant`` together with that variant's weights
    (build_conv_weights(variant)) for the conv9 / fraction stacks — the
    production extraction default stays 'base'.

    Crops are grouped by shape (width == label length determines it).
    The conv stack and the classifier head run per crop: they are
    cache-bound, and stacking crops into one matmul measured 1.7x
    SLOWER at 32-worker fleet concurrency and no faster at local[4]
    (BENCH/NOTES_r3). The dispatch-bound recurrence steps up to
    ``_REC_BATCH`` same-width crops at a time. Every crop's values are
    bitwise identical to running it alone (asserted by test_crnn and
    the frozen fixtures)."""
    out: list = [None] * len(imgs)
    by_shape: dict[tuple, list[int]] = {}
    for i, im in enumerate(imgs):
        by_shape.setdefault(im.shape, []).append(i)
    for idxs in by_shape.values():
        for s in range(0, len(idxs), _REC_BATCH):
            chunk = idxs[s : s + _REC_BATCH]
            feats = np.stack([conv_features(imgs[i], weights, variant) for i in chunk])
            mixed = recurrent_mix(feats, weights["wh"])
            for j, i in enumerate(chunk):
                probs = class_probs(mixed[j], weights)
                if variant == "fraction" and len(probs) % 2 == 0:
                    # pair-consistency smoothing: the trained reference
                    # model learns that the two interleaved frames of
                    # one column step agree; the closed-form head has
                    # no such coupling, and a single flickering frame
                    # of a pair splits a glyph run into a doubled
                    # character under CTC collapse (measured: 36% of
                    # random labels, ALL failures pure adjacent
                    # duplication). Averaging each pair's class
                    # distribution restores the coupling
                    # deterministically — 0/100 random-label misses —
                    # while keeping the doubled-frame stack and the
                    # reference's seq-len arithmetic intact.
                    pm = probs.reshape(-1, 2, probs.shape[1]).mean(axis=1)
                    probs = np.round(np.repeat(pm, 2, axis=0), 10)
                out[i] = probs
    return out


def forward_probs(img: np.ndarray, weights: dict, variant: str = "base") -> np.ndarray:
    """``forward_probs_batch`` over one crop."""
    return forward_probs_batch([img], weights, variant)[0]


# -- weight construction (broadcast payload) --------------------------------

_WEIGHTS_SEED = 20260817


@lru_cache(maxsize=4)
def build_conv_weights(variant: str = "base") -> dict:
    """Deterministic non-identity model weights. conv1/conv2 are
    seeded gaussians, wh is the seeded per-feature recurrent decay;
    the classifier head is fit in closed form
    (ridge regression to one-hot targets) over jittered single-glyph
    renders passed through the SAME conv+recurrence stack — i.e. a
    training-free-at-runtime linear head whose every input genuinely
    flows through every parameter. Frame labels come from a
    self-calibrating norm rule: high-energy frames of a glyph render
    carry the glyph's class, low-energy frames (gaps, margins,
    background) carry the CTC blank — which is exactly what makes the
    decode emit blank between characters.

    ``variant`` selects the conv-stack plan (see conv_features):
    'conv9' adds a 24-channel 3x3 VALID conv (model3.py:56-75),
    'fraction' adds a 96-channel 2x2 VALID conv + height interleave
    (model_fraction2.py:57-86). Variant kernels are drawn AFTER the
    base sequence from the same seeded rng, so the 'base' weights —
    and every frozen fixture derived from them — are byte-identical
    to rounds 1-3."""
    rng = np.random.default_rng(_WEIGHTS_SEED)
    conv1 = rng.normal(0.0, 0.35, size=(8, 1, 3, 3))
    conv2 = rng.normal(0.0, 0.18, size=(16, 8, 3, 3))
    d = 16 * (((IMG_H - 2) // 2 - 2) // 2)  # channels x pooled height
    # per-feature recurrent decay in [0.15, 0.45]: stable (|d| < 1)
    wh = rng.uniform(0.15, 0.45, size=d)
    w = {"conv1": conv1, "conv2": conv2, "wh": wh, "gain": 6.0}
    # time stride of the feature map in pixels of the input column
    # axis; the fraction variant emits PAIRS of frames per column step
    col_of = lambda t: 2.0 * t  # noqa: E731
    if variant == "conv9":
        # 24 ch x (4-high map after the extra trim) keeps D = 96
        w["conv9"] = rng.normal(0.0, 0.22, size=(24, 16, 3, 3))
    elif variant == "fraction":
        # 96 ch, height collapsed to 2 and interleaved into time;
        # frames step HALF a column, so the head's context radius
        # doubles to keep the same column span as the base head
        w["conv9f"] = rng.normal(0.0, 0.25, size=(96, 16, 2, 2))
        w["ctx_r"] = 2 * _CTX
        col_of = lambda t: 2.0 * (t // 2)  # noqa: E731

    # receptive-field calibration: where do a glyph's high-energy
    # frames sit relative to its cell? (offset = glyph center col
    # minus the mean high-energy frame's column)
    cal = render_label("8", seed=_WEIGHTS_SEED)
    cal_feats = recurrent_mix(conv_features(cal, w, variant)[None], wh)[0]
    cal_norms = np.linalg.norm(cal_feats, axis=1)
    hot = np.flatnonzero(cal_norms >= 0.6 * cal_norms.max())
    center_col = _MARGIN + GLYPH_W / 2
    x_off = center_col - np.mean([col_of(t) for t in hot])

    def _harvest(label: str, seed: int, rows: list, labs: list) -> None:
        img = render_label(label, seed=seed)
        feats = recurrent_mix(conv_features(img, w, variant)[None], wh)[0]
        ctx = stack_context(feats, w.get("ctx_r", _CTX))
        norms = np.linalg.norm(feats, axis=1)
        if variant == "fraction" and len(norms) % 2 == 0:
            # the interleaved bottom-row frames carry less energy than
            # their top-row column partners; gating each on its OWN
            # norm teaches blank/class alternation within one glyph
            # (which greedy decode renders as doubled characters) —
            # gate on the column-pair max instead
            pair_max = norms.reshape(-1, 2).max(axis=1)
            norms = np.repeat(pair_max, 2)
        top = max(norms.max(), 1e-6)
        ids = [ALPHABET.index(c) for c in label]
        for t, (f, nn) in enumerate(zip(ctx, norms)):
            x = col_of(t) + x_off  # receptive-field center column
            cell = int((x - _MARGIN) // CELL_W)
            in_glyph = (
                0 <= cell < len(ids)
                and 3 <= (x - _MARGIN - cell * CELL_W) <= GLYPH_W - 5
            )
            if in_glyph and nn >= 0.2 * top and ids[cell] != BLANK_ID:
                rows.append(f)
                labs.append(ids[cell])
            else:
                # margins, gaps, boundary-straddling and low-energy
                # frames all teach the blank: transitions decode clean
                rows.append(f)
                labs.append(BLANK_ID)

    feats_rows: list[np.ndarray] = []
    labels: list[int] = []
    # the interleaved fraction stack doubles per-frame variance (the
    # +-1 px vertical render jitter moves strokes across the two-row
    # height split), so its closed-form head needs a larger harvest
    n_single, n_ctx = (24, 520) if variant == "fraction" else (10, 240)
    for cid in range(N_CLASSES):
        for s in range(n_single):
            _harvest(ALPHABET[cid], _WEIGHTS_SEED + cid * 131 + s, feats_rows, labels)
    # multi-glyph contexts: the recurrence carries cross-cell state and
    # the context stack spans cell boundaries, so the classifier must
    # see glyphs with real neighbors
    ctx_rng = np.random.default_rng(_WEIGHTS_SEED + 999)
    glyph_ids = [i for i in range(N_CLASSES) if i != BLANK_ID]
    for s in range(n_ctx):
        lab = "".join(
            ALPHABET[i] for i in ctx_rng.choice(glyph_ids, size=4)
        )
        _harvest(lab, _WEIGHTS_SEED + 7000 + s, feats_rows, labels)
    f_mat = np.asarray(feats_rows)
    aug = np.concatenate([f_mat, np.ones((len(f_mat), 1))], axis=1)
    y = np.zeros((len(f_mat), N_CLASSES))
    y[np.arange(len(f_mat)), labels] = 1.0
    lam = 1e-3
    cls_w = np.linalg.solve(
        aug.T @ aug + lam * np.eye(aug.shape[1]), aug.T @ y
    )
    w["cls_w"] = cls_w
    return w
