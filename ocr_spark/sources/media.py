"""Deterministic synthetic media pages.

A ``media_ref`` string is a *recipe key*: it fully determines a page of
print/hand text segments (layout + gold labels) and, for any box, a
CTC probability matrix. No binary payloads exist anywhere — this is
the sandbox stand-in for "fetch the image bytes and run the detector /
recognizer on them", mirroring the reference's synthetic-data design
(mnist_to_num.py:43-109 renders equations from a recipe; the CTPN/CRNN
checkpoints are not in the repo, .gitignore:1,17-22, so behavior is
frozen against deterministic stand-in weights instead).

Determinism contract (relied on by fixtures): numpy PCG64 seeded from
sha256 of the recipe key — stable across platforms and processes.

Segment label alphabet == the recognizer alphabet (config.ALPHABET).
``read_label(page, bbox)`` defines what "recognizing a crop" returns:
the concatenation of the gold labels of all segments whose center lies
inside the bbox, in left-to-right order — so recognition of merged
hulls is well-defined without pixels.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

from ocr_spark.config import ALPHABET, CHAR_TO_ID


def stable_seed(*parts) -> int:
    h = hashlib.sha256("\x1f".join(str(p) for p in parts).encode()).digest()
    return int.from_bytes(h[:8], "little")


@dataclass
class Segment:
    bbox: np.ndarray  # [left, top, right, bottom] float64
    cls: str  # 'print' | 'hand'
    label: str


@dataclass
class Page:
    media_ref: str
    segments: list


CHAR_W = 22.0
SEG_H = 40.0


def _seg(x: float, y: float, label: str, cls: str) -> Segment:
    w = CHAR_W * max(len(label), 1)
    return Segment(
        bbox=np.array([x, y, x + w, y + SEG_H], dtype=np.float64),
        cls=cls,
        label=label,
    )


def _wrong(rng, v: int) -> int:
    return v + int(rng.integers(1, 4)) * (1 if rng.random() < 0.5 else -1)


def build_page(media_ref: str) -> Page:
    """Recipe key -> deterministic page of labeled segments."""
    rng = np.random.default_rng(stable_seed("page", media_ref))
    n_problems = int(rng.integers(1, 7))
    segments: list[Segment] = []
    y = 40.0
    for _ in range(n_problems):
        x = 60.0 if rng.random() < 0.7 else 620.0
        kind = rng.choice(
            ["full", "qa", "divrem", "vertical", "at", "hand_only", "bracket"],
            p=[0.20, 0.33, 0.10, 0.15, 0.05, 0.10, 0.07],
        )
        a, b = int(rng.integers(2, 80)), int(rng.integers(2, 30))
        op = str(rng.choice(["+", "-", "×"]))
        val = {"+": a + b, "-": a - b, "×": a * b}[op]
        ans = val if rng.random() < 0.8 else _wrong(rng, val)

        if kind == "full":
            segments.append(_seg(x, y, f"{a}{op}{b}={ans}", "print"))
        elif kind == "qa":
            q = _seg(x, y, f"{a}{op}{b}=", "print")
            gap = float(rng.uniform(12, 40))
            segments.append(q)
            segments.append(_seg(q.bbox[2] + gap, y, str(ans), "hand"))
        elif kind == "divrem":
            d = int(rng.integers(2, 10))
            quo = int(rng.integers(2, 10))
            rem = int(rng.integers(0, d))
            num = quo * d + rem
            q = _seg(x, y, f"{num}÷{d}=", "print")
            sep = "*" if rng.random() < 0.5 else "~"
            rq, rr = (quo, rem) if rng.random() < 0.85 else (_wrong(rng, quo), rem)
            segments.append(q)
            segments.append(_seg(q.bbox[2] + float(rng.uniform(12, 30)), y, f"{rq}{sep}{rr}", "hand"))
        elif kind == "vertical":
            q = _seg(x, y, f"{a}{op}{b}", "print")
            segments.append(q)
            y += SEG_H + float(rng.uniform(18, 40))
            segments.append(_seg(x + float(rng.uniform(0, 18)), y, str(ans), "hand"))
        elif kind == "at":
            segments.append(_seg(x, y, f"{a}@{b}", "print"))
        elif kind == "hand_only":
            segments.append(_seg(x, y, f"{a}{op}{b}={ans}", "hand"))
        else:  # bracket: print "(a+b" ... hand ans ... print ")=c" -> 2-round merge
            c = int(rng.integers(2, 20))
            total = val + c if rng.random() < 0.8 else _wrong(rng, val + c)
            p1 = _seg(x, y, f"({a}{op}{b}", "print")
            hand = _seg(p1.bbox[2] + float(rng.uniform(18, 40)), y, "", "hand")
            # hand holds the inner result guess
            hand.label = str(val if rng.random() < 0.9 else _wrong(rng, val))
            hand.bbox[2] = hand.bbox[0] + CHAR_W * len(hand.label)
            # round-2 attachment needs gap < merged_width / 10
            p2 = _seg(hand.bbox[2] + float(rng.uniform(6, 14)), y, f")+{c}={total}", "print")
            segments.extend([p1, hand, p2])
        y += SEG_H + float(rng.uniform(45, 85))
    return Page(media_ref=media_ref, segments=segments)


def read_label(page: Page, bbox) -> str:
    """Gold text of a crop: labels of segments centered inside bbox,
    left-to-right (ties by top)."""
    hits = []
    for s in page.segments:
        cx = (s.bbox[0] + s.bbox[2]) / 2
        cy = (s.bbox[1] + s.bbox[3]) / 2
        if bbox[0] <= cx <= bbox[2] and bbox[1] <= cy <= bbox[3]:
            hits.append((s.bbox[0], s.bbox[1], s.label))
    hits.sort(key=lambda t: (t[0], t[1]))
    return "".join(t[2] for t in hits)


def _inject_corruption(
    probs: np.ndarray, label: str, rng: np.random.Generator
) -> np.ndarray:
    """Deterministic recognition-noise injection (seeded): with p=0.1
    one character position's frames get a wrong class boosted 1.25x
    over the true one, so greedy decode errs there while the true
    sequence stays within beam reach — exercising the reference's
    backup-retry path (pipline.py:713-723). Mirrors round-1's
    corrupt-frame design on top of the now-real forward pass."""
    from ocr_spark.functions.crnn import char_frame_range  # noqa: PLC0415

    if not label or rng.random() >= 0.10:
        return probs
    pos = int(rng.integers(0, len(label)))
    cid = CHAR_TO_ID[label[pos]]
    n_classes = len(ALPHABET)
    wrong = int(rng.integers(0, n_classes - 1))  # never blank
    if wrong == cid:
        wrong = (wrong + 1) % (n_classes - 1)
    t0, t1 = char_frame_range(pos, len(probs))
    for t in range(t0, t1 + 1):
        probs[t, wrong] = probs[t, cid] * 1.25
        probs[t] /= probs[t].sum()
    return probs


def box_probs_batch(items: list, weights: dict | None = None) -> list:
    """CTC probabilities for recognizing crops of pages — REAL compute
    since round 2. ``items`` is a list of (page, bbox); each crop's gold
    label is rendered to pixels (the sandbox twin of cropping the image)
    with a seed keyed on (media_ref, bbox), optionally pre-cleaned (F19,
    ``weights['preclean']``, off by default), and pushed through the
    conv + recurrence + classifier forward pass
    (crnn.forward_probs_batch, reference model.py:93-218), so T is the
    reference's width-dependent sequence_length, not a synthetic frame
    pattern; then the seeded corruption injector runs per crop.
    ``weights``: the broadcast model-weights dict (sources/weights.py);
    None builds/reuses the process-local default (same values — the
    oracle transcription path). Returns per-item [T, C] matrices in
    input order; a crop's matrix does not depend on the other items.

    Crops are rendered lazily: every item's (label, seed) is read up
    front, the items are grouped by label length (which fixes the
    image shape), and each group is rendered and pushed through the
    forward pass ``crnn._REC_BATCH`` crops at a time — the slices
    ``forward_probs_batch`` would cut anyway. So at most one slice of
    images (~70 KB each at 10 characters) is alive, however many pages
    the call covers: the tracemalloc peak of one 256-document kernel
    call over the perfbench ``mixed`` light documents is 77 MB, against
    179 MB with every crop rendered before the forward pass."""
    from ocr_spark.functions.crnn import (  # noqa: PLC0415
        _REC_BATCH,
        forward_probs_batch,
        render_label,
    )
    from ocr_spark.functions.preclean import apply_preclean  # noqa: PLC0415

    if weights is None or "conv1" not in weights:
        from ocr_spark.sources.weights import default_weights  # noqa: PLC0415

        weights = default_weights()
    preclean = weights.get("preclean")
    keys: list[tuple[str, int]] = []
    by_len: dict[int, list[int]] = {}
    for i, (page, bbox) in enumerate(items):
        label = read_label(page, bbox)
        seed = stable_seed(
            "probs", page.media_ref,
            int(bbox[0]), int(bbox[1]), int(bbox[2]), int(bbox[3]),
        )
        keys.append((label, seed))
        by_len.setdefault(len(label), []).append(i)
    out: list = [None] * len(items)
    for idxs in by_len.values():
        for s in range(0, len(idxs), _REC_BATCH):
            chunk = idxs[s : s + _REC_BATCH]
            imgs = [apply_preclean(render_label(*keys[i]), preclean) for i in chunk]
            probs = forward_probs_batch(imgs, weights)
            del imgs  # the next slice renders into the memory freed here
            for i, p in zip(chunk, probs):
                label, seed = keys[i]
                out[i] = _inject_corruption(p, label, np.random.default_rng(seed))
    return out


# -- F22: crop-margin variants (fixture-gen recipe) --------------------------

def crop_margin_variants(
    bbox, label: str, img_h: int, img_w: int
) -> tuple[list[dict], list[tuple[float, float]]]:
    """Margin-expanded crop variants for one labeled box — the
    reference's training-crop augmentation recipe (inference.py:470-522
    create_dataset), transcribed as pure geometry so fixture generation
    can enumerate the variants without pixels:

    - variant 0 "tight": [top:bottom+1, left:right+1];
    - variant 1 "margin_5": expand vertically by int(height/7) on both
      sides and horizontally by int(width/5) (the reference computes
      this identically in BOTH label-length branches);
    - variant 2 "margin_3" (only when len(label) <= 10): same vertical
      expansion, horizontal int(width/3).

    numpy-slice semantics are preserved INCLUDING the reference's
    unclamped quirk: a box near the top/left edge makes the expanded
    start negative, which numpy reads as img_h+start — usually past the
    stop, so the crop is EMPTY (``empty: True``); the reference writes
    a zero-size jpg there.

    Also returns the resize ladder keyed on the source-image height
    (each crop is additionally written at these (fy, fx) factors —
    cv2.resize(fx=pair[1], fy=pair[0])): h > 3900 -> two pairs, the
    second dividing BOTH factors by the height (reference quirk at
    inference.py:472-473, preserved); h > 1800 -> one pair; else none.
    """
    left, top, right, bottom = (int(v) for v in bbox)
    w = right - left  # row_temp
    h = bottom - top  # column_temp
    dv, d5 = int(h / 7), int(w / 5)
    rects = [
        ("tight", top, bottom + 1, left, right + 1),
        ("margin_5", top - dv, bottom + 1 + dv, left - d5, right + 1 + d5),
    ]
    if len(label) <= 10:
        d3 = int(w / 3)
        rects.append(
            ("margin_3", top - dv, bottom + 1 + dv, left - d3, right + 1 + d3)
        )
    variants = []
    for name, r0, r1, c0, c1 in rects:
        rr0 = r0 + img_h if r0 < 0 else r0
        cc0 = c0 + img_w if c0 < 0 else c0
        rr1, cc1 = min(r1, img_h), min(c1, img_w)
        height, width = max(0, rr1 - rr0), max(0, cc1 - cc0)
        variants.append(
            {
                "variant": name,
                "row0": rr0,
                "col0": cc0,
                "height": height,
                "width": width,
                "empty": height == 0 or width == 0,
            }
        )
    if img_h > 3900:
        resizes = [(1920 / img_h, 1080 / img_w), (854 / img_h, 640 / img_h)]
    elif img_h > 1800:
        resizes = [(854 / img_h, 640 / img_h)]
    else:
        resizes = []
    return variants, resizes
