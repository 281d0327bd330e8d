"""F19 — media pre-clean kernels (optional pre-recognition stage).

Re-expressions of the reference's image-enhancement masks
(dataset_prepross.py:13-83 and cutdata.py:168-245) as pure-numpy
kernels over the engine's rendered page crops (no cv2 in this
container; Sobel/blur are tiny fixed convolutions, implemented
directly):

- ``sobel_mask``: 3x3 box blur -> |Sobel_x| + |Sobel_y| gradient
  magnitude -> fixed binary threshold (img_normal's `gradient`/
  `thresh` path, dataset_prepross.py:66-81).
- ``contrast_mask``: blockwise contrast normalization — per 15x15
  tile, scale by the min of the top-quartile intensities, then the
  raised-cosine response 0.5 - 0.5*cos(0.75*c*pi) (enhance/preprocess,
  dataset_prepross.py:13-48). Produces the soft ink-probability mask
  the reference multiplies into its training images.

These run BEFORE recognition as an optional stage:
``box_probs_batch(..., weights)`` applies them when the broadcast weights
dict carries ``preclean: 'sobel'|'contrast'`` — OFF by default, so
the frozen fixtures are unaffected; the kernels are gated by their
own unit tests (tests/test_preclean.py). At 100 TB this is per-crop
numpy inside the same Arrow batch kernel — no extra plan stage, no
shuffle.
"""

from __future__ import annotations

import numpy as np

_SOBEL_X = np.array([[-1, 0, 1], [-2, 0, 2], [-1, 0, 1]], dtype=np.float64)
_SOBEL_Y = _SOBEL_X.T


def _conv3_same(img: np.ndarray, k: np.ndarray) -> np.ndarray:
    """3x3 'same' convolution with edge padding (cv2 default border
    behavior approximated by replicate padding)."""
    p = np.pad(img, 1, mode="edge")
    w = np.lib.stride_tricks.sliding_window_view(p, (3, 3))
    return np.einsum("ijkl,kl->ij", w, k)


def sobel_mask(img: np.ndarray, threshold: float = 0.16) -> np.ndarray:
    """Binary edge mask: blur(3x3) -> |gx|+|gy| -> threshold.
    ``img`` in [0, 1]; threshold 0.16 ~ the reference's 40/255 on the
    x+y gradient sum."""
    blur = _conv3_same(img, np.full((3, 3), 1.0 / 9.0))
    grad = np.abs(_conv3_same(blur, _SOBEL_X)) + np.abs(
        _conv3_same(blur, _SOBEL_Y)
    )
    return (grad > threshold * 8.0).astype(np.float64)  # sobel gain ~8


def contrast_mask(img: np.ndarray, size: int = 15) -> np.ndarray:
    """Blockwise raised-cosine contrast mask (enhance(), applied per
    ``size`` x ``size`` tile as in preprocess()). Output in [0, 1]."""
    out = np.zeros_like(img, dtype=np.float64)
    h, w = img.shape
    for i in range(0, h, size):
        for j in range(0, w, size):
            part = img[i : i + size, j : j + size]
            flat = np.sort(part.ravel())
            avager = flat[int(flat.size * 0.75) :].min()
            if avager <= 0:
                avager = 1e-6
            c = np.minimum(1.0, part / avager)
            out[i : i + size, j : j + size] = 0.5 - 0.5 * np.cos(0.75 * c * np.pi)
    return out


def apply_preclean(img: np.ndarray, mode: str | None) -> np.ndarray:
    """Dispatch used by box_probs_batch: None/'' = no-op; 'sobel' multiplies
    the edge mask in (keeps strokes, kills flat noise); 'contrast'
    multiplies the soft contrast mask."""
    if not mode:
        return img
    if mode == "sobel":
        return img * sobel_mask(img)
    if mode == "contrast":
        return img * contrast_mask(img)
    raise ValueError(f"unknown preclean mode: {mode!r}")
