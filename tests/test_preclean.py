"""F19 pre-clean kernels (functions/preclean.py): mask properties and
the optional hook into the recognition path. Pure numpy."""

from __future__ import annotations

import numpy as np
import pytest

from ocr_spark.functions import crnn, preclean
from ocr_spark.functions.ctc import greedy_decode


def test_sobel_mask_marks_edges_not_flats():
    img = np.zeros((40, 60))
    img[10:30, 20:40] = 1.0  # a solid box: edges on the border only
    m = preclean.sobel_mask(img)
    assert set(np.unique(m)) <= {0.0, 1.0}
    assert m[10, 20] == 1.0          # corner = edge
    assert m[20, 30] == 0.0          # interior flat
    assert m[2, 2] == 0.0            # background flat
    assert preclean.sobel_mask(np.zeros((20, 20))).sum() == 0


def test_contrast_mask_range_and_response():
    rng = np.random.default_rng(3)
    img = np.clip(rng.uniform(0, 0.1, (45, 45)), 0, 1)
    img[5:25, 5:25] += 0.8
    m = preclean.contrast_mask(np.clip(img, 0, 1))
    assert m.shape == img.shape
    assert (m >= 0).all() and (m <= 1).all()
    # bright ink regions respond more strongly than background tiles
    assert m[10:20, 10:20].mean() > m[30:44, 30:44].mean()


def test_apply_preclean_dispatch():
    img = np.clip(np.random.default_rng(0).uniform(0, 1, (30, 30)), 0, 1)
    assert preclean.apply_preclean(img, None) is img
    assert preclean.apply_preclean(img, "").dtype == img.dtype
    assert preclean.apply_preclean(img, "sobel").shape == img.shape
    assert preclean.apply_preclean(img, "contrast").shape == img.shape
    with pytest.raises(ValueError):
        preclean.apply_preclean(img, "nope")


def test_contrast_preclean_preserves_decode():
    """The contrast mask is a soft ink normalization: decode through
    the pre-clean stage recovers the label on clean renders (the sobel
    mask, by contrast, produces edge images that need a matched
    recognizer head — it is the training-data variant, exercised below
    only for shape/determinism)."""
    w = dict(crnn.build_conv_weights())
    for label in ["12+3=15", "7×8=56", "40-9=31", "6÷2=3"]:
        img = crnn.render_label(label, seed=11)
        img = preclean.apply_preclean(img, "contrast")
        assert greedy_decode(crnn.forward_probs(img, w)) == label


def test_preclean_hook_in_box_probs():
    """weights['preclean'] flows through box_probs_batch deterministically
    and actually changes the probabilities (the stage is load-bearing,
    not decorative)."""
    import numpy as np

    from ocr_spark.sources.media import box_probs_batch, build_page
    from ocr_spark.sources.weights import default_weights

    page = build_page("m-preclean-test")
    bbox = page.segments[0].bbox
    w = default_weights()
    base = box_probs_batch([(page, bbox)], w)[0]
    wc = default_weights()
    wc["preclean"] = "sobel"
    masked1 = box_probs_batch([(page, bbox)], wc)[0]
    masked2 = box_probs_batch([(page, bbox)], wc)[0]
    assert np.array_equal(masked1, masked2)
    assert base.shape == masked1.shape
    assert not np.array_equal(base, masked1)
