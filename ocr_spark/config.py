"""Engine-wide constants.

The recognizer alphabet mirrors the reference's arithmetic decode table
(reference: config.py:48 ``DECODE`` and config.py:46 ``NUM_SIGN`` — the
21-class projection of the full vocabulary used by the CPU beam
decoder). Index 20 (space) is the CTC blank, as in the reference beam
(pipline.py:31-84 treats id 20 specially).
"""

from __future__ import annotations

# 21-character arithmetic alphabet; position == class id.
ALPHABET = "10853-2=6×7÷49+()*@~ "
BLANK_ID = 20
N_CLASSES = len(ALPHABET)  # 21

CHAR_TO_ID = {c: i for i, c in enumerate(ALPHABET)}

# CJK unified ideographs range used by the boilerplate predicate
# (reference: layout_utils.py:17-27 ``no_chinese``).
CJK_LO = 0x4E00
CJK_HI = 0x9FFF

# CTPN-style detection geometry (our design; the reference's CTPN lives
# in gitignored submodules, so only the call contract is mirrored —
# pipline.py:621-644).
ANCHOR_WIDTH = 16          # fixed-width vertical anchor slices
LINE_MAX_GAP = 32          # max horizontal gap when joining anchors
NMS_IOU = 0.5

# Layout pairing thresholds (reference: layout_utils.py:118-288).
ROW_PAIR_MIN_VALUE = 3.5   # first-round gap divisor (row_get_pair default)
ROW_PAIR_MIN_VALUE_2 = 10.0  # second-round, bracket-style attachment
BEST_PAIR_ROW_IOU = 0.9
BEST_PAIR_COL_IOU = 0.3

# Beam search (reference: pipline.py:31-84, k=10; backups consumed by
# the merge retry loop pipline.py:713-723).
BEAM_K = 10

# Skew handling: a document whose media-span count is above this goes
# to the span-exploded ("heavy") path of extract(). Corpus documents
# carry at most 8 media spans or 50-200 (sources/corpus.py), so any
# split point from 8 to 49 routes them alike.
HEAVY_MEDIA_SPANS = 16
