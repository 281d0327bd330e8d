"""Text normalization ("boilerplate strip") kernels.

Behavioral contract comes from the reference's label normalization
heuristics:

- character normalization table — reference inference2.py:13-53
  (``label_replace``): fullwidth -> ASCII, circled digits -> digits,
  a few hanzi numerals -> digits, and outright deletions
  (ideographic space, ``√``, ASCII space, ``_``, ``/``).
- double-'=' repair — reference inference.py:145-155
  (``revise_label``): keep only the first and last '='-segments.
- CJK boilerplate predicate — reference layout_utils.py:17-27
  (``no_chinese``).

Every reference replacement is 1-char -> (1-char | ''), and no
replacement's output is another replacement's input, so the sequential
replace chain is equivalent to one simultaneous character translation.
We exploit that twice: one ``str.translate`` per span in the batch
path (``clean_text_series``), one ``F.translate`` on Spark columns.
"""

from __future__ import annotations

import re

from ocr_spark.config import CJK_HI, CJK_LO

# char -> replacement (or '' for deletion); see module docstring.
CHAR_MAP: dict[str, str] = {
    "（": "(", "）": ")",
    "４": "4", "１": "1", "５": "5", "８": "8", "９": "9",
    "２": "2", "０": "0", "６": "6", "３": "3", "７": "7",
    "＋": "+", "－": "-", "＝": "=", "？": "?", "，": ",",
    "：": ":", "＞": ">", "！": "!", "＇": "'",
    "—": "~",
    "①": "1", "②": "2", "③": "3", "④": "4",
    "一": "1", "二": "2", "五": "5",
    "　": "", "√": "", " ": "", "_": "", "/": "",
}

_TRANSLATE_TABLE = {ord(k): v for k, v in CHAR_MAP.items()}

# For Spark F.translate(col, matching, replace): deletions must sit at
# the tail of `matching` (translate drops chars beyond len(replace)).
_mapped = [(k, v) for k, v in CHAR_MAP.items() if v != ""]
_deleted = [k for k, v in CHAR_MAP.items() if v == ""]
TRANSLATE_MATCHING = "".join(k for k, _ in _mapped) + "".join(_deleted)
TRANSLATE_REPLACE = "".join(v for _, v in _mapped)

_CJK_RE = re.compile(f"[{chr(CJK_LO)}-{chr(CJK_HI)}]")


def normalize_text(s: str) -> str:
    """Normalize one string."""
    return s.translate(_TRANSLATE_TABLE)


def collapse_double_eq(s: str) -> str:
    """Keep first and last '='-segments when more than one '=' present."""
    if s.count("=") > 1:
        parts = s.split("=")
        return parts[0] + "=" + parts[-1]
    return s


def has_cjk(s: str) -> bool:
    return _CJK_RE.search(s) is not None


def clean_text_series(texts) -> list[str]:
    """Full text-span cleaning chain over a batch of strings:
    normalize + double-'=' repair."""
    return [collapse_double_eq(normalize_text(t)) for t in texts]
