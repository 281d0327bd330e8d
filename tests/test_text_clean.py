"""Normalization kernel vs the reference replacement table
(inference2.py:13-53) and double-'=' repair (inference.py:145-155)."""

from ocr_spark.functions.text_clean import (
    clean_text_series,
    collapse_double_eq,
    has_cjk,
    normalize_text,
)
from ocr_spark.operators.extract_batch import clean_text_spans

PAIRS = [
    ("１＋２＝３", "1+2=3"),
    ("（３）×４＝１２", "(3)×4=12"),
    ("√ 12 + 5 = 17", "12+5=17"),
    ("①+②=③", "1+2=3"),
    ("一+二=五", "1+2=5"),
    ("3—4", "3~4"),
    ("a_b/c", "abc"),
    ("４５６７８９０", "4567890"),
    ("？，：＞！＇", "?,:>!'"),
    ("　x　", "x"),
    ("", ""),
]


def test_normalize_scalar_and_series_agree():
    # no pair has a second '=', so the batch chain is normalization alone
    out = clean_text_series([p[0] for p in PAIRS])
    assert len(out) == len(PAIRS)
    for (r, expected), got in zip(PAIRS, out):
        assert got == expected == normalize_text(r)


def test_collapse_double_eq():
    assert collapse_double_eq("1+1=2=3") == "1+1=3"
    assert collapse_double_eq("1=2=3=4") == "1=4"
    assert collapse_double_eq("1+1=2") == "1+1=2"
    assert collapse_double_eq("") == ""


def test_clean_chain():
    assert clean_text_series(["１＋１＝2＝2", "√7-3=4"]) == ["1+1=2", "7-3=4"]
    assert clean_text_series([]) == []


def test_has_cjk():
    assert has_cjk("口算练习")
    assert not has_cjk("1+2=3")
    assert has_cjk("3+4=7题")
    cleaned, keep = clean_text_spans(["口算", "１２", "　"])
    assert cleaned == ["口算", "12", ""]
    assert keep.dtype == bool and keep.tolist() == [False, True, False]
