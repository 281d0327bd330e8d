"""Verdict kernel vs hand-written cases covering the reference quirks
(utils.py:50-117): remainder notation, split-on-first-two-segments,
float-exact compare, exception -> problem."""

import pytest

from ocr_spark.functions.arith import (
    bracket_repair,
    digit_fix_count,
    eval_verdict,
    pair_concat_repair,
    promote_problem,
    safe_eval,
    trim_repair,
)

CASES = [
    ("1+1=2", "right"),
    ("1+1=3", "error"),
    ("", "problem"),
    ("12+5", "problem"),
    ("=3", "problem"),
    ("3=", "problem"),
    ("2×3=6", "right"),
    ("7-9=-2", "right"),
    ("13÷5=2*3", "right"),
    ("13÷5=2~3", "right"),
    ("13÷5=3*3", "error"),
    ("13÷5=2*4", "error"),
    ("10÷2=5", "right"),
    ("1÷3×3=1", "right"),  # float true division, exact compare (IEEE round-trip)
    ("1÷49×49=1", "error"),  # ...and where the round-trip fails, like eval()
    ("6÷2=3.0", "problem"),  # int('3.0') raises
    ("1+1=2=2", "right"),  # grades against segment[1]
    ("1+1=2=3", "right"),  # ...not the last segment
    ("1+1=3=2", "error"),
    ("2+2=4?", "problem"),
    ("捡+1=2", "problem"),
    ("(3+4)×2=14", "right"),
    ("3+(4×2=11", "problem"),  # unbalanced paren
    ("007+1=8", "problem"),  # leading-zero int literal
    ("0+8=8", "right"),
    ("5÷0=1", "problem"),  # ZeroDivisionError
    ("2--3=5", "right"),  # unary chain like python eval
    ("2+3 =5", "right"),  # whitespace tolerated like eval
    ("12÷4=3*0", "right"),  # zero remainder, explicit
    # both '*' and '~' in right: '~' wins (applied last)
    ("13÷5=2~3", "right"),
]


@pytest.mark.parametrize("label,expected", CASES)
def test_eval_verdict(label, expected):
    assert eval_verdict(label) == expected


def test_safe_eval_matches_python_semantics():
    for expr in ["1+2*3", "(1+2)*3", "7//2", "7%2", "-4+1", "2--3", "10/4", "~3"]:
        assert safe_eval(expr) == eval(expr)  # noqa: S307 - trusted literals


def test_safe_eval_rejects_non_arithmetic():
    for expr in ["__import__('os')", "a+1", "1@2", "2(3)", "1.2.3", "012", "2**3"]:
        with pytest.raises(Exception):
            safe_eval(expr)


def test_trim_repair():
    # '(3+4=7' -> trimming the stray head char makes it right
    state, revised, original = trim_repair("(3+4=7")
    assert state == "right" and revised == "3+4=7" and original == "(3+4=7"
    # unfixable: verdict falls back to the original's
    state, _, _ = trim_repair("1+1=3")
    assert state == "error"


def test_pair_concat_repair():
    state, revised, _ = pair_concat_repair("3+4=", "7")
    assert state == "right" and revised == "3+4=7"


def test_digit_fix_count():
    # 2+1=3, 1+2=3, 1+1=2 — three single-digit fixes
    assert digit_fix_count("1+1=3") == 3


def test_promote_problem():
    # a head longer than 3 chars loses its first char; a label one
    # digit away from 'right' is then kept without trying the trims
    assert promote_problem("9234+5=239") == "234+5=239"
    assert promote_problem("7+8=915") == "7+8=915"
    # no single-digit fix: the trim variant with the most fixes wins
    # (drop the last char, then the first)
    assert promote_problem("7+8=159") == "7+8=15"
    assert promote_problem("(7+8=15") == "7+8=15"


def test_bracket_repair():
    out, state = bracket_repair("(3+4=7")
    assert state == "right" and out == "(3)+4"
    out, state = bracket_repair("1+1=2")
    assert state == "problem"
