"""Standalone pandas-UDF surface (SURVEY.md §2.11): SQL registration
and the CTC-greedy UDF over a probability-matrix column."""

from __future__ import annotations

from ocr_spark.config import ALPHABET, BLANK_ID, N_CLASSES
from ocr_spark.functions.udfs import register_udfs


def _prob_row(ids):
    """Frame sequence: char, blank, char, blank... as rows of a
    [T, C] matrix (list of lists for the DataFrame column)."""
    rows = []
    for cid in ids:
        for j in (cid, BLANK_ID):
            row = [0.001] * N_CLASSES
            row[j] = 0.9
            rows.append(row)
    return rows


def test_sql_registered_udfs(spark):
    register_udfs(spark)
    got = spark.sql(
        "SELECT ocr_clean_text('１＋２＝３') AS c, ocr_arith_state('1+2=3') AS v"
    ).first()
    assert got["c"] == "1+2=3"
    assert got["v"] == "right"
    # a null stays null through the batch cleaning chain
    assert spark.sql("SELECT ocr_clean_text(CAST(NULL AS STRING)) AS c").first()["c"] is None


def test_ctc_greedy_udf(spark):
    register_udfs(spark)
    label = "12+3=15"
    ids = [ALPHABET.index(ch) for ch in label]
    df = spark.createDataFrame(
        [(label, _prob_row(ids))], "label string, probs array<array<double>>"
    )
    out = df.selectExpr("label", "ocr_ctc_greedy(probs) AS decoded").first()
    assert out["decoded"] == label
