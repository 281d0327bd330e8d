"""Standalone vectorized pandas UDFs (SURVEY.md §2.11) — the kernel
surface exposed as reusable column functions, for pipelines that want
the pieces without the whole extraction plan.

All are Arrow-batched scalar pandas UDFs (never row-at-a-time Python):

- ``clean_text_udf``  — F1/F3/P2 normalization chain
  (reference inference2.py:13-53 label_replace,
  inference.py:145-155 revise_label).
- ``arith_state_udf`` — F2 verdict kernel: 'right' / 'error' /
  'problem' (reference utils.py:50-117 eval_label, via the safe AST
  evaluator — never eval()).
- ``ctc_greedy_udf``  — M4 greedy decode over an array<array<double>>
  probability-matrix column.

``register_udfs(spark)`` exposes them to SQL as ocr_clean_text /
ocr_arith_state / ocr_ctc_greedy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ocr_spark.functions.arith import eval_verdict
from ocr_spark.functions.ctc import greedy_decode
from ocr_spark.functions.text_clean import clean_text_series


@pandas_udf(StringType())
def clean_text_udf(raw: pd.Series) -> pd.Series:
    # a null stays null, as in the Catalyst chain (textstats.clean_expr)
    out = pd.Series(None, index=raw.index, dtype=object)
    valid = raw.notna()
    out[valid] = clean_text_series(raw[valid])
    return out


@pandas_udf(StringType())
def arith_state_udf(label: pd.Series) -> pd.Series:
    # eval_verdict is scalar (short strings, AST walk); map over the
    # Arrow batch — still batch-amortized transfer, no per-row IPC
    return label.map(eval_verdict)


@pandas_udf(StringType())
def ctc_greedy_udf(probs: pd.Series) -> pd.Series:
    return probs.map(lambda m: greedy_decode(np.asarray(list(m), dtype=np.float64)))


def register_udfs(spark) -> None:
    spark.udf.register("ocr_clean_text", clean_text_udf)
    spark.udf.register("ocr_arith_state", arith_state_udf)
    spark.udf.register("ocr_ctc_greedy", ctc_greedy_udf)
