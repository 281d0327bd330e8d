"""spark-submit entry point for the EP2 corpus-evaluation job — the
reference's second executable (evaluate_data.py:339-369): grade a
prediction table against a gold table by IoU-argmax pairing and print
the seq/state/char-accuracy + recall rollup.

Cluster launch (north_rule):

    python tools/make_pyfiles.py
    spark-submit --py-files dist/ocr_spark.zip jobs/evaluate.py \\
        --gold <parquet of (doc_id, box_id, left, top, right, bottom,
                            classes, label, state)> \\
        --pred <parquet of (doc_id, pred_id, left, top, right, bottom,
                            output, state)> \\
        [--pairs-out <parquet path for the per-box pairing table>]

Sandbox smoke run against the synthesized deterministic benchmark
(gold/pred derived from the documents table):

    python jobs/evaluate.py --synthetic /root/testdata/sf0.01 \\
        --master 'local[8]'
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--gold", help="parquet path of the gold-box table")
    ap.add_argument("--pred", help="parquet path of the prediction table")
    ap.add_argument(
        "--synthetic",
        help="sf dir: derive gold/pred from <dir>/documents.parquet instead",
    )
    ap.add_argument("--pairs-out", help="optional parquet path for the pairing table")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()
    if not args.synthetic and not (args.gold and args.pred):
        ap.error("--gold/--pred or --synthetic required")

    from ocr_spark.operators.evaluate import (
        evaluate_tables,
        gold_boxes,
        iou_argmax_pairs,
        pred_boxes,
    )
    from ocr_spark.plans.session import build_session, build_submit_session

    if args.master:
        spark = build_session(master=args.master, app_name="ocr_spark_evaluate")
    else:
        spark = build_submit_session(app_name="ocr_spark_evaluate")
    spark.sparkContext.setLogLevel("WARN")

    if args.synthetic:
        docs = spark.read.parquet(f"{args.synthetic}/documents.parquet")
        gold, pred = gold_boxes(docs), pred_boxes(docs)
    else:
        gold = spark.read.parquet(args.gold)
        pred = spark.read.parquet(args.pred)

    if args.pairs_out:
        iou_argmax_pairs(gold, pred).write.mode("overwrite").parquet(args.pairs_out)

    row = evaluate_tables(gold, pred).first().asDict()
    print(json.dumps(row))
    spark.stop()


if __name__ == "__main__":
    main()
