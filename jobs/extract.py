"""spark-submit entry point for the resumable extraction job.

Cluster launch (north_rule):

    python tools/make_pyfiles.py
    spark-submit --py-files dist/ocr_spark.zip jobs/extract.py \\
        --input  <corpus path or 'synthetic:<n_docs>'> \\
        --output <snapshot-store root> \\
        --buckets 4096 --group-size 256

Sandbox smoke run (local master):

    python jobs/extract.py --input synthetic:2000 --output /tmp/out \\
        --master 'local[8]' --buckets 32 --group-size 8

Re-running the same command against the same --output resumes from the
last committed snapshot (see ocr_spark/plans/io.py for the commit
protocol). Per-bucket lineage + throughput metrics land in the same
snapshot and print at the end of the run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="parquet path of (doc_id, spans), or synthetic:<n_docs>")
    ap.add_argument("--output", required=True, help="snapshot-store root")
    ap.add_argument("--buckets", type=int, default=256,
                    help="work-unit buckets = Iceberg bucket(n, doc_id) spec")
    ap.add_argument("--group-size", type=int, default=32,
                    help="buckets per atomic snapshot commit")
    ap.add_argument("--master", default=None,
                    help="override master (default: whatever spark-submit set)")
    args = ap.parse_args()

    # driver-side BLAS pinning must happen BEFORE numpy loads (the next
    # imports load it): OpenBLAS reads its thread env once, and
    # build_submit_session runs too late to set it
    from ocr_spark.blaskernel import pin_threads

    pin_threads()

    from ocr_spark.plans.extract import corpus_df
    from ocr_spark.plans.io import SnapshotStore, run_extract_job
    from ocr_spark.plans.session import build_session, build_submit_session

    if args.master:
        spark = build_session(master=args.master, app_name="ocr_spark_extract")
    else:
        spark = build_submit_session(app_name="ocr_spark_extract")
    spark.sparkContext.setLogLevel("WARN")

    if args.input.startswith("synthetic:"):
        docs = corpus_df(spark, int(args.input.split(":", 1)[1]))
    else:
        docs = spark.read.parquet(args.input).select("doc_id", "spans")

    snap = run_extract_job(
        spark, docs, args.output, n_buckets=args.buckets, group_size=args.group_size
    )
    store = SnapshotStore(args.output)
    metrics = store.read_metrics(spark)
    lineage = store.lineage()
    n_docs = sum(r["n_docs"] for r in lineage)
    wall = sum(r["wall_s"] for r in lineage) or 1e-9
    print(json.dumps({
        "snapshot_id": snap["snapshot_id"],
        "committed_buckets": len(snap["committed_buckets"]),
        "n_docs": n_docs,
        "n_spans": sum(r["n_spans"] for r in lineage),
        "docs_per_sec_serial_sum": round(n_docs / wall, 2),
    }))
    metrics.orderBy("bucket").show(20, truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
