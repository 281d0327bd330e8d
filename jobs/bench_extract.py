"""spark-submit entry point for the TIMED extraction job — the scaling
protocol's measured region in the north rule's literal launch form:

    python tools/make_pyfiles.py
    spark-submit --master local-cluster[2,4,4096] --driver-memory 8g \\
        --py-files dist/ocr_spark.zip jobs/bench_extract.py \\
        --corpus /path/corpus --out /path/out --shuffle 16

Unlike jobs/extract.py (the resumable production job), this job is the
exact shape tools/run_scaling.py times in-process: read staged corpus
-> 128-doc warm-up (excluded: python-worker spin-up is a per-executor
one-time constant, not a throughput term) -> timed extract -> write
parquet -> print one JSON line {"wall_s": ..., "n_docs_out": ...}.

Deliberately NO sys.path manipulation: on the driver (client mode) and
on every executor, ``ocr_spark`` is importable ONLY from the
``--py-files`` zip — running this from a scratch directory proves the
artifact, not the checkout, is what executes. tools/run_submit_scaling.py
does exactly that.
"""

from __future__ import annotations

import os

# Driver-side BLAS pinning must happen BEFORE any ocr_spark import:
# importing ocr_spark.plans.extract loads numpy/OpenBLAS,
# and OpenBLAS reads its thread env once at load, so a later setdefault
# would be a no-op for the driver process.
for _var in (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
):
    os.environ.setdefault(_var, "1")

import argparse
import json
import time

from ocr_spark.plans.extract import extract
from ocr_spark.plans.session import build_submit_session


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--corpus", required=True, help="staged (doc_id, spans) parquet")
    ap.add_argument("--out", required=True, help="output parquet path")
    ap.add_argument("--shuffle", type=int, default=64,
                    help="spark.sql.shuffle.partitions (protocol: 2x total cores)")
    ap.add_argument("--warm-docs", type=int, default=128)
    args = ap.parse_args()

    spark = build_submit_session(
        app_name="ocr_spark_bench_extract", shuffle_partitions=args.shuffle
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(args.corpus)
    warm = docs.limit(args.warm_docs)
    # warm both plan branches, as in the in-process protocol child
    extract(warm, heavy_threshold=0).write.mode("overwrite").parquet(args.out + "_warm")
    extract(warm).write.mode("overwrite").parquet(args.out + "_warm")

    t0 = time.time()
    extract(docs).write.mode("overwrite").parquet(args.out)
    wall = time.time() - t0
    n = spark.read.parquet(args.out).select("doc_id").distinct().count()
    print(json.dumps({"wall_s": wall, "n_docs_out": n}))
    spark.stop()


if __name__ == "__main__":
    main()
