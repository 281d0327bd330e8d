"""Decompose the per-job serial term the Amdahl fit found (~10 s at
6000 docs, BENCH/NOTES_r4.md §8): time each driver-side phase of the
scaling job inside one cold session at local[32].

Phases timed separately:
  weights   — default_weights() construction on the driver (closed-form
              classifier fit + conv banks) + sc.broadcast serialization
  plan      — DataFrame construction + .explain (Catalyst analysis;
              extract() reads no statistics, so no pre-plan job)
  execute   — the actual extract + parquet write action
  commit    — approximated as execute_and_write - execute_noop_sink
              (same plan run into a no-op sink)

Usage: python tools/profile_serial.py [--docs 6000] [--cpus 32]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=6000)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()

    from ocr_spark.plans.extract import corpus_df, extract
    from ocr_spark.plans.session import build_session

    work = tempfile.mkdtemp(prefix="serialprof_")
    t = {}

    t0 = time.time()
    spark = build_session(
        master=f"local[{args.cpus}]",
        app_name="serial_profile",
        shuffle_partitions=max(2 * args.cpus, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")
    t["session_build"] = time.time() - t0

    t0 = time.time()
    corpus_df(spark, args.docs, partitions=64).write.parquet(f"{work}/corpus")
    t["stage_corpus"] = time.time() - t0

    docs = spark.read.parquet(f"{work}/corpus")

    # warm-up exactly like run_scaling's timed protocol
    t0 = time.time()
    warm = docs.limit(128)
    extract(warm, heavy_threshold=0).write.mode("overwrite").parquet(f"{work}/warm")
    extract(warm).write.mode("overwrite").parquet(f"{work}/warm")
    t["warmup"] = time.time() - t0

    # --- the timed region of run_once, decomposed --------------------
    from ocr_spark.sources import weights as W

    t0 = time.time()
    w = W.default_weights()
    t["weights_build"] = time.time() - t0

    t0 = time.time()
    bc = spark.sparkContext.broadcast(w)
    _ = bc.value
    t["weights_broadcast"] = time.time() - t0

    t0 = time.time()
    plan_df = extract(docs)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    t["plan_and_explain"] = time.time() - t0

    t0 = time.time()
    plan_df.write.mode("overwrite").parquet(f"{work}/out")
    t["execute_and_write"] = time.time() - t0

    # how much of execute is the write-side commit? re-run the same
    # action with a noop sink (count of the same plan)
    t0 = time.time()
    plan_df.write.mode("overwrite").format("noop").save()
    t["execute_noop_sink"] = time.time() - t0

    t["loadavg"] = [round(x, 2) for x in os.getloadavg()]
    spark.stop()
    print(json.dumps({k: (round(v, 2) if isinstance(v, float) else v) for k, v in t.items()}))


if __name__ == "__main__":
    main()
