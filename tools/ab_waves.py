"""A/B the execute-phase straggler tail at local[32]: task-wave count
(salt buckets 64 = 2 waves vs 128 = 4 waves vs 256 = 8 waves) and the
branch-dropped single-scan plan (exact media stats). Cold JVM per run
(run_scaling.run_once), interleaved reps.

Usage: python tools/ab_waves.py [--corpus DIR] [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from run_scaling import run_once  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", default=None)
    ap.add_argument("--docs", type=int, default=6000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()

    corpus = args.corpus
    if corpus is None:
        from ocr_spark.plans.extract import corpus_df
        from ocr_spark.plans.session import build_session

        work = tempfile.mkdtemp(prefix="abwaves_")
        corpus = os.path.join(work, "corpus")
        spark = build_session(master="local[8]", app_name="abwaves_stage")
        spark.sparkContext.setLogLevel("ERROR")
        corpus_df(spark, args.docs, partitions=64).write.parquet(corpus)
        spark.stop()

    out = tempfile.mkdtemp(prefix="abwaves_out_")

    # arm -> run_once kwargs
    arms: dict[str, dict] = {
        "default_64": {},
        "buckets_128": {"buckets": 128},
        "buckets_256": {"buckets": 256},
        "single_scan_exact": {"media_stats": (2.5, 8.0)},
        "single_scan_128": {"media_stats": (2.5, 8.0), "buckets": 128},
    }
    walls: dict[str, list[float]] = {a: [] for a in arms}
    for rep in range(args.reps):
        for name, kw in arms.items():
            r = run_once(corpus, os.path.join(out, name), args.cpus, **kw)
            walls[name].append(r["wall_s"])
            print(
                f"rep {rep + 1}/{args.reps} {name}: {r['wall_s']:.1f}s "
                f"loadavg={tuple(round(x, 1) for x in os.getloadavg())}",
                flush=True,
            )
    print(
        json.dumps(
            {
                name: {
                    "walls": [round(w, 2) for w in ws],
                    "median": round(statistics.median(ws), 2),
                }
                for name, ws in walls.items()
            }
        )
    )


if __name__ == "__main__":
    main()
