"""Benchmark harness — prints ONE JSON line.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]:

- the flagship interleaved-document extraction (documents/sec is the
  BASELINE.json metric; the corpus is the deterministic synthetic
  interleaved table derived from the sf documents row count),
- a representative slice of the relational operator inventory.

Usage:  python bench.py            # one line of JSON on stdout
Env:    SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, OCR_BENCH_QUERIES (csv)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_QUERIES = [
    "ocr_extract_spans",
    "ocr_extract_text_spans",
    "clean_text",
    "arith_verdict_udf",
    "minhash_signature",
    "minhash_banded_pairs",
    "simhash_hamming_pairs",
    "dedup_corpus",
    "dedup_against_corpus",
    "contamination_check",
    "decontaminated_corpus",
    "line_dedup_stats",
    "dup_gram_stats",
    "stratified_sample",
    "corpus_pipeline",
    "seq_pack_plan",
    "corpus_pack_plan",
    "bpe_pair_counts",
    "bpe_pack_plan",
    "domain_mix_weights",
    "apply_domain_mix",
    "corpus_report",
    "dsir_weights",
    "bigram_lm_scores",
    "stopword_fraction",
    "straddle_prune",
    "eval_metrics",
    "knn_cosine_topk",
    "knn_cosine_ivf",
    "cluster_balanced_sample",
    "semdedup_corpus",
    "media_catalog",
    "mutual_nearest_pair",
    "sessionize",
    "moving_avg",
    "bucketed_order_revenue",
    "pricing_summary",
    "top_revenue_orders",
    "local_supplier_volume",
]


def _worker_blas_core(_) -> str | None:
    from ocr_spark.blaskernel import corename

    return corename()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", 32))
    names = os.environ.get("OCR_BENCH_QUERIES", ",".join(DEFAULT_QUERIES)).split(",")

    # one BLAS thread in the driver too, set before numpy first loads:
    # the host normaliser below is then the single-thread kernel
    # ceiling that perfbench measures
    from ocr_spark.blaskernel import pin_threads

    pin_threads()

    import __spark_entry__ as entry
    from ocr_spark.plans.session import build_session

    spark = build_session(master=f"local[{cpus}]", app_name="ocr_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    timings: dict[str, float] = {}
    extract_rows = 0
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    # warm up the JVM and the python workers (imports/Arrow/JIT are
    # per-executor one-time constants, not throughput terms)
    spark.range(1000).selectExpr("sum(id)").collect()

    # stage the corpus once (untimed) — BASELINE.md measures the
    # read -> extract -> write job, not corpus synthesis
    import shutil
    import tempfile

    from ocr_spark.plans.extract import corpus_df, extract

    workdir = tempfile.mkdtemp(prefix="ocr_bench_")
    corpus_path = os.path.join(workdir, "corpus")
    out_path = os.path.join(workdir, "extracted")
    corpus_df(spark, n_docs).write.mode("overwrite").parquet(corpus_path)
    staged = spark.read.parquet(corpus_path)
    extract(staged.limit(128)).write.mode("overwrite").parquet(out_path + "_warm")

    def sweep_persisted() -> None:
        # free blocks a query left behind (localCheckpoint-ed sketch
        # relations, CC label rounds): each bench query is independent,
        # and retained blocks from one query pressuring the next is
        # measurement noise, not workload
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jrdd in list(jmap.values()):
            jrdd.unpersist(False)

    # the OpenBLAS kernel set behind each recorded number (see
    # ocr_spark/blaskernel.py): the driver's and one Python worker's
    from ocr_spark.blaskernel import corename

    blas_core = {
        "driver": corename(),
        "worker": spark.sparkContext.parallelize([0], 1).map(_worker_blas_core).first(),
    }
    # host normaliser, measured in the same window: crops/s of the
    # single-process OCR chain over a fixed input (perfbench/kernel.py)
    from ocr_spark.sources.weights import default_weights
    from perfbench.kernel import ceiling, ceiling_refs

    ceiling_crops_per_s = ceiling(ceiling_refs(), default_weights())[0]
    loadavg_start = os.getloadavg()
    for name in names:
        t0 = time.time()
        if name == "ocr_extract_spans":
            extract(staged).write.mode("overwrite").parquet(out_path)
            timings[name] = round(time.time() - t0, 3)
            extract_rows = spark.read.parquet(out_path).count()  # untimed
            continue
        qs[name](spark, sf_dir).count()
        timings[name] = round(time.time() - t0, 3)
        sweep_persisted()
    loadavg_end = os.getloadavg()
    shutil.rmtree(workdir, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    docs_per_sec = round(n_docs / timings["ocr_extract_spans"], 2) if "ocr_extract_spans" in timings else None
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
                "docs_per_sec": docs_per_sec,
                "n_docs": n_docs,
                "extract_rows": extract_rows,
                "cpus": cpus,
                # co-tenant box telemetry: 1/5/15-min loadavg at suite
                # start and end — a run taken under contention is
                # self-describing (see BENCH/BASELINE.md protocol)
                "loadavg_start": [round(x, 2) for x in loadavg_start],
                "blas_core": blas_core,
                "ceiling_crops_per_s": round(ceiling_crops_per_s, 1),
                "docs_per_sec_per_ceiling": (
                    round(docs_per_sec / ceiling_crops_per_s, 6) if docs_per_sec else None
                ),
                "loadavg_end": [round(x, 2) for x in loadavg_end],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
