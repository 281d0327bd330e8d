"""Physical-plan audit: dump .explain('formatted') for the operator
inventory and assert the plan properties the 100 TB design depends on
(docs/SCALE.md). Writes docs/PLANS.md.

Checks:
- parquet scans carry PushedFilters / pruned ReadSchema where expected;
- small dims enter joins as BroadcastHashJoin (never as the build side
  of a SortMergeJoin);
- relational shells run inside WholeStageCodegen;
- the extraction plan runs the Arrow kernel (MapInArrow), and with a
  known media bound under the heavy threshold it scans its source once.

Usage: python tools/explain_audit.py [--sf-dir /root/testdata/sf0.01]
Exits non-zero if any REQUIRE fails.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# (query name, [required substrings], [forbidden substrings])
AUDITS: list[tuple[str, list[str], list[str]]] = [
    ("pricing_summary", ["PushedFilters: [IsNotNull(l_shipdate)", "partial_sum"], []),
    ("top_revenue_orders", ["BroadcastHashJoin", "TakeOrderedAndProject"], []),
    ("local_supplier_volume", ["BroadcastHashJoin"], []),
    ("order_priority_counts", ["LeftSemi", "EqualTo(l_returnflag,R)"], []),
    ("token_count", ["ReadSchema: struct<doc_id:bigint,text:string,n_chars:bigint>"], []),
    ("dedup_exact", ["partial_count"], []),
    ("minhash_signature", ["codegen id :"], ["BatchEvalPython", "ArrowEvalPython"]),
    ("simhash_fingerprint", ["codegen id :"], ["BatchEvalPython", "ArrowEvalPython"]),
    ("knn_cosine_topk", ["BroadcastNestedLoopJoin"], ["ArrowEvalPython", "BatchEvalPython"]),
    ("knn_cosine_ivf", ["BroadcastHashJoin"], ["CartesianProduct"]),
    ("media_catalog", ["codegen id :"], ["BatchEvalPython", "ArrowEvalPython"]),
    ("moving_avg", ["Window"], ["Exchange rangepartitioning"]),
    ("mutual_nearest_pair", ["Window"], ["CartesianProduct"]),
    ("ocr_extract_spans", ["MapInArrow"], ["CartesianProduct", "BatchEvalPython"]),
    # text-path content gate: one scan -> span construction (codegen) ->
    # the real extraction kernel; max_media=0 drops the heavy branch and
    # the salt, so the whole plan is shuffle-free
    ("ocr_extract_text_spans", ["MapInArrow"],
     ["Exchange", "CartesianProduct", "BatchEvalPython"]),
    # the (band, key) self-join may legitimately be a broadcast at small
    # SF and a shuffled equi-join at scale; the contract is only that it
    # is never nested-loop/cartesian and never drops to Python
    ("minhash_banded_pairs", ["HashAggregate"],
     ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
      "BroadcastNestedLoopJoin"]),
    ("simhash_hamming_pairs", ["partial_sum"],
     ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"]),
    ("eval_iou_pairs", ["Window"], ["CartesianProduct", "BatchEvalPython"]),
    ("eval_metrics", ["partial_sum"], ["CartesianProduct", "BatchEvalPython"]),
    ("ocr_media_decode_stats", ["MapInPandas"], ["CartesianProduct"]),
    ("ocr_media_frame_sample", ["BroadcastHashJoin", "MapInPandas"],
     ["CartesianProduct"]),
    # F12 prune: equi anti-join on doc_id with the straddle test as a
    # residual predicate — must stay a hash join, never nested-loop,
    # and the integer geometry never drops to Python
    ("straddle_prune", ["LeftAnti"],
     ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
      "ArrowEvalPython"]),
    ("stopword_fraction", ["codegen id :"],
     ["BatchEvalPython", "ArrowEvalPython"]),
    ("repetition_ratio", ["codegen id :"],
     ["BatchEvalPython", "ArrowEvalPython"]),
    # Lloyd-refined codebook still enters the assignment as a broadcast:
    # vectors x all-centroids has no equi key by design (max_by reduces
    # it), so the contract is broadcast nested-loop against the KB-sized
    # checkpointed codebook — never a shuffled cartesian of the corpus
    ("ivf_kmeans_assign", ["BroadcastNestedLoopJoin"], ["CartesianProduct"]),
    # F15 Spark twin: a pure posexplode (Generate) shell, all codegen
    ("sparse_label_encode", ["Generate", "codegen id :"],
     ["BatchEvalPython", "ArrowEvalPython"]),
    # the full dedup funnel's final materialization: corpus minus drop
    # list must stay an equi anti-join; none of the LSH/CC machinery
    # upstream may go nested-loop or drop to Python
    ("dedup_corpus", ["LeftAnti"],
     ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
      "ArrowEvalPython"]),
    # lag + cumulative flag: one hash-partitioned window, map-side
    # partial agg on the session counts
    ("sessionize", ["Window", "partial_sum"],
     ["BatchEvalPython", "ArrowEvalPython"]),
    # the per-type bands dim is 5 rows — must broadcast, never shuffle
    # the fact side into a sort-merge join
    ("value_band_join", ["BroadcastHashJoin"],
     ["SortMergeJoin", "CartesianProduct"]),
    # U1 residue at table level: anti-join on the pair keys
    ("unmatched_events", ["LeftAnti"],
     ["CartesianProduct", "BroadcastNestedLoopJoin"]),
    # exact percentile is an ObjectHashAggregate (sort-based typed agg
    # buffers); one shuffle on the 5-value type key
    ("value_percentiles", ["ObjectHashAggregate"],
     ["BatchEvalPython", "ArrowEvalPython"]),
    # IVF-cell-blocked self-join: equi on cell_id with the cosine
    # threshold as a residual predicate. The upstream centroid
    # assignment legitimately broadcasts the KB-sized codebook as a
    # nested-loop (see ivf_kmeans_assign), so the only hard contracts
    # are no cartesian corpus^2 and no Python fallback.
    ("embedding_near_dup", [],
     ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # SemDeDup materialization: survivors = corpus minus drop list via
    # an equi anti-join (the dedup_corpus contract over embeddings);
    # the CC rounds upstream are already materialized localCheckpoints,
    # so the final plan must stay anti-join + checkpoint scan
    ("semdedup_corpus", ["LeftAnti"],
     ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # temperature mixing: corpus collapses via map-side partial sums;
    # the single-row totals ride broadcast nested-loops by design (the
    # accepted two-tiny-aggregates pattern), so only a true cartesian
    # or a Python fallback is forbidden
    ("domain_mix_weights", ["partial_sum"],
     ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # bigram LM: both model relations are map-side partial counts; the
    # vocab total is a broadcast single row; scoring joins stay equi
    ("bigram_lm_scores", ["partial_count"],
     ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # DSIR: both bucket distributions collapse via map-side partial
    # counts to <= 4096 rows; the log-ratio table joins back onto the
    # feature stream as an explicit broadcast hash join (a sort-merge
    # there would shuffle every feature occurrence — REQUIREd; the
    # final docs->scored left join is corpus x corpus on doc_id, where
    # a sort-merge IS the right plan at scale, so SMJ is not globally
    # forbidden); the two totals are broadcast single rows (the
    # accepted two-tiny-aggregates pattern)
    ("dsir_weights", ["partial_count", "BroadcastHashJoin"],
     ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # the selection face adds only a projection (deterministic gumbel
    # draw + threshold) over the scored relation — same join/aggregate
    # contract as the scoring face, nothing new may appear
    ("dsir_resample", ["partial_count", "BroadcastHashJoin"],
     ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # cluster-balanced selection: broadcast-codebook assignment with a
    # map-side max_by argmax, then the topk_per_group window shape —
    # the corpus never meets the codebook in a nested loop and no
    # Python rows anywhere
    ("cluster_balanced_sample", ["partial_max_by", "Window"],
     ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # incremental cross-corpus dedup: both membership checks are LEFT
    # SEMI equi-joins over sketch relations (md5 fingerprints / band
    # keys — text never crosses an exchange) and the drop lands as one
    # LeftAnti against the new batch
    ("dedup_against_corpus", ["LeftSemi", "LeftAnti"],
     ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
      "ArrowEvalPython"]),
    # one-row datasheet: map-side partial totals + the md5-key dup
    # subaggregate; the two single-row sides meet in the accepted
    # broadcast single-row cross (never a true cartesian over data)
    ("corpus_report", ["partial_count"],
     ["BatchEvalPython", "ArrowEvalPython"]),
    # mix execution: the #sources-row rate relation joins back as an
    # explicit broadcast; the corpus side is filter-after-join at
    # scan speed — never a sort-merge on the corpus
    ("apply_domain_mix", ["BroadcastHashJoin"],
     ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
      "ArrowEvalPython"]),
    # decontamination executed: the gram pass inherits
    # contamination_check's broadcast contract; the drop lands as one
    # LeftAnti against the (tiny) hit relation
    ("decontaminated_corpus", ["BroadcastHashJoin", "LeftAnti"],
     ["CartesianProduct", "BatchEvalPython", "ArrowEvalPython"]),
    # decontamination: bench gram set broadcasts (eval suites are MBs
    # vs a PB corpus); corpus grams must meet it in a broadcast hash
    # join — a sort-merge here would shuffle EVERY corpus 13-gram
    ("contamination_check", ["BroadcastHashJoin", "partial_count"],
     ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
      "ArrowEvalPython"]),
    # C4-style line-level dedup: the keeper reduction must be a
    # map-side partial min on the 16-byte line key (NOT a window sort
    # over the full boilerplate group); the kept-flag join-back stays
    # an equi hash join (AQE splits the boilerplate probe skew)
    ("line_dedup_stats", ["partial_min"],
     ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
      "ArrowEvalPython"]),
    # deterministic training-mix sampling is a pure filter over the
    # scan — the plan must carry NO exchange of any kind
    ("stratified_sample", ["codegen id :"],
     ["Exchange", "BatchEvalPython", "ArrowEvalPython"]),
    # Lee-et-al duplicated-n-gram signal: gram doc-frequency must be a
    # map-side partial count on the 16-hex gram key (the exchange
    # carries keys, never text); the count join-back equi, never
    # nested-loop
    ("dup_gram_stats", ["partial_count"],
     ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
      "ArrowEvalPython"]),
    # the composed corpus build: quality gate must stay a scan-level
    # filter (no pre-shuffle), both keeper reductions map-side partial,
    # all joins equi — the whole pipeline never nested-loops and never
    # drops to Python
    ("corpus_pipeline", ["partial_min"],
     ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
      "ArrowEvalPython"]),
    # tokenize-and-pack placement: the global token prefix sum must be
    # the two-phase scan — a block-partitioned window (partial_sum
    # feeds the per-block totals map-side; the only full-corpus
    # exchange hashes on blk) plus a broadcast join-back of the tiny
    # block-offset relation. A sort-merge join-back would re-shuffle
    # the corpus; a single global orderBy window would sort it on one
    # reducer — both forbidden.
    ("seq_pack_plan", ["BroadcastHashJoin", "partial_sum"],
     ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
      "ArrowEvalPython"]),
    # deterministic training shuffle: same contracts as seq_pack_plan
    # (rank within md5-prefix blocks; per-block counts map-side
    # partial; broadcast offset join-back — never a global sort's
    # single-reducer rank, never a corpus re-shuffle)
    ("training_shuffle", ["BroadcastHashJoin", "partial_count"],
     ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
      "ArrowEvalPython"]),
    # segment manifest: the explode rides the seq_pack_plan plan — same
    # contracts, and the generator must stay expression-level
    ("seq_pack_segments", ["BroadcastHashJoin", "Generate"],
     ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
      "ArrowEvalPython"]),
    # the composed build->pack flagship: pipeline keeper reductions
    # stay map-side partial, the pack offsets join-back broadcasts;
    # the pipeline's own equi joins may legitimately sort-merge, so
    # only the hard contracts are pinned
    ("corpus_pack_plan", ["BroadcastHashJoin", "partial_min"],
     ["CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython",
      "ArrowEvalPython"]),
    # tokenize-and-pack: same prefix-scan contracts as seq_pack_plan
    # (block-window cumsum + broadcast offset join-back, never a
    # single-reducer global sort); the default DEMO_MERGES table rides
    # the codegen fold engine, so no Python rows either
    ("bpe_pack_plan", ["BroadcastHashJoin", "partial_sum"],
     ["SortMergeJoin", "CartesianProduct", "BatchEvalPython",
      "ArrowEvalPython"]),
    # BPE pair statistics: both aggregates (word counts, pair counts)
    # must be map-side partial — the exchanges carry distinct words /
    # distinct pairs, never documents — and the top-k listing must be
    # a TakeOrderedAndProject, never a global sort
    ("bpe_pair_counts", ["partial_count", "partial_sum",
                         "TakeOrderedAndProject"],
     ["BatchEvalPython", "ArrowEvalPython", "CartesianProduct"]),
    # PII count-and-mask scrub: a pure projection over the scan — the
    # plan must carry no exchange and never drop to Python (the regex
    # chain is JVM-side regexp_count/regexp_replace)
    ("pii_scrub", ["codegen id :"],
     ["Exchange", "BatchEvalPython", "ArrowEvalPython"]),
    # bucketed layout (plans/bucketed.py): both scans carry the bucket
    # partitioning, so the orderkey join AND the key-grouped aggregate
    # run with ZERO exchanges — the write paid the shuffle once. The
    # merge hint pins the join form at gate SF (the optimizer would
    # otherwise broadcast the small side and leave the zero-exchange
    # property unexercised).
    ("bucketed_order_revenue", ["SortMergeJoin"], ["Exchange"]),
]


def _stable(plan: str, app_id: str) -> str:
    """``plan`` as docs/PLANS.md shows it: expression ids (``doc_id#448``),
    ``plan_id``s and the application id (in the bucketed staging tables'
    names), which change from run to run, become placeholders, so a
    regenerated file differs only where a plan did."""
    plan = plan.replace(app_id.replace("-", "_"), "APP")
    return re.sub(r"plan_id=\d+", "plan_id=N", re.sub(r"#\d+", "#N", plan))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    import __spark_entry__ as entry
    from ocr_spark.plans.session import build_session

    spark = build_session(master="local[4]", app_name="explain_audit")
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    qs = entry.queries()

    failures: list[str] = []
    sections: list[str] = []
    for name, required, forbidden in AUDITS:
        df = qs[name](spark, args.sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        status = []
        for r in required:
            ok = r in plan
            status.append(f"  REQUIRE {'OK ' if ok else 'FAIL'}: {r}")
            if not ok:
                failures.append(f"{name}: missing {r!r}")
        for f in forbidden:
            ok = f not in plan
            status.append(f"  FORBID  {'OK ' if ok else 'FAIL'}: {f}")
            if not ok:
                failures.append(f"{name}: contains forbidden {f!r}")
        sections.append(
            f"## {name}\n\n" + "\n".join(status) + "\n\n```\n" + _stable(plan, app_id).strip() + "\n```\n"
        )
        print(name, "OK" if not any("FAIL" in s for s in status) else "FAIL", flush=True)

    # single-scan contract: with a known media bound under the heavy
    # threshold (e.g. from table metadata), the extraction plan
    # contains exactly ONE source scan — no second branch scan
    from ocr_spark.plans.extract import corpus_df, extract

    benign = extract(corpus_df(spark, 64), max_media=8)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        benign.explain("formatted")
    plan = buf.getvalue()

    # count plan-tree scan NODES only ("* Range (1)"), not the details
    # section's "Arguments: Range (0, 64, ...)" echo
    n_scans = len(re.findall(r"Range \(\d+\)\s*$", plan, flags=re.M))
    status = [f"  REQUIRE {'OK ' if n_scans == 1 else 'FAIL'}: exactly one source scan (found {n_scans})"]
    if n_scans != 1:
        failures.append(f"extract_single_scan: {n_scans} scans in max_media-bounded plan")
    sections.append(
        "## extract (max_media=8, benign batch) — single-scan contract\n\n"
        + "\n".join(status) + "\n\n```\n" + _stable(plan, app_id).strip() + "\n```\n"
    )
    print("extract_single_scan", "OK" if n_scans == 1 else "FAIL", flush=True)

    header = (
        "# PLANS — audited physical plans\n\n"
        "Generated by `python tools/explain_audit.py` at sf-dir "
        f"`{args.sf_dir}`. Each section lists the REQUIRE/FORBID plan\n"
        "properties (the scale contracts from docs/SCALE.md) and the\n"
        "full formatted plan.\n\n"
    )
    with open(os.path.join(REPO, "docs", "PLANS.md"), "w") as f:
        f.write(header + "\n".join(sections))

    if failures:
        print("\nFAILURES:")
        for x in failures:
            print(" -", x)
        sys.exit(1)
    print(f"\nall {len(AUDITS)} plans OK -> docs/PLANS.md")


if __name__ == "__main__":
    main()
