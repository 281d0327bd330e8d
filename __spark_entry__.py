"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship interleaved-document extraction at
sf0.001. ``queries``/``oracle_sql`` cover the operator inventory from
SURVEY.md §2: extraction-chain queries (the OCR chain is
non-SQL-expressible — its strong gate is the frozen-fixture pytest
suite, tests/test_spark_extract.py, plus the oracle-checked
``ocr_extract_invariants`` structural row and, since r5, the
``ocr_extract_text_spans`` CONTENT row that replays the kernel's text
path in SQL) plus DuckDB-checked relational operators.

Float discipline for oracle-checked queries: money/metric sums are
decimal-cast before aggregation (exact, order-independent) and cast to
double at the end; similarity scores are rounded before ranking with
id tie-breaks — so Spark and DuckDB cannot disagree on summation order
or boundary rounding.

GATE WINDOW: the driver's correctness gate checks only the FIRST 50
entries of ``QUERIES`` (insertion order). Keep every family's
production-shaped queries above the "beyond the gate window" marker;
tests/test_oracle_parity.py::test_gate_window_covers_every_family
enforces the membership.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ocr_spark.functions import sparse
from ocr_spark.functions.text_clean import TRANSLATE_MATCHING, TRANSLATE_REPLACE
from ocr_spark.operators import (
    corpus,
    dedup,
    evaluate,
    geometry,
    multimodal,
    pairing,
    similarity,
    textstats,
    tokenizer,
    tpch,
)
from ocr_spark.plans.extract import corpus_df, extract, extract_invariants


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    n_docs = _t(spark, "/root/testdata/sf0.001", "documents").count()
    return extract(corpus_df(spark, n_docs))


# --- extraction family (fixture-gated; no SQL oracle) -----------------------

def _q_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_docs = _t(spark, sf_dir, "documents").count()
    return extract(corpus_df(spark, n_docs))


def _q_extract_heavy_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same job forced through the span-exploded skew path."""
    n_docs = min(_t(spark, sf_dir, "documents").count(), 1000)
    return extract(corpus_df(spark, n_docs), heavy_threshold=0)


def _q_extract_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural invariants of the REAL extraction output — the
    oracle-checkable face of the fixture-gated family (the oracle pins
    every violation counter to 0, the input-doc count to
    count(documents), and unaccounted_docs — expected-surviving minus
    observed output docs, both computed, no literals — to 0)."""
    n_docs = _t(spark, sf_dir, "documents").count()
    corpus = corpus_df(spark, n_docs)
    return extract_invariants(extract(corpus), corpus)


_TEXT_DIRTY_SUFFIX = "１＋２＝３＝４"  # normalize + double-'=' repair path
_TEXT_CJK_SUFFIX = "口算练习"  # CJK boilerplate-drop path (none in CHAR_MAP)


def _q_extract_text_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-level driver oracle for the TEXT half of extraction.

    The OCR chain is not SQL-replayable, but the text-span path — F1
    normalization (reference inference2.py:13-53), double-'=' repair
    (inference.py:145-155), P2 CJK boilerplate drop
    (layout_utils.py:17-27) and the within-document order reassembly —
    is. This query runs the REAL kernel (extract() -> mapInArrow ->
    clean_text_spans) over a text-only spans corpus derived from the
    documents table, with all three text outcomes deterministically
    exercised per document: span 0 hits normalize+repair (fullwidth
    suffix with two '='), span 1 is dropped on every 3rd doc (CJK
    suffix), span 2 cleans to '' on every 5th doc (delete-only chars).
    DuckDB replays the same chain in SQL — so the driver now checks
    the text path's CONTENT, not just the invariants row, shrinking
    the fixture-only surface to the genuinely non-SQL OCR chain."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    docs = _t(spark, sf_dir, "documents")

    def span(off: int, txt):
        return F.struct(
            F.lit("text").alias("kind"),
            txt.alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    s1 = F.concat(F.substring("text", 1, 40), F.lit(_TEXT_DIRTY_SUFFIX))
    s2 = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.substring("text", 41, 40), F.lit(_TEXT_CJK_SUFFIX)),
    ).otherwise(F.substring("text", 41, 40))
    s3 = F.when(F.col("doc_id") % 5 == 0, F.lit(" /_")).otherwise(
        F.substring("text", 81, 40)
    )
    corpus = docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(span(0, s1), span(10, s2), span(20, s3)).alias("spans"),
    )
    # text-only corpus: max_media=0 drops the heavy branch and, with no
    # OCR work to spread, the light-path salt -> one shuffle-free scan
    out = extract(corpus, max_media=0)
    return out.select("doc_id", F.col("order").alias("ord"), "text")


# --- relational family (DuckDB-checked) -------------------------------------

# web-scale boilerplate simulation: every 20th document collapses to
# one template text, forming the LSH mega-bucket that
# `banded_pairs_bucket_cap` proves the max_bucket guard drops (its
# members are exact duplicates, caught by the cheaper md5 pass)
_BOILERPLATE = (
    "lorem ipsum boilerplate navigation footer copyright terms "
    "privacy contact about home sitemap login register search"
)


def _boilerplate_docs(docs: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F  # noqa: PLC0415

    return docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 20 == 0, F.lit(_BOILERPLATE)).otherwise(
            F.col("text")
        ),
    )


def _pii_docs(docs: DataFrame) -> DataFrame:
    """Inject deterministic PII into the (PII-free) synthetic corpus so
    the scrub operator has real matches to find: an email on every 2nd
    doc, an IPv4 on every 3rd, a dashed international phone on every
    5th — all derived from doc_id, so the DuckDB oracle replays the
    same injection character-for-character."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    d = F.col("doc_id")

    def s(c):
        return c.cast("string")

    email = F.concat(
        F.lit(" user"), s(d), F.lit("@ex"), s(d % 7), F.lit(".com")
    )
    ip = F.concat(
        F.lit(" 10."), s(d % 200), F.lit("."), s((d * 7) % 250),
        F.lit("."), s(d % 100),
    )
    phone = F.concat(
        F.lit(" +86-138-"), F.lpad(s(d % 10000), 4, "0")
    )
    text = F.concat(
        F.col("text"),
        F.when(d % 2 == 0, email).otherwise(F.lit("")),
        F.when(d % 3 == 0, ip).otherwise(F.lit("")),
        F.when(d % 5 == 0, phone).otherwise(F.lit("")),
    )
    return docs.select("doc_id", text.alias("text"))


_BUCKET_STAGING_DIRS: set[str] = set()


def _q_bucketed_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order revenue over the BUCKETED layout (plans/bucketed.py):
    orders and lineitem are first materialized as parquet tables
    hash-bucketed on orderkey, so the join and the key-grouped
    aggregate both run with ZERO exchanges (REQUIRE SortMergeJoin /
    FORBID Exchange in docs/PLANS.md) — the production plan of record
    for repeated equi-joins at 100 TB. Values must equal the plain
    shuffled-join oracle exactly.

    Table names and the staging path carry a per-session token (the
    Spark application id) so concurrent sessions sharing a warehouse
    cannot clobber each other mid-query; repeated calls within one
    session overwrite the same path (no /tmp accumulation), and the
    staging dir is removed at interpreter exit."""
    import atexit  # noqa: PLC0415
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from ocr_spark.plans import bucketed  # noqa: PLC0415

    token = spark.sparkContext.applicationId.replace("-", "_")
    tmp = os.path.join(tempfile.gettempdir(), f"ocr_buckets_{token}")
    if tmp not in _BUCKET_STAGING_DIRS:
        _BUCKET_STAGING_DIRS.add(tmp)
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    orders_b = bucketed.write_bucketed(
        _t(spark, sf_dir, "orders"), f"ocr_orders_bucketed_{token}",
        f"{tmp}/orders", 8, "o_orderkey",
    )
    lineitem_b = bucketed.write_bucketed(
        _t(spark, sf_dir, "lineitem"), f"ocr_lineitem_bucketed_{token}",
        f"{tmp}/lineitem", 8, "l_orderkey",
    )
    return bucketed.revenue_per_order_bucketed(orders_b, lineitem_b)


# GATE WINDOW: the driver's correctness gate checks only the FIRST 50
# entries of this dict (in insertion order). Every operator family's
# production-shaped queries MUST sit above the "beyond the gate window"
# marker below; demo/component variants (whose production twins are
# gated) live after it. tests/test_oracle_parity.py asserts the window
# membership so a future insertion can't silently push a family out.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "ocr_extract_spans": _q_extract,
    "ocr_extract_invariants": _q_extract_invariants,
    "ocr_extract_text_spans": _q_extract_text_spans,
    "clean_text": lambda s, d: textstats.clean_documents(_t(s, d, "documents")),
    "cjk_boilerplate_filter": lambda s, d: textstats.cjk_filter_counts(_t(s, d, "documents")),
    # r5 addition: deterministic md5-coin stratified sampling — a NEW
    # family (training-mix construction, zero-shuffle), gated from day
    # one; token_count rotates below (token-counting family stays
    # gated via bpe_token_count, which emits the whitespace count too)
    "stratified_sample": lambda s, d: corpus.stratified_sample(
        _t(s, d, "documents")
    ),
    "bpe_token_count": lambda s, d: textstats.bpe_token_counts(_t(s, d, "documents")),
    "rolling_fingerprint": lambda s, d: textstats.rolling_fingerprints(
        _t(s, d, "documents")
    ),
    # end-of-r5 rotation: bigram_lm_scores (CCNet-style LM quality —
    # a corpus-trained model face no other window row exercises) takes
    # quality_score's slot; quality_score (a single consonant-ratio
    # expression, the weakest quality face) keeps local parity below,
    # and the Gopher family stays gated via stopword_fraction +
    # repetition_ratio
    "bigram_lm_scores": lambda s, d: textstats.bigram_lm_scores(
        _t(s, d, "documents")
    ),
    "stopword_fraction": lambda s, d: textstats.stopword_fractions(
        _t(s, d, "documents")
    ),
    "repetition_ratio": lambda s, d: textstats.repetition_ratios(
        _t(s, d, "documents")
    ),
    "lang_id": lambda s, d: textstats.lang_id(_t(s, d, "documents")),
    # r5 addition: C4/RefinedWeb-style line-level exact dedup — a NEW
    # family (corpus construction), gated from day one; doc_fingerprint
    # rotates below (fingerprint family stays gated via
    # rolling_fingerprint + char_vocab)
    "line_dedup_stats": lambda s, d: corpus.line_dedup_stats(
        _t(s, d, "documents")
    ),
    "char_vocab": lambda s, d: textstats.char_vocab(_t(s, d, "documents")),
    "length_histogram": lambda s, d: textstats.length_histogram(_t(s, d, "documents")),
    "edit_distance": lambda s, d: textstats.edit_distances(_t(s, d, "documents")),
    "arith_verdict_udf": lambda s, d: textstats.arith_verdicts(_t(s, d, "documents")),
    "dedup_exact": lambda s, d: dedup.exact_dup_groups(_t(s, d, "documents")),
    "minhash_banded_pairs": lambda s, d: dedup.minhash_banded_pairs(
        _t(s, d, "documents")
    ),
    "minhash_banded_recall": lambda s, d: dedup.minhash_banded_recall(
        _t(s, d, "documents")
    ),
    "simhash_hamming_pairs": lambda s, d: dedup.simhash_hamming_pairs(
        _t(s, d, "documents")
    ),
    "dedup_corpus": lambda s, d: dedup.dedupped_corpus(
        _t(s, d, "documents")
    ).select("doc_id", "source", "n_chars"),
    # r5 rotation: banded_pairs_bucket_cap back above the line (the
    # max_bucket mega-bucket guard re-armed with a driver row);
    # contamination_check and dup_clusters_banded rotate below (their
    # families stay gated via dedup_corpus + minhash_banded_*)
    "banded_pairs_bucket_cap": lambda s, d: dedup.minhash_banded_pairs(
        _boilerplate_docs(_t(s, d, "documents")), max_bucket=20
    ),
    "jaccard_banded_pairs": lambda s, d: dedup.jaccard_banded_pairs(
        _t(s, d, "documents")
    ),
    # closing-r5 rotation: dsir_weights (DSIR importance-weighted data
    # selection, Xie et al. 2023 — a NEW family face: hashed-feature
    # target/raw distribution-ratio scoring) gets its first driver
    # row; knn_cosine_topk (the exact-kNN yardstick, driver-gated
    # r1-r4) rotates below — the similarity family keeps four gated
    # rows (knn_cosine_ivf, embedding_near_dup, knn_cosine_ivf_probe2,
    # ivf_kmeans_recall)
    "dsir_weights": lambda s, d: corpus.dsir_weights(
        _t(s, d, "documents"),
        corpus.dsir_target_split(_t(s, d, "documents")),
    ),
    "knn_cosine_ivf": lambda s, d: similarity.knn_cosine_ivf(_t(s, d, "embeddings")),
    "embedding_near_dup": lambda s, d: similarity.embedding_near_dup_pairs(
        _t(s, d, "embeddings")
    ),
    # r5 rotation: the nprobe=2 IVF variant gets its first driver row;
    # plain ivf_recall rotates below (the recall gate stays in the
    # window via ivf_kmeans_recall, which runs the same gate over the
    # Lloyd-refined codebook)
    "knn_cosine_ivf_probe2": lambda s, d: similarity.knn_cosine_ivf_nprobe(
        _t(s, d, "embeddings")
    ),
    "ivf_kmeans_recall": lambda s, d: similarity.ivf_recall(
        _t(s, d, "embeddings"),
        codebook=similarity.kmeans_codebook(_t(s, d, "embeddings")),
    ),
    "media_catalog": lambda s, d: multimodal.media_catalog(
        multimodal.refs_from_doc_table(_t(s, d, "documents"))
    ),
    "ocr_media_decode_stats": lambda s, d: multimodal.decode_stats(
        multimodal.corpus_style_refs(_t(s, d, "documents"))
    ),
    "ocr_media_frame_sample": lambda s, d: multimodal.sampled_frames(
        multimodal.corpus_style_refs(_t(s, d, "documents"))
    ),
    "eval_iou_pairs": lambda s, d: evaluate.eval_iou_pairs(_t(s, d, "documents")),
    "eval_metrics": lambda s, d: evaluate.eval_metrics(_t(s, d, "documents")),
    "straddle_prune": lambda s, d: geometry.prune_crossing_links(
        geometry.synthetic_links(_t(s, d, "documents")),
        evaluate.gold_boxes(_t(s, d, "documents")).select(
            "doc_id", "left", "top", "right", "bottom"
        ),
    ),
    "mutual_nearest_pair": lambda s, d: pairing.mutual_nearest_events(_t(s, d, "events")),
    "topk_per_group": lambda s, d: pairing.topk_per_type(_t(s, d, "events")),
    "value_band_join": lambda s, d: pairing.value_bands(_t(s, d, "events")),
    "sessionize": lambda s, d: pairing.sessionize(_t(s, d, "events")),
    "pricing_summary": lambda s, d: tpch.pricing_summary(_t(s, d, "lineitem")),
    "top_revenue_orders": lambda s, d: tpch.top_revenue_orders(
        _t(s, d, "customer"), _t(s, d, "orders"), _t(s, d, "lineitem")
    ),
    "event_rollup": lambda s, d: tpch.event_rollup(_t(s, d, "events")),
    "local_supplier_volume": lambda s, d: tpch.local_supplier_volume(
        _t(s, d, "region"), _t(s, d, "nation"), _t(s, d, "customer"),
        _t(s, d, "supplier"), _t(s, d, "orders"), _t(s, d, "lineitem"),
    ),
    # late-r5 rotation: first driver row for the new tokenizer family —
    # round 1 of distributed BPE training: word-frequency-weighted
    # adjacent character-pair statistics with a deterministic top-k
    # listing; the iterative trainer (tokenizer.bpe_train_merges) and
    # segmenter (bpe_apply_merges) are library surface gated by
    # tests/test_tokenizer.py against a sequential reference.
    # order_priority_counts rotated below the line to make room (the
    # TPC-H family keeps four gated rows).
    "bpe_pair_counts": lambda s, d: tokenizer.bpe_pair_counts(
        _t(s, d, "documents")
    ),
    "bucketed_order_revenue": _q_bucketed_order_revenue,
    "moving_avg": lambda s, d: pairing.moving_avg(_t(s, d, "events")),
    "unmatched_events": lambda s, d: pairing.unmatched_events(_t(s, d, "events")),
    # r5 rotation: value_percentiles rotates below — its exact values
    # stay gated through approx_percentile_check, which computes and
    # emits them alongside the sketch budget verdict
    "approx_percentile_check": lambda s, d: pairing.value_percentiles_approx_check(
        _t(s, d, "events")
    ),
    # tokenize-and-pack placement plan (r5 family, final rotation):
    # segment with the frozen DEMO_MERGES BPE table and pack by the
    # REAL token counts the tokenizer induces — a strict content
    # superset of seq_pack_plan (same _pack_from_counts two-phase
    # prefix scan, but over BPE symbol counts instead of whitespace
    # word counts), so it takes the packing family's window slot;
    # the oracle replays segmentation as a separator-encoded replace
    # chain — see _bpe_count_sql below for the encoding argument
    "bpe_pack_plan": lambda s, d: tokenizer.bpe_pack_plan(
        _t(s, d, "documents")
    ),
    # r5 rotation: first driver row for the F15 sparse-encode twin
    "sparse_label_encode": lambda s, d: sparse.sparse_encode_documents(
        _t(s, d, "documents")
    ),
    # ------- beyond the gate window (entry 51+): demo/component variants ----
    # Each has a production-shaped twin gated above and keeps its local
    # gate via tests/test_oracle_parity.py; they stay registered so a
    # reference user can still run them. Rotation history (VERDICT r4
    # #4: re-arm the hard gate periodically): r4 gated
    # contamination_check (demoting banded_pairs_bucket_cap); r5 gates
    # ocr_extract_text_spans, sparse_label_encode, knn_cosine_ivf_probe2
    # and banded_pairs_bucket_cap, rotating value_percentiles,
    # dup_clusters_banded, ivf_recall and contamination_check down here;
    # late r5 gates seq_pack_plan (new family, no gated twin), rotating
    # approx_distinct_check down (the sketch family stays gated via
    # approx_percentile_check); final r5 rotation promotes
    # bpe_pack_plan over seq_pack_plan (a strict content superset:
    # identical _pack_from_counts scan, counts from BPE segmentation);
    # closing r5 gates dsir_weights (new selection face), rotating
    # knn_cosine_topk down after four straight green driver rows.
    "knn_cosine_topk": lambda s, d: similarity.knn_cosine_topk(_t(s, d, "embeddings")),
    "ocr_extract_heavy_path": _q_extract_heavy_path,
    "approx_distinct_check": lambda s, d: textstats.distinct_token_check(
        _t(s, d, "documents")
    ),
    # r5 additions living below the line from day one: dup_gram_stats
    # extends the (already heavily gated) dedup family with the Lee et
    # al. 2021 duplicated-n-gram signal; doc_fingerprint and
    # token_count rotated down to make window room for the two NEW
    # families above (line_dedup_stats, stratified_sample). All three
    # keep the local DuckDB gate in tests/test_oracle_parity.py.
    "dup_gram_stats": lambda s, d: corpus.dup_gram_stats(
        _t(s, d, "documents")
    ),
    # the end-to-end corpus build: quality gate -> line dedup -> doc
    # dedup -> stratified sample, composed into ONE plan; every stage
    # is individually gated in the window above
    "corpus_pipeline": lambda s, d: corpus.corpus_pipeline(
        _t(s, d, "documents")
    ),
    # deterministic training-order shuffle: the seq_pack_plan two-phase
    # scan re-keyed on md5-prefix blocks (gated family twin:
    # seq_pack_plan in the window)
    "training_shuffle": lambda s, d: corpus.training_shuffle(
        _t(s, d, "documents")
    ),
    # temperature-scaled source mixing (XLM-R alpha-sampling): one
    # map-side-partial aggregate, all derived math on the tiny
    # per-source relation; pow() quantized to nano-ints before the
    # cross-source sum so q is summation-order-free (gated family
    # twin: stratified_sample in the window)
    "domain_mix_weights": lambda s, d: corpus.domain_mix_weights(
        _t(s, d, "documents")
    ),
    # consonant-ratio quality heuristic (rotated below at end-of-r5:
    # its window slot went to bigram_lm_scores, the corpus-trained LM
    # quality face; this keeps local parity)
    "quality_score": lambda s, d: textstats.quality_scores(_t(s, d, "documents")),
    # the packing plan exploded into per-(document, bin) executor
    # segments (gated family twin: seq_pack_plan in the window)
    "seq_pack_segments": lambda s, d: corpus.seq_pack_segments(
        _t(s, d, "documents")
    ),
    # the flagship composition: corpus build -> packing layout in ONE
    # plan (both halves individually gated in the window)
    "corpus_pack_plan": lambda s, d: corpus.corpus_pack_plan(
        _t(s, d, "documents")
    ),
    # whitespace-count packing placement (rotated down in the final r5
    # rotation — its gated twin bpe_pack_plan runs the identical
    # _pack_from_counts two-phase scan in the window)
    "seq_pack_plan": lambda s, d: corpus.seq_pack_plan(
        _t(s, d, "documents")
    ),
    # CCNet/Dolma-style PII count-and-mask pass (map-only, zero
    # shuffles) over a deterministic PII injection — the synthetic
    # corpus carries none, so the wrapper plants doc_id-derived
    # emails/IPs/phones that the oracle replays verbatim
    "pii_scrub": lambda s, d: corpus.pii_scrub(
        _pii_docs(_t(s, d, "documents"))
    ),
    # the DSIR selection step (Gumbel-perturbed threshold resampling)
    # — below the line with local parity; its scoring face
    # dsir_weights carries the family's driver row
    "dsir_resample": lambda s, d: corpus.dsir_resample(
        _t(s, d, "documents"),
        corpus.dsir_target_split(_t(s, d, "documents")),
    ),
    # incremental cross-corpus dedup: every 4th doc plays the new
    # crawl batch, the rest the immutable reference snapshot — below
    # the line with local parity; the dedup family's driver rows are
    # the self-dedup funnel (dedup_exact .. dedup_corpus)
    "dedup_against_corpus": lambda s, d: dedup.dedup_against_corpus(
        _t(s, d, "documents").where("doc_id % 4 = 0"),
        _t(s, d, "documents").where("doc_id % 4 <> 0"),
    ).select("doc_id", "lang", "source", "n_chars"),
    # one-row corpus datasheet (release-notes summary) — below the
    # line with local parity; every field is integer/exact arithmetic
    "corpus_report": lambda s, d: corpus.corpus_report(
        _t(s, d, "documents")
    ),
    # the mixing plan executed (planning face: domain_mix_weights) —
    # below the line with local parity
    "apply_domain_mix": lambda s, d: corpus.apply_domain_mix(
        _t(s, d, "documents")
    ),
    # the decontamination executed (planning face:
    # contamination_check, driver-gated) — same every-20th-doc
    # benchmark split, survivors of the training side
    "decontaminated_corpus": lambda s, d: dedup.decontaminated_corpus(
        _t(s, d, "documents").where("doc_id % 20 <> 0"),
        _t(s, d, "documents").where("doc_id % 20 = 0"),
    ).select("doc_id", "lang", "source", "n_chars"),
    # late-r5 rotation: demoted for bpe_pair_counts (new family); the
    # TPC-H family stays gated via pricing_summary, top_revenue_orders,
    # event_rollup and local_supplier_volume, and this entry keeps its
    # local DuckDB gate in tests/test_oracle_parity.py
    "order_priority_counts": lambda s, d: tpch.order_priority_counts(
        _t(s, d, "orders"), _t(s, d, "lineitem")
    ),
    "doc_fingerprint": lambda s, d: textstats.fingerprints(_t(s, d, "documents")),
    "token_count": lambda s, d: textstats.token_counts(_t(s, d, "documents")),
    "dup_clusters_banded": lambda s, d: dedup.dup_clusters(
        _t(s, d, "documents"),
        max_iters=30,
        pairs=dedup.minhash_banded_pairs(_t(s, d, "documents")),
    ),
    # benchmark decontamination (13-gram overlap vs a held-out split —
    # the pre-train step that keeps eval questions out of the corpus);
    # gated r4, rotated below r5
    "contamination_check": lambda s, d: dedup.contamination_check(
        _t(s, d, "documents")
    ),
    "ivf_recall": lambda s, d: similarity.ivf_recall(_t(s, d, "embeddings")),
    # SemDeDup composition (late r5): near-dup edges -> distributed CC
    # -> keeper anti-join, all from gated pieces (embedding_near_dup +
    # dup_clusters_banded + dedup_corpus families); the wrapper projects
    # the hashable columns (the float[] embedding stays out of the hash)
    "semdedup_corpus": lambda s, d: similarity.semdedup_corpus(
        _t(s, d, "embeddings")
    ).select("vec_id", "label"),
    "value_percentiles": lambda s, d: pairing.value_percentiles(_t(s, d, "events")),
    "minhash_signature": lambda s, d: dedup.minhash_signatures(_t(s, d, "documents")),
    "near_dup_pairs": lambda s, d: dedup.near_dup_pairs(_t(s, d, "documents")),
    # exact all-candidates Jaccard baseline; its banded production twin
    # (jaccard_banded_pairs) is gated above
    "ngram_jaccard_pairs": lambda s, d: dedup.jaccard_pairs(_t(s, d, "documents")),
    "simhash_fingerprint": lambda s, d: dedup.simhash_fingerprints(_t(s, d, "documents")),
    "minhash_band_keys": lambda s, d: dedup.minhash_band_keys(_t(s, d, "documents")),
    "simhash64": lambda s, d: dedup.simhash64(_t(s, d, "documents")),
    "dup_clusters": lambda s, d: dedup.dup_clusters(_t(s, d, "documents")),
    "dedup_keep_list": lambda s, d: dedup.dedup_keep_list(_t(s, d, "documents")),
    "dedup_summary": lambda s, d: dedup.dedup_summary(_t(s, d, "documents")),
    "ivf_assign": lambda s, d: similarity.ivf_assign(_t(s, d, "embeddings")),
    "ivf_kmeans_assign": lambda s, d: similarity.ivf_assign(
        _t(s, d, "embeddings"),
        codebook=similarity.kmeans_codebook(_t(s, d, "embeddings")),
    ),
    # cluster-balanced selection (MetaCLIP/DataComp curation): cap
    # every kmeans cell at 40 members via a content-addressed md5
    # rank — below the line with local parity; the assignment face
    # carries the family's machinery (ivf_kmeans_assign et al.)
    "cluster_balanced_sample": lambda s, d: similarity.cluster_balanced_sample(
        _t(s, d, "embeddings")
    ),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


_SQL_MATCHING = TRANSLATE_MATCHING.replace("'", "''")
_SQL_REPLACE = TRANSLATE_REPLACE.replace("'", "''")
_CLEAN = (
    "translate(substr(text, 1, 40) || '１＋２＝３＝４', "
    f"'{_SQL_MATCHING}', '{_SQL_REPLACE}')"
)

# -- DuckDB fragments for the banded-LSH oracles (mirror dedup.py's
# Spark expressions token-for-token: same md5 inputs, same layouts) ---------

def _dk_shingles(w: str) -> str:
    return (
        f"list_distinct(list_transform(generate_series(1, len({w}) - 4), "
        f"i -> md5(array_to_string({w}[i:i+4], ' '))))"
    )


_SW_SQL = ", ".join(f"'{w}'" for w in textstats.STOPWORDS)

# Stratified-sample thresholds derived from the SAME policy dict the
# Spark operator reads, so the oracle can never drift from the code.
_SAMPLE_CASE = " ".join(
    f"WHEN '{lang}' THEN "
    + (
        "TRUE"
        if rate >= 1.0
        else "FALSE"
        if rate <= 0.0
        else (
            "substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)"
            f" < '{format(int(rate * 16**8), '08x')}'"
        )
    )
    for lang, rate in sorted(corpus.DEFAULT_RATES.items())
)

_PERM_A_SQL = "[" + ",".join(str(v) for v in dedup.PERM_A) + "]"
_PERM_B_SQL = "[" + ",".join(str(v) for v in dedup.PERM_B) + "]"
_PERM_C_SQL = "[" + ",".join(str(v) for v in dedup.PERM_C) + "]"


def _dk_hs(sh: str) -> str:
    """Per-shingle 28-bit md5 halves, hashed ONCE per shingle (the
    64 affine maps then run on the materialized struct list)."""
    return (
        f"list_transform({sh}, s -> "
        f"{{'x': CAST('0x' || substr(md5(s), 1, 7) AS BIGINT), "
        f"'y': CAST('0x' || substr(md5(s), 8, 7) AS BIGINT)}})"
    )


def _dk_sig(hs: str) -> str:
    """Requires the ``pc`` constants CTE in scope (pa/pb/pcc columns):
    a 64-literal list inlined in the lambda would be re-materialized on
    EVERY iteration — measured 200x slower than reading the hoisted
    column."""
    return (
        f"list_transform(range(64), p -> list_min(list_transform({hs}, h -> "
        f"(pa[CAST(p + 1 AS INT)] * h.x"
        f" + pb[CAST(p + 1 AS INT)] * h.y"
        f" + pcc[CAST(p + 1 AS INT)]) % {dedup._PERM_P})))"
    )


_DK_PC_CTE = (
    f"pc AS MATERIALIZED (SELECT {_PERM_A_SQL} AS pa, {_PERM_B_SQL} AS pb, "
    f"{_PERM_C_SQL} AS pcc)"
)


def _dk_bands(sig: str) -> str:
    return (
        f"list_transform(range(16), j -> md5(CAST(j AS VARCHAR) || ',' || "
        f"array_to_string(list_transform({sig}[j*4+1 : j*4+4], "
        f"x -> CAST(x AS VARCHAR)), ',')))"
    )


_DK_BAND_KEYS_CTE = f"""
        w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        ws AS (SELECT doc_id, w FROM w WHERE len(w) >= 5),
        sh AS MATERIALIZED (SELECT doc_id, {_dk_shingles('w')} AS sh FROM ws),
        hs AS MATERIALIZED (SELECT doc_id, {_dk_hs('sh')} AS hs FROM sh),
        {_DK_PC_CTE},
        sig AS MATERIALIZED (SELECT doc_id, {_dk_sig('hs')} AS sig FROM hs, pc),
        bk AS MATERIALIZED (SELECT doc_id, CAST(j AS INT) AS band,
                      {_dk_bands('sig')}[CAST(j + 1 AS INT)] AS band_key
               FROM sig, range(16) t(j))
"""

_DK_SIM64_CTE = """
        tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents),
        votes AS (SELECT doc_id, j,
                         sum(CASE WHEN (((strpos('0123456789abcdef',
                                  substr(md5(tok), CAST(j // 4 AS INT) + 1, 1))
                                  - 1) >> CAST(j % 4 AS INT)) & 1) = 1
                                  THEN 1 ELSE -1 END) AS c
                  FROM tok, range(64) r(j) GROUP BY doc_id, j),
        sim AS MATERIALIZED (SELECT doc_id,
                       CAST(sum(CASE WHEN c > 0 AND j // 16 = 0
                                THEN 1 << CAST(j % 16 AS INT) ELSE 0 END) AS BIGINT) AS chunk0,
                       CAST(sum(CASE WHEN c > 0 AND j // 16 = 1
                                THEN 1 << CAST(j % 16 AS INT) ELSE 0 END) AS BIGINT) AS chunk1,
                       CAST(sum(CASE WHEN c > 0 AND j // 16 = 2
                                THEN 1 << CAST(j % 16 AS INT) ELSE 0 END) AS BIGINT) AS chunk2,
                       CAST(sum(CASE WHEN c > 0 AND j // 16 = 3
                                THEN 1 << CAST(j % 16 AS INT) ELSE 0 END) AS BIGINT) AS chunk3
                FROM votes GROUP BY doc_id)
"""

# -- media payload/decode oracle fragments (mirror operators/multimodal.py) --

# corpus-format ref derivation: little-endian uint64 of the first 8
# sha256 digest bytes, mod 10^12 (verified == sources/corpus.py refs)
_DK_SEED_TERMS = " + ".join(
    f"CAST((strpos('0123456789abcdef', substr(h, {2 * i + 1}, 1)) - 1) * 16"
    f" + strpos('0123456789abcdef', substr(h, {2 * i + 2}, 1)) - 1 AS HUGEINT)"
    f" * CAST('{256 ** i}' AS HUGEINT)"
    for i in range(8)
)

_DK_CREFS_CTE = f"""
        hh AS (SELECT sha256('ref' || chr(31) || 'doc-'
                     || lpad(CAST(doc_id AS VARCHAR), 8, '0')
                     || chr(31) || '0') AS h
               FROM documents),
        refs AS (SELECT 'm-' || lpad(CAST(({_DK_SEED_TERMS})
                     % CAST('1000000000000' AS HUGEINT) AS VARCHAR), 12, '0')
                   AS media_ref
                 FROM hh)
"""

# byte j (0-based) of md5-counter-mode payload block `bexpr` of a ref
_DK_BLOCK_BYTE = (
    "((strpos('0123456789abcdef', substr(md5(media_ref || ':' "
    "|| CAST({b} AS VARCHAR)), CAST(2*j+1 AS INT), 1)) - 1) * 16 "
    "+ strpos('0123456789abcdef', substr(md5(media_ref || ':' "
    "|| CAST({b} AS VARCHAR)), CAST(2*j+2 AS INT), 1)) - 1)"
)

# -- EP2 evaluation oracle fragments (mirror operators/evaluate.py) ---------

_DK_EVAL_CTE = """
        g0 AS (SELECT doc_id, unnest(range(doc_id % 3 + 1)) AS bi FROM documents),
        g1 AS (SELECT doc_id, CAST(bi AS INT) AS box_id,
                      CAST(40 + bi * 220 AS INT) AS l,
                      CAST(30 + (doc_id % 5) * 60 AS INT) AS t,
                      CAST(doc_id % 50 + 2 AS INT) AS a,
                      CAST(bi + 3 AS INT) AS b,
                      CAST((doc_id + bi) % 3 AS INT) AS k,
                      CASE WHEN (doc_id + bi) % 2 = 0 THEN 'right'
                           ELSE 'error' END AS state
               FROM g0),
        g AS (SELECT doc_id, box_id, l, t, l + 180 AS r, t + 40 AS btm,
                     ['=', '()', '...'][k + 1] AS classes,
                     CASE WHEN k = 0 THEN a || '+' || b || '=' || (a + b)
                          WHEN k = 1 THEN a || '+()=' || (a + b)
                          ELSE a || '÷' || b || '=' || (a // b) || '*' || (a % b)
                     END AS label,
                     state
              FROM g1),
        p0 AS (SELECT doc_id, box_id AS pred_id, l, t, r, btm, classes, label,
                      state, doc_id + box_id AS key
               FROM g),
        p AS (SELECT doc_id, pred_id,
                     CAST(l + [0,10,20,160,6,14][CAST(key % 6 AS INT) + 1] AS INT) AS l,
                     t,
                     CAST(r + [0,10,20,160,6,14][CAST(key % 6 AS INT) + 1] AS INT) AS r,
                     btm,
                     CASE WHEN key % 4 = 1 THEN label || '9'
                          WHEN key % 4 = 2 AND classes = '...'
                            THEN replace(label, '*', '')
                          ELSE label END AS output,
                     CASE WHEN key % 5 = 1
                            THEN (CASE WHEN state = 'right' THEN 'error'
                                       ELSE 'right' END)
                          ELSE state END AS pstate
              FROM p0
              UNION ALL
              SELECT doc_id, 99, 700, 500, 800, 530, '7+7=14', 'right'
              FROM documents WHERE doc_id % 7 = 0),
        scored AS (
          -- LEFT join: gold boxes on pred-less docs stay (iou NULL -> 0)
          SELECT g.doc_id, g.box_id, p.pred_id,
                 coalesce(round(CAST(greatest(least(g.r, p.r) - greatest(g.l, p.l), 0)
                          * greatest(least(g.btm, p.btm) - greatest(g.t, p.t), 0)
                        AS DOUBLE)
                       / ((g.r - g.l) * (g.btm - g.t)
                          + (p.r - p.l) * (p.btm - p.t)
                          - greatest(least(g.r, p.r) - greatest(g.l, p.l), 0)
                            * greatest(least(g.btm, p.btm) - greatest(g.t, p.t), 0)),
                       6), 0.0) AS iou
          FROM g LEFT JOIN p ON g.doc_id = p.doc_id),
        best AS (
          SELECT doc_id, box_id, pred_id, iou,
                 row_number() OVER (PARTITION BY doc_id, box_id
                                    ORDER BY iou DESC, pred_id ASC) AS rn
          FROM scored),
        pairs AS (
          SELECT doc_id, box_id,
                 CAST(CASE WHEN iou > 0.5 THEN pred_id ELSE -1 END AS INT)
                   AS pair_id,
                 iou
          FROM best WHERE rn = 1)
"""

# Lloyd-refined IVF codebook (mirrors similarity.kmeans_codebook): 2
# unrolled k-means iterations over the vec_id%2 sample capped at 200
# rows (vec_id < max_sample*sample_every = 400), seeded from the
# stride rows. Means are exact DECIMAL(20,10) sums divided once in
# double and rounded to 9 — identical centroid arrays on both engines.
def _dk_lloyd(prev: str, out: str) -> str:
    return f"""
        a_{out} AS (
          SELECT vec_id, cell_id, v FROM (
            SELECT s.vec_id, c.cell_id, s.v,
                   row_number() OVER (PARTITION BY s.vec_id
                       ORDER BY round(list_cosine_similarity(s.v, c.cv), 6) DESC,
                                c.cell_id ASC) AS rn
            FROM s, {prev} c) WHERE rn = 1),
        m_{out} AS (
          SELECT cell_id, sx.i AS i,
                 round(CAST(sum(CAST(sx.x AS DECIMAL(20,10))) AS DOUBLE)
                       / count(*), 9) AS m
          FROM (SELECT cell_id,
                       unnest(list_transform(v,
                           (x, i) -> struct_pack(i := i, x := x))) AS sx
                FROM a_{out})
          GROUP BY cell_id, sx.i),
        {out} AS (SELECT cell_id, list(m ORDER BY i) AS cv
                  FROM m_{out} GROUP BY cell_id)
    """


def _dk_straddle(yy: str) -> str:
    """IsIntersec (layout_analysis_bottom_to_top.py:22-38) for a link
    segment (x1,y1)-(x2,y2) against the horizontal box edge
    (lft,{yy})-(rgt,{yy}), all BIGINT. The general formula with the
    horizontal edge's zero terms folded: the second straddle pair
    reduces to (rgt-lft)*(y-{yy}) because the edge has no rise."""
    return f"""(
        greatest(x1, x2) >= lft AND rgt >= least(x1, x2)
        AND greatest(y1, y2) >= {yy} AND {yy} >= least(y1, y2)
        AND ((x2-x1)*({yy}-y1) - (lft-x1)*(y2-y1))
            * ((x2-x1)*({yy}-y1) - (rgt-x1)*(y2-y1)) <= 0
        AND ((rgt-lft)*(y1-{yy})) * ((rgt-lft)*(y2-{yy})) <= 0
    )"""


_DK_STRADDLE_CTE = f"""
        lk0 AS (SELECT doc_id, unnest(range(4)) AS li FROM documents),
        lk AS (SELECT doc_id, CAST(li AS INT) AS link_id,
                      CAST(50 + li * 85 AS BIGINT) AS x1,
                      CAST((doc_id * 7 + li * 13) % 300 AS BIGINT) AS y1,
                      CAST(50 + li * 85 + (doc_id + li * 2) % 120 - 60
                           AS BIGINT) AS x2,
                      CAST((doc_id * 11 + li * 29) % 300 AS BIGINT) AS y2
               FROM lk0),
        bx0 AS (SELECT doc_id, unnest(range(doc_id % 3 + 1)) AS bi
                FROM documents),
        bx AS (SELECT doc_id,
                      CAST(40 + bi * 220 AS BIGINT) AS lft,
                      CAST(30 + (doc_id % 5) * 60 AS BIGINT) AS top,
                      CAST(220 + bi * 220 AS BIGINT) AS rgt,
                      CAST(70 + (doc_id % 5) * 60 AS BIGINT) AS btm
               FROM bx0),
        crossed AS (SELECT DISTINCT lk.doc_id, lk.link_id
                    FROM lk JOIN bx ON lk.doc_id = bx.doc_id
                    WHERE {_dk_straddle("top")} OR {_dk_straddle("btm")})
"""


_DK_KMEANS_CTE = f"""
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        s AS (SELECT vec_id, v FROM e
              WHERE vec_id % 2 = 0 AND vec_id < 400),
        c0 AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id % 100 = 0),
        {_dk_lloyd('c0', 'c1')},
        {_dk_lloyd('c1', 'c2')},
        kassign AS (
          SELECT vec_id, cell_id FROM (
            SELECT e.vec_id, c.cell_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                                c.cell_id ASC) AS rn
            FROM e, c2 c) WHERE rn = 1)
"""

# connected components over the single-minhash candidate graph + the
# per-document keep decision (mirrors dedup.dup_clusters /
# dedup_keep_list): bounded label propagation via a recursive CTE,
# keeper = min reachable doc_id, singletons keep themselves
_DK_KEEP_CTE = """
        sig AS (
          SELECT doc_id,
                 list_min(list_transform(generate_series(1, len(words) - 4),
                          i -> md5(array_to_string(words[i:i+4], ' ')))) AS mh
          FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
          WHERE len(words) >= 5),
        cpairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sig a JOIN sig b ON a.mh = b.mh AND a.doc_id < b.doc_id),
        edges AS (
          SELECT doc_a, doc_b FROM cpairs
          UNION ALL
          SELECT doc_b, doc_a FROM cpairs),
        reach(doc_id, label) AS (
          SELECT doc_a, doc_a FROM edges
          UNION
          SELECT e.doc_a, r.label
          FROM edges e JOIN reach r ON e.doc_b = r.doc_id),
        clusters AS (
          SELECT doc_id, min(label) AS cluster_id
          FROM reach GROUP BY doc_id),
        kl AS (
          SELECT d.doc_id,
                 coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                 CAST(CASE WHEN coalesce(c.cluster_id, d.doc_id) = d.doc_id
                      THEN 1 ELSE 0 END AS INT) AS keep
          FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id)
"""

def _bpe_count_sql() -> str:
    """DuckDB replay of per-document BPE token counts under the frozen
    tokenizer.DEMO_MERGES table, as one scalar expression per word.

    Encoding argument: a word's symbol sequence is rendered as a string
    with every symbol flanked by a DOUBLE \\x1f separator on both sides
    (symbols never contain \\x1f). Applying merge (a, b) is then one
    ``replace(s, '\\x1f a \\x1f\\x1f b \\x1f', '\\x1f ab \\x1f')``: a
    match must align to symbol boundaries (the char before a symbol's
    first char is always \\x1f, and symbols cannot contain it), each
    match consumes only the INNER separator of each double flank, so
    consecutive merge sites chain exactly like the Spark fold's single
    greedy left-to-right pass — replace() is leftmost-non-overlapping,
    which IS the fold's contract ("aaa" + (a,a) -> ["aa","a"]). The
    token count is then the number of non-empty fields split on the
    double separator. tests/test_tokenizer.py pins the fold against a
    sequential reference; this replay is pinned by the bpe_pack_plan
    parity row itself."""
    sep = "\x1f"
    # 's': without it DuckDB's '.' skips '\n', gluing a newline to the
    # next symbol instead of making it one of its own
    enc = (
        f"concat('{sep}{sep}', "
        f"regexp_replace(word, '(.)', '\\1{sep}{sep}', 'gs'))"
    )
    for a, b in tokenizer.DEMO_MERGES:
        enc = (
            f"replace({enc}, '{sep}{a}{sep}{sep}{b}{sep}', "
            f"'{sep}{a}{b}{sep}')"
        )
    return f"""
        SELECT d.doc_id,
               CAST(coalesce(sum(e.n), 0) AS INT) AS n_tokens
        FROM documents d LEFT JOIN (
          SELECT doc_id,
                 len(list_filter(string_split({enc}, '{sep}{sep}'),
                     x -> x <> '')) AS n
          FROM (SELECT doc_id,
                       unnest(list_filter(string_split(text, ' '),
                              x -> x <> '')) AS word
                FROM documents)) e USING (doc_id)
        GROUP BY d.doc_id"""


# the end-to-end corpus-build replay, shared by the corpus_pipeline
# oracle and the corpus_pack_plan composition (which nests it as a
# derived table)
_CORPUS_PIPELINE_SQL = f"""
        WITH q AS (
          SELECT doc_id, lang, source FROM (
            SELECT doc_id, lang, source,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents)
          WHERE len(toks) >= {corpus.MIN_TOKENS}
            AND len(list_filter(toks, x -> x IN ({_SW_SQL}))) * 100
                >= {corpus.MIN_STOP_PCT} * len(toks)
        ),
        w AS (SELECT d.doc_id, string_split(d.text, ' ') AS ws
              FROM documents d JOIN q USING (doc_id)),
        lines AS (
          SELECT doc_id, i AS idx,
                 array_to_string(list_slice(ws,
                     i * {corpus.LINE_WORDS} + 1,
                     i * {corpus.LINE_WORDS} + {corpus.LINE_WORDS}), ' ') AS line
          FROM w, unnest(range(CAST(ceil(len(ws) / {corpus.LINE_WORDS}.0)
                                    AS BIGINT))) AS t(i)
        ),
        keep AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY line
                                       ORDER BY doc_id, idx) AS rn
          FROM lines
        ),
        stats AS (
          SELECT doc_id, count(*) AS n_lines,
                 count(*) FILTER (WHERE rn = 1) AS n_kept,
                 string_agg(line, ' ' ORDER BY idx)
                     FILTER (WHERE rn = 1) AS kept_text
          FROM keep GROUP BY doc_id
          HAVING count(*) FILTER (WHERE rn = 1) > 0
        ),
        fp AS (SELECT *, md5(kept_text) AS content_fp FROM stats),
        keepers AS (SELECT content_fp, min(doc_id) AS keeper
                    FROM fp GROUP BY content_fp)
        SELECT f.doc_id, q.lang, q.source, f.n_lines, f.n_kept,
               len(string_split(f.kept_text, ' ')) AS n_tokens_kept,
               f.content_fp
        FROM fp f
        JOIN keepers k USING (content_fp)
        JOIN q USING (doc_id)
        WHERE f.doc_id = k.keeper
          AND CASE q.lang {_SAMPLE_CASE} ELSE TRUE END
"""

# shared by the domain_mix_weights and apply_domain_mix oracles
_DOMAIN_MIX_SQL = """
        WITH per AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(len(list_filter(string_split(text, ' '),
                                          x -> x <> ''))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM per),
        s AS (SELECT per.*,
                     CAST(per.n_tokens AS DOUBLE) / tot.tot AS p,
                     CAST(round(pow(CAST(per.n_tokens AS DOUBLE) / tot.tot,
                                    0.3) * 1e9, 0) AS BIGINT) AS s_nano
              FROM per, tot),
        d AS (SELECT CAST(sum(s_nano) AS BIGINT) AS denom FROM s)
        SELECT source, n_docs, n_tokens, round(p, 6) AS p,
               round(CAST(s_nano AS DOUBLE) / denom, 6) AS q,
               round((CAST(s_nano AS DOUBLE) / denom) / p, 6) AS sample_rate
        FROM s, d
"""

# shared by the dsir_weights and dsir_resample oracles: identical
# hashed-feature stream (md5 buckets — DuckDB's ('0x'||hex)::BIGINT
# equals Spark's conv(hex,16,10)), identical add-k smoothing, and the
# same micro-nat quantization before the per-doc BIGINT sum
_DSIR_WEIGHTS_SQL = f"""
        WITH ws AS (
          SELECT doc_id, list_filter(string_split(text, ' '),
                                     x -> x <> '') AS w
          FROM documents),
        feats AS (
          SELECT doc_id,
                 unnest(list_concat(w,
                     list_transform(range(1, greatest(len(w), 1)),
                                    i -> w[i] || ' ' || w[i + 1]))) AS f
          FROM ws),
        fb AS (
          SELECT doc_id,
                 ('0x' || substr(md5(f), 1, 14))::BIGINT
                     % {corpus.DSIR_BUCKETS} AS b
          FROM feats),
        tgt AS (
          SELECT doc_id FROM documents
          WHERE substr(md5('dsir-t:' || CAST(doc_id AS VARCHAR)), 1, 1)
                < '4'),
        cq AS (SELECT b, count(*) AS cq FROM fb GROUP BY b),
        cp AS (SELECT b, count(*) AS cp
               FROM fb JOIN tgt USING (doc_id) GROUP BY b),
        nq AS (SELECT count(*) AS nq FROM fb),
        np AS (SELECT count(*) AS np FROM fb JOIN tgt USING (doc_id)),
        ratio AS (
          SELECT b,
                 CAST(round((ln((coalesce(cp, 0) + {corpus.DSIR_K})
                                / (np + {corpus.DSIR_K}
                                   * {corpus.DSIR_BUCKETS}))
                             - ln((cq + {corpus.DSIR_K})
                                  / (nq + {corpus.DSIR_K}
                                     * {corpus.DSIR_BUCKETS}))) * 1e6,
                            0) AS BIGINT) AS lr
          FROM cq LEFT JOIN cp USING (b), nq, np),
        scored AS (
          SELECT doc_id, count(*) AS n_feats,
                 round(sum(lr) / 1e6, 6) AS logw
          FROM fb JOIN ratio USING (b) GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(s.n_feats, 0) AS n_feats,
               s.logw AS logw
        FROM documents d LEFT JOIN scored s USING (doc_id)
"""

ORACLES: dict[str, str] = {
    "ocr_extract_invariants": """
        SELECT CAST(count(*) AS BIGINT) AS n_docs_in,
               CAST(0 AS BIGINT) AS unaccounted_docs,
               CAST(0 AS BIGINT) AS bad_order_docs,
               CAST(0 AS BIGINT) AS bad_kind_rows,
               CAST(0 AS BIGINT) AS media_no_ref_rows,
               CAST(0 AS BIGINT) AS text_with_ref_rows,
               CAST(0 AS BIGINT) AS cjk_text_rows,
               CAST(0 AS BIGINT) AS bad_media_text_rows,
               CAST(1 AS INT) AS has_output
        FROM documents
    """,
    # SQL replay of the kernel's text path (normalize -> double-'='
    # repair -> CJK/empty drop -> per-doc order reassembly); the Spark
    # side runs the REAL mapInArrow kernel over the same spans
    "ocr_extract_text_spans": f"""
        WITH base AS (
          SELECT CAST(doc_id AS VARCHAR) AS did, doc_id AS id, text
          FROM documents),
        spans AS (
          SELECT did, 0 AS off, substr(text, 1, 40) || '１＋２＝３＝４' AS raw
          FROM base
          UNION ALL
          SELECT did, 10, substr(text, 41, 40)
                 || CASE WHEN id % 3 = 0 THEN '口算练习' ELSE '' END
          FROM base
          UNION ALL
          SELECT did, 20,
                 CASE WHEN id % 5 = 0 THEN ' /_' ELSE substr(text, 81, 40) END
          FROM base),
        cleaned AS (
          SELECT did, off,
                 CASE WHEN len(string_split(c, '=')) > 2
                      THEN string_split(c, '=')[1] || '='
                           || string_split(c, '=')[-1]
                      ELSE c END AS cl
          FROM (SELECT did, off,
                       translate(raw, '{_SQL_MATCHING}', '{_SQL_REPLACE}') AS c
                FROM spans))
        SELECT did AS doc_id,
               CAST(row_number() OVER (PARTITION BY did ORDER BY off) - 1
                    AS INT) AS ord,
               cl AS text
        FROM cleaned
        WHERE cl <> '' AND NOT regexp_matches(cl, '[一-鿿]')
    """,
    "eval_iou_pairs": f"""
        WITH {_DK_EVAL_CTE}
        SELECT doc_id, box_id, pair_id, iou FROM pairs
    """,
    "eval_metrics": f"""
        WITH {_DK_EVAL_CTE},
        m AS (SELECT pr.doc_id, pr.box_id, pr.pair_id,
                     g.classes, g.label, g.state AS gstate, p.output, p.pstate
              FROM pairs pr
              JOIN g ON g.doc_id = pr.doc_id AND g.box_id = pr.box_id
              LEFT JOIN p ON p.doc_id = pr.doc_id AND p.pred_id = pr.pair_id),
        flags AS (SELECT *,
                         pair_id != -1 AS matched,
                         CASE WHEN classes = '...'
                              THEN (label = output
                                    OR replace(label, '*', '')
                                       = replace(output, '*', ''))
                              ELSE label = output END AS seq_right
                  FROM m),
        agg AS (SELECT count(*) AS n_boxes,
                       CAST(sum(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
                       CAST(sum(CASE WHEN matched AND seq_right THEN 1 ELSE 0 END) AS BIGINT) AS n_right,
                       CAST(sum(CASE WHEN matched AND classes = '=' THEN 1 ELSE 0 END) AS BIGINT) AS eq_all,
                       CAST(sum(CASE WHEN matched AND classes = '=' AND seq_right THEN 1 ELSE 0 END) AS BIGINT) AS eq_right,
                       CAST(sum(CASE WHEN matched AND classes = '()' THEN 1 ELSE 0 END) AS BIGINT) AS br_all,
                       CAST(sum(CASE WHEN matched AND classes = '()' AND seq_right THEN 1 ELSE 0 END) AS BIGINT) AS br_right,
                       CAST(sum(CASE WHEN matched AND classes = '...' THEN 1 ELSE 0 END) AS BIGINT) AS re_all,
                       CAST(sum(CASE WHEN matched AND classes = '...' AND seq_right THEN 1 ELSE 0 END) AS BIGINT) AS re_right,
                       CAST(sum(CASE WHEN matched AND gstate = pstate THEN 1 ELSE 0 END) AS BIGINT) AS state_right,
                       sum(CASE WHEN matched
                                THEN CAST(round(CAST(levenshtein(label, output) AS DOUBLE)
                                                / length(label), 6) AS DECIMAL(18,6))
                                ELSE CAST(0 AS DECIMAL(18,6)) END) AS lev_sum
                FROM flags)
        SELECT n_boxes, n_matched,
               CASE WHEN n_matched = 0 THEN 0.0
                    ELSE round(CAST(n_right AS DOUBLE) / n_matched, 6) END AS seq_acc,
               CASE WHEN eq_all = 0 THEN 0.0
                    ELSE round(CAST(eq_right AS DOUBLE) / eq_all, 6) END AS equation_acc,
               CASE WHEN br_all = 0 THEN 0.0
                    ELSE round(CAST(br_right AS DOUBLE) / br_all, 6) END AS bracket_acc,
               CASE WHEN re_all = 0 THEN 0.0
                    ELSE round(CAST(re_right AS DOUBLE) / re_all, 6) END AS residual_acc,
               CASE WHEN n_matched = 0 THEN 0.0
                    ELSE round(CAST(state_right AS DOUBLE) / n_matched, 6) END AS state_acc,
               CASE WHEN n_matched = 0 THEN 0.0
                    ELSE round(CAST(CAST(n_matched AS DECIMAL(18,6)) - lev_sum AS DOUBLE)
                               / n_matched, 6) END AS char_acc,
               round(CAST(n_matched AS DOUBLE) / n_boxes, 6) AS recall
        FROM agg
    """,
    "clean_text": f"""
        SELECT doc_id,
               CASE WHEN len(string_split(c, '=')) > 2
                    THEN string_split(c, '=')[1] || '=' || string_split(c, '=')[-1]
                    ELSE c END AS cleaned
        FROM (SELECT doc_id, {_CLEAN} AS c FROM documents)
    """,
    "cjk_boilerplate_filter": """
        SELECT source, count(*) AS n_clean
        FROM (SELECT source,
                     CASE WHEN doc_id % 2 = 0 THEN text || '口算练习' ELSE text END AS t
              FROM documents)
        WHERE NOT regexp_matches(t, '[一-鿿]')
        GROUP BY source
    """,
    "token_count": """
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, n_chars
        FROM documents
    """,
    "bpe_token_count": """
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_ws_tokens,
               len(regexp_extract_all(text,
                   '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\f\\r]')) AS n_bpe_tokens
        FROM documents
    """,
    "rolling_fingerprint": """
        SELECT doc_id,
               list_min(list_transform(
                   generate_series(1, greatest(length(text) - 7, 1)),
                   i -> md5(substr(text, CAST(i AS int), 8)))) AS rolling_fp
        FROM documents
    """,
    "quality_score": """
        SELECT doc_id,
               CAST(length(regexp_replace(text, '[aeiou ]', '', 'g')) AS double)
                 / length(text) AS consonant_ratio
        FROM documents
    """,
    "stopword_fraction": """
        SELECT doc_id,
               len(toks) AS n_tokens,
               round(len(list_filter(toks,
                         x -> x IN ('a','the','and','of','to','in','is','it')))
                     / greatest(len(toks), 1), 6) AS stop_frac
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents)
    """,
    "repetition_ratio": """
        SELECT doc_id,
               CASE WHEN len(toks) < 10 THEN 0 ELSE len(toks) - 9 END AS n_grams,
               CASE WHEN len(toks) < 10 THEN 0.0
                    ELSE round(1.0 - len(list_distinct(list_transform(
                             generate_series(1, len(toks) - 9),
                             i -> array_to_string(toks[i:i+9], ' '))))
                         / (len(toks) - 9), 6)
               END AS rep_ratio
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents)
    """,
    "lang_id": """
        SELECT lang_guess, count(*) AS n_docs FROM (
          SELECT CASE WHEN r < 0.52 THEN 'latin_vowelish'
                      WHEN r < 0.60 THEN 'latin_mixed'
                      ELSE 'latin_consonantish' END AS lang_guess
          FROM (SELECT CAST(length(regexp_replace(text, '[aeiou ]', '', 'g')) AS double)
                         / length(text) AS r
                FROM documents))
        GROUP BY lang_guess
    """,
    "doc_fingerprint": "SELECT doc_id, md5(lower(text)) AS fp FROM documents",
    "char_vocab": """
        SELECT DISTINCT ch FROM (
          SELECT unnest(string_split(source, '')) AS ch FROM documents)
        WHERE ch <> ''
    """,
    "length_histogram": """
        SELECT CAST(floor(n_chars / 100) * 100 AS bigint) AS bin, count(*) AS n
        FROM documents GROUP BY 1
    """,
    "edit_distance": """
        SELECT doc_id,
               levenshtein(substr(text, 1, 20), substr(text, 21, 20)) AS lev
        FROM documents
    """,
    "arith_verdict_udf": """
        WITH base AS (
          SELECT doc_id,
                 doc_id % 90 + 2 AS a,
                 doc_id % 9 + 2 AS b,
                 CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS wrong
          FROM documents)
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 0
                      THEN a || '+=' || b
                    WHEN doc_id % 7 = 0
                      THEN a || '÷' || b || '=' || (a // b + wrong) || '*' || (a % b)
                    ELSE a || '+' || b || '=' || (a + b + wrong)
               END AS label,
               CASE WHEN doc_id % 11 = 0 THEN 'problem'
                    WHEN doc_id % 5 = 0 THEN 'error'
                    ELSE 'right' END AS verdict
        FROM base
    """,
    "dedup_exact": """
        SELECT fp, count(*) AS n_docs, min(doc_id) AS keeper
        FROM (SELECT doc_id, md5(lower(text)) AS fp FROM documents)
        GROUP BY fp
    """,
    "minhash_signature": """
        SELECT doc_id,
               list_min(list_transform(generate_series(1, len(words) - 4),
                        i -> md5(array_to_string(words[i:i+4], ' ')))) AS minhash
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
        WHERE len(words) >= 5
    """,
    "near_dup_pairs": """
        WITH sig AS (
          SELECT doc_id,
                 list_min(list_transform(generate_series(1, len(words) - 4),
                          i -> md5(array_to_string(words[i:i+4], ' ')))) AS minhash
          FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
          WHERE len(words) >= 5)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.minhash AS bucket
        FROM sig a JOIN sig b ON a.minhash = b.minhash AND a.doc_id < b.doc_id
    """,
    "simhash_fingerprint": """
        WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                   FROM documents),
        s AS (SELECT doc_id, j,
                     sum(CASE WHEN strpos('89abcdef',
                                          substr(md5(tok), CAST(j + 1 AS int), 1)) > 0
                              THEN 1 ELSE -1 END) AS c
              FROM t, range(16) r(j) GROUP BY doc_id, j)
        SELECT doc_id, CAST(sum(CASE WHEN c > 0 THEN 1 << j ELSE 0 END) AS bigint)
                 AS simhash
        FROM s GROUP BY doc_id
    """,
    "minhash_band_keys": f"""
        WITH {_DK_BAND_KEYS_CTE}
        SELECT doc_id, band, band_key FROM bk
    """,
    # one-row corpus datasheet: integer/exact fields only, so the row
    # hashes identically on both engines
    "corpus_report": """
        WITH t AS (
          SELECT doc_id, text, lang, source,
                 len(list_filter(string_split(text, ' '),
                                 x -> x <> '')) AS toks
          FROM documents),
        tot AS (
          SELECT count(*) AS n_docs,
                 CAST(sum(toks) AS BIGINT) AS n_tokens,
                 CAST(sum(len(text)) AS BIGINT) AS n_chars,
                 count(DISTINCT lang) AS n_langs,
                 count(DISTINCT source) AS n_sources,
                 CAST(sum(CASE WHEN toks = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_empty_docs,
                 CAST(min(toks) AS BIGINT) AS min_doc_tokens,
                 CAST(max(toks) AS BIGINT) AS max_doc_tokens
          FROM t),
        dup AS (
          SELECT coalesce(CAST(sum(CASE WHEN n >= 2 THEN n END)
                               AS BIGINT), 0) AS n_exact_dup_docs,
                 coalesce(CAST(sum(CASE WHEN n >= 2 THEN n - 1 END)
                               AS BIGINT), 0) AS n_redundant_docs
          FROM (SELECT md5(text) AS fp, count(*) AS n
                FROM documents GROUP BY fp))
        SELECT * FROM tot, dup
    """,
    # incremental cross-corpus dedup: the bk relation covers both
    # sides (identical band keys per doc); a new-batch doc is dropped
    # on an exact md5 hit or any shared band key with the reference
    "dedup_against_corpus": f"""
        WITH {_DK_BAND_KEYS_CTE},
        nd AS (SELECT * FROM documents WHERE doc_id % 4 = 0),
        exact_drop AS (
          SELECT doc_id FROM nd
          WHERE md5(text) IN (SELECT md5(text) FROM documents
                              WHERE doc_id % 4 <> 0)),
        near_drop AS (
          SELECT DISTINCT a.doc_id
          FROM bk a JOIN bk b
            ON a.band = b.band AND a.band_key = b.band_key
          WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0),
        drops AS (SELECT doc_id FROM exact_drop
                  UNION SELECT doc_id FROM near_drop)
        SELECT doc_id, lang, source, n_chars FROM nd
        WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    """,
    "minhash_banded_pairs": f"""
        WITH {_DK_BAND_KEYS_CTE}
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS INT) AS n_bands
        FROM bk a JOIN bk b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    """,
    "minhash_banded_recall": f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                   FROM documents
                   WHERE doc_id % 5 = 0 AND len(string_split(text, ' ')) >= 25),
        p AS (SELECT doc_id, w, CAST(pct AS INT) AS pct
              FROM d, unnest([40, 55, 70, 78, 82, 86, 90, 94, 98]) t(pct)),
        v AS (SELECT doc_id, w,
                     w[1:greatest(CAST(floor(len(w) * pct / 100) AS INT), 5)] AS wv
              FROM p),
        sh2 AS MATERIALIZED (SELECT doc_id, {_dk_shingles('w')} AS sh_o,
                       {_dk_shingles('wv')} AS sh_v
                FROM v),
        hs2 AS MATERIALIZED (SELECT doc_id, sh_o, sh_v, {_dk_hs('sh_o')} AS hs_o,
                       {_dk_hs('sh_v')} AS hs_v
                FROM sh2),
        {_DK_PC_CTE},
        sig2 AS MATERIALIZED (SELECT doc_id, sh_o, sh_v, {_dk_sig('hs_o')} AS sig_o,
                        {_dk_sig('hs_v')} AS sig_v
                 FROM hs2, pc),
        bk2 AS MATERIALIZED (SELECT doc_id, sh_o, sh_v, {_dk_bands('sig_o')} AS bk_o,
                       {_dk_bands('sig_v')} AS bk_v
                FROM sig2),
        j AS (SELECT round(CAST(len(list_intersect(sh_o, sh_v)) AS DOUBLE)
                           / len(list_distinct(sh_o || sh_v)), 6) AS j,
                     len(list_intersect(bk_o, bk_v)) > 0 AS caught
              FROM bk2)
        SELECT CAST(floor(j * 10) AS INT) AS j_bucket,
               count(*) AS n_pairs,
               CAST(sum(CASE WHEN caught THEN 1 ELSE 0 END) AS BIGINT) AS n_caught,
               round(CAST(sum(CASE WHEN caught THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS recall
        FROM j GROUP BY 1
    """,
    "simhash64": f"""
        WITH {_DK_SIM64_CTE}
        SELECT doc_id, 0 AS band, chunk0 AS chunk FROM sim
        UNION ALL SELECT doc_id, 1, chunk1 FROM sim
        UNION ALL SELECT doc_id, 2, chunk2 FROM sim
        UNION ALL SELECT doc_id, 3, chunk3 FROM sim
    """,
    "simhash_hamming_pairs": f"""
        WITH {_DK_SIM64_CTE},
        long AS (
          SELECT doc_id, 0 AS band, chunk0 AS chunk, chunk0, chunk1, chunk2, chunk3 FROM sim
          UNION ALL
          SELECT doc_id, 1, chunk1, chunk0, chunk1, chunk2, chunk3 FROM sim
          UNION ALL
          SELECT doc_id, 2, chunk2, chunk0, chunk1, chunk2, chunk3 FROM sim
          UNION ALL
          SELECT doc_id, 3, chunk3, chunk0, chunk1, chunk2, chunk3 FROM sim)
        SELECT DISTINCT doc_a, doc_b, hamming FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(bit_count(xor(a.chunk0, b.chunk0))
                    + bit_count(xor(a.chunk1, b.chunk1))
                    + bit_count(xor(a.chunk2, b.chunk2))
                    + bit_count(xor(a.chunk3, b.chunk3)) AS INT) AS hamming
          FROM long a JOIN long b
            ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
        WHERE hamming <= 3
    """,
    "jaccard_banded_pairs": f"""
        WITH {_DK_BAND_KEYS_CTE},
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bk a JOIN bk b
            ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                     / len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard
        FROM cand JOIN sh sa ON sa.doc_id = doc_a
                  JOIN sh sb ON sb.doc_id = doc_b
    """,
    "dup_clusters_banded": f"""
        WITH RECURSIVE {_DK_BAND_KEYS_CTE},
        cpairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bk a JOIN bk b
            ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id),
        edges AS (
          SELECT doc_a, doc_b FROM cpairs
          UNION ALL
          SELECT doc_b, doc_a FROM cpairs),
        reach(doc_id, label) AS (
          SELECT doc_a, doc_a FROM edges
          UNION
          SELECT e.doc_a, r.label
          FROM edges e JOIN reach r ON e.doc_b = r.doc_id)
        SELECT doc_id, min(label) AS cluster_id
        FROM reach GROUP BY doc_id
    """,
    "dedup_keep_list": f"""
        WITH RECURSIVE {_DK_KEEP_CTE}
        SELECT doc_id, cluster_id, keep FROM kl
    """,
    "dedup_summary": f"""
        WITH RECURSIVE {_DK_KEEP_CTE}
        SELECT count(*) AS n_docs_in,
               CAST(sum(keep) AS BIGINT) AS n_docs_out,
               CAST(sum(1 - keep) AS BIGINT) AS n_removed,
               count(DISTINCT CASE WHEN keep = 0 THEN cluster_id END)
                 AS n_dup_clusters
        FROM kl
    """,
    "dedup_corpus": f"""
        WITH RECURSIVE {_DK_KEEP_CTE}
        SELECT d.doc_id, d.source, d.n_chars
        FROM documents d JOIN kl ON d.doc_id = kl.doc_id
        WHERE kl.keep = 1
    """,
    "line_dedup_stats": f"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        lines AS (
          SELECT doc_id, i AS idx,
                 array_to_string(list_slice(ws,
                     i * {corpus.LINE_WORDS} + 1,
                     i * {corpus.LINE_WORDS} + {corpus.LINE_WORDS}), ' ') AS line
          FROM w, unnest(range(CAST(ceil(len(ws) / {corpus.LINE_WORDS}.0)
                                    AS BIGINT))) AS t(i)
        ),
        keep AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY line
                                       ORDER BY doc_id, idx) AS rn
          FROM lines
        )
        SELECT doc_id, count(*) AS n_lines,
               count(*) FILTER (WHERE rn = 1) AS n_kept,
               coalesce(string_agg(line, ' ' ORDER BY idx)
                        FILTER (WHERE rn = 1), '') AS kept_text
        FROM keep GROUP BY doc_id
    """,
    "stratified_sample": f"""
        SELECT doc_id, lang, source FROM documents
        WHERE CASE lang {_SAMPLE_CASE} ELSE TRUE END
    """,
    "corpus_pipeline": _CORPUS_PIPELINE_SQL,
    "corpus_pack_plan": f"""
        WITH pool AS (
          SELECT doc_id, n_tokens_kept AS n_tokens
          FROM ({_CORPUS_PIPELINE_SQL})),
        pp AS (
          SELECT doc_id, n_tokens,
                 coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS prefix
          FROM pool)
        SELECT doc_id, n_tokens,
               prefix // {corpus.PACK_CAPACITY} AS start_bin,
               prefix % {corpus.PACK_CAPACITY} AS start_offset
        FROM pp
    """,
    # tokenize-and-pack: the seq_pack prefix-scan replay over BPE
    # token counts under the frozen DEMO_MERGES table (segmentation
    # replayed via the separator-encoded replace chain, _bpe_count_sql)
    "bpe_pack_plan": f"""
        WITH t AS ({_bpe_count_sql()}),
        p AS (
          SELECT doc_id, n_tokens,
                 coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS prefix
          FROM t)
        SELECT doc_id, n_tokens,
               prefix // {corpus.PACK_CAPACITY} AS start_bin,
               prefix % {corpus.PACK_CAPACITY} AS start_offset
        FROM p
    """,
    # temperature mixing: the same nano-quantized pow pipeline; DuckDB
    # sums BIGINTs to HUGEINT, so the denominator is cast back before
    # the divisions
    "domain_mix_weights": _DOMAIN_MIX_SQL,
    # the mixing plan EXECUTED: per-source keep-probability applied
    # with the content-addressed md5 coin; floor() on both engines
    # (a bare double->BIGINT cast truncates in Spark but rounds in
    # DuckDB)
    "apply_domain_mix": f"""
        WITH mix AS ({_DOMAIN_MIX_SQL})
        SELECT d.doc_id, d.lang, d.source,
               m.sample_rate,
               round(greatest(m.sample_rate, 1.0), 6) AS repeat_factor
        FROM documents d JOIN mix m ON d.source = m.source
        WHERE ('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)),
                              1, 8))::BIGINT
              < floor(least(m.sample_rate, 1.0) * 4294967296.0)
    """,
    # DSIR importance weights / resampling: the shared scoring SQL is
    # _DSIR_WEIGHTS_SQL above; the resample oracle adds the
    # deterministic per-(seed, doc_id) Gumbel draw and the threshold
    "dsir_weights": _DSIR_WEIGHTS_SQL,
    "dsir_resample": f"""
        WITH w AS ({_DSIR_WEIGHTS_SQL}),
        g AS (
          SELECT doc_id, n_feats, logw,
                 round(logw
                       + (-ln(-ln(
                           (('0x' || substr(md5('dsir-g:0:'
                                || CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT
                            + 0.5) / {float(2 ** 56)}))), 6) AS score
          FROM w)
        SELECT doc_id, n_feats, logw, score,
               coalesce(score > -11.0, FALSE) AS selected
        FROM g
    """,
    # bigram LM: identical add-k model and micro-nat quantization; the
    # per-doc sum is over BIGINTs so engine summation order is moot
    "bigram_lm_scores": """
        WITH t AS (
          SELECT doc_id, list_filter(string_split(text, ' '),
                                     x -> x <> '') AS ws
          FROM documents),
        p AS (
          SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
          FROM t, unnest(range(1, greatest(len(ws), 1))) AS r(i)),
        uni AS (SELECT w1, count(*) AS cu FROM
                  (SELECT doc_id, unnest(ws) AS w1 FROM t) GROUP BY w1),
        v AS (SELECT count(*) AS v FROM uni),
        bi AS (SELECT w1, w2, count(*) AS cb FROM p GROUP BY w1, w2),
        lp AS (
          SELECT p.doc_id,
                 CAST(round(ln((bi.cb + 0.5) / (uni.cu + 0.5 * v.v)) * 1e6,
                            0) AS BIGINT) AS lp
          FROM p JOIN bi USING (w1, w2) JOIN uni USING (w1), v),
        g AS (
          SELECT doc_id, count(*) AS n_bigrams,
                 round(-CAST(sum(lp) AS DOUBLE) / 1e6 / count(*), 6) AS xent
          FROM lp GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(coalesce(g.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               g.xent
        FROM documents d LEFT JOIN g USING (doc_id)
    """,
    "seq_pack_segments": f"""
        WITH t AS (
          SELECT doc_id,
                 len(list_filter(string_split(text, ' '), x -> x <> ''))
                     AS n_tokens
          FROM documents),
        p AS (
          SELECT doc_id, n_tokens,
                 coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS prefix
          FROM t),
        b AS (
          SELECT doc_id, n_tokens,
                 prefix // {corpus.PACK_CAPACITY} AS start_bin,
                 prefix % {corpus.PACK_CAPACITY} AS start_offset
          FROM p WHERE n_tokens > 0),
        s AS (
          SELECT doc_id, n_tokens, start_bin, start_offset,
                 unnest(generate_series(0,
                     CAST((start_offset + n_tokens - 1)
                         // {corpus.PACK_CAPACITY} AS BIGINT))) AS k
          FROM b)
        SELECT doc_id,
               start_bin + k AS bin,
               CASE WHEN k = 0 THEN start_offset ELSE 0 END AS pos_in_bin,
               CASE WHEN k = 0 THEN 0
                    ELSE {corpus.PACK_CAPACITY} * k - start_offset
               END AS doc_tok_start,
               least(n_tokens,
                     {corpus.PACK_CAPACITY} * (k + 1) - start_offset)
                 - greatest(0, {corpus.PACK_CAPACITY} * k - start_offset)
                 AS seg_len
        FROM s
    """,
    "training_shuffle": """
        SELECT doc_id,
               row_number() OVER (
                   ORDER BY md5(concat('0', ':', CAST(doc_id AS VARCHAR))),
                            doc_id) - 1 AS shuffle_pos
        FROM documents
    """,
    "seq_pack_plan": f"""
        WITH t AS (
          SELECT doc_id,
                 len(list_filter(string_split(text, ' '), x -> x <> ''))
                     AS n_tokens
          FROM documents),
        p AS (
          SELECT doc_id, n_tokens,
                 coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS prefix
          FROM t)
        SELECT doc_id, n_tokens,
               prefix // {corpus.PACK_CAPACITY} AS start_bin,
               prefix % {corpus.PACK_CAPACITY} AS start_offset
        FROM p
    """,
    "dup_gram_stats": f"""
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        grams AS (
          SELECT doc_id,
                 substr(md5(array_to_string(
                     list_slice(ws, i + 1, i + {corpus.GRAM_N}), ' ')),
                     1, 16) AS gk
          FROM w, unnest(range(CAST(greatest(len(ws) - {corpus.GRAM_N - 1}, 0)
                                    AS BIGINT))) AS t(i)
        ),
        freq AS (SELECT gk, count(*) AS cnt FROM grams GROUP BY gk)
        SELECT g.doc_id AS doc_id, count(*) AS n_grams,
               count(*) FILTER (WHERE f.cnt >= 2) AS n_dup_grams
        FROM grams g JOIN freq f USING (gk) GROUP BY g.doc_id
    """,
    # word-frequency-weighted adjacent character-pair statistics —
    # round 1 of BPE training; ORDER BY cnt DESC, sym_a, sym_b is a
    # total order, so the LIMIT is deterministic on both engines
    "bpe_pair_counts": f"""
        WITH toks AS (
          SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
                     AS word
          FROM documents),
        words AS (SELECT word, count(*) AS wc FROM toks GROUP BY word),
        pairs AS (
          SELECT substr(word, i, 1) AS sym_a,
                 substr(word, i + 1, 1) AS sym_b, wc
          FROM words, unnest(range(1, len(word))) AS t(i)
          WHERE len(word) >= 2)
        SELECT sym_a, sym_b, CAST(sum(wc) AS BIGINT) AS cnt
        FROM pairs GROUP BY sym_a, sym_b
        ORDER BY cnt DESC, sym_a, sym_b LIMIT {tokenizer.PAIR_TOP_K}
    """,
    # sequential count-then-mask replay of corpus.pii_scrub over the
    # same doc_id-derived injection _pii_docs plants on the Spark side;
    # the patterns live in corpus.PII_PATTERNS (the Java-regex/RE2
    # common subset, so both engines match identically)
    "pii_scrub": f"""
        WITH pii AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 2 = 0 THEN
                        ' user' || doc_id || '@ex' || (doc_id % 7) || '.com'
                    ELSE '' END
                 || CASE WHEN doc_id % 3 = 0 THEN
                        ' 10.' || (doc_id % 200) || '.'
                        || ((doc_id * 7) % 250) || '.' || (doc_id % 100)
                    ELSE '' END
                 || CASE WHEN doc_id % 5 = 0 THEN
                        ' +86-138-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE '' END AS text
          FROM documents),
        s1 AS (SELECT doc_id,
                      len(regexp_extract_all(text, '{corpus.PII_PATTERNS[0][1]}'))
                          AS n_email,
                      regexp_replace(text, '{corpus.PII_PATTERNS[0][1]}',
                                     '{corpus.PII_PATTERNS[0][2]}', 'g') AS t
               FROM pii),
        s2 AS (SELECT doc_id, n_email,
                      len(regexp_extract_all(t, '{corpus.PII_PATTERNS[1][1]}'))
                          AS n_ipv4,
                      regexp_replace(t, '{corpus.PII_PATTERNS[1][1]}',
                                     '{corpus.PII_PATTERNS[1][2]}', 'g') AS t
               FROM s1),
        s3 AS (SELECT doc_id, n_email, n_ipv4,
                      len(regexp_extract_all(t, '{corpus.PII_PATTERNS[2][1]}'))
                          AS n_phone,
                      regexp_replace(t, '{corpus.PII_PATTERNS[2][1]}',
                                     '{corpus.PII_PATTERNS[2][2]}', 'g') AS t
               FROM s2)
        SELECT doc_id, n_email, n_ipv4, n_phone, md5(t) AS scrubbed_fp
        FROM s3
    """,
    "contamination_check": """
        WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w
                      FROM documents),
        grams AS (
          SELECT doc_id, md5(array_to_string(w[i:i+12], ' ')) AS g
          FROM docs, unnest(generate_series(1, len(w) - 12)) t(i)
          WHERE len(w) >= 13),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0)
        SELECT c.doc_id,
               count(DISTINCT c.g) AS n_contaminated_ngrams
        FROM grams c JOIN bench USING (g)
        WHERE c.doc_id % 20 <> 0
        GROUP BY c.doc_id
    """,
    # the decontamination EXECUTED: training survivors after dropping
    # every doc sharing any benchmark 13-gram (same split as
    # contamination_check)
    "decontaminated_corpus": """
        WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w
                      FROM documents),
        grams AS (
          SELECT doc_id, md5(array_to_string(w[i:i+12], ' ')) AS g
          FROM docs, unnest(generate_series(1, len(w) - 12)) t(i)
          WHERE len(w) >= 13),
        bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
        hits AS (SELECT DISTINCT c.doc_id
                 FROM grams c JOIN bench USING (g)
                 WHERE c.doc_id % 20 <> 0)
        SELECT doc_id, lang, source, n_chars FROM documents
        WHERE doc_id % 20 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM hits)
    """,
    "banded_pairs_bucket_cap": f"""
        WITH documents AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 20 = 0 THEN '{_BOILERPLATE}'
                      ELSE text END AS text
          FROM main.documents),
        {_DK_BAND_KEYS_CTE},
        sizes AS (SELECT band, band_key, count(*) AS n
                  FROM bk GROUP BY band, band_key),
        bk2 AS (SELECT bk.doc_id, bk.band, bk.band_key
                FROM bk JOIN sizes USING (band, band_key)
                WHERE sizes.n <= 20)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS INT) AS n_bands
        FROM bk2 a JOIN bk2 b
          ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    """,
    "ngram_jaccard_pairs": """
        WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        sh AS (SELECT doc_id,
                      list_distinct(list_transform(generate_series(1, len(w) - 4),
                               i -> md5(array_to_string(w[i:i+4], ' ')))) AS sh,
                      list_min(list_transform(generate_series(1, len(w) - 4),
                               i -> md5(array_to_string(w[i:i+4], ' ')))) AS mh
               FROM w WHERE len(w) >= 5),
        cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM sh a JOIN sh b ON a.mh = b.mh AND a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               round(CAST(len(list_intersect(sa.sh, sb.sh)) AS double)
                       / len(list_distinct(sa.sh || sb.sh)), 6) AS jaccard
        FROM cand JOIN sh sa ON sa.doc_id = doc_a
                  JOIN sh sb ON sb.doc_id = doc_b
    """,
    "dup_clusters": """
        WITH RECURSIVE sig AS (
          SELECT doc_id,
                 list_min(list_transform(generate_series(1, len(words) - 4),
                          i -> md5(array_to_string(words[i:i+4], ' ')))) AS mh
          FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
          WHERE len(words) >= 5),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sig a JOIN sig b ON a.mh = b.mh AND a.doc_id < b.doc_id),
        edges AS (
          SELECT doc_a, doc_b FROM pairs
          UNION ALL
          SELECT doc_b, doc_a FROM pairs),
        reach(doc_id, label) AS (
          SELECT doc_a, doc_a FROM edges
          UNION
          SELECT e.doc_a, r.label
          FROM edges e JOIN reach r ON e.doc_b = r.doc_id)
        SELECT doc_id, min(label) AS cluster_id
        FROM reach GROUP BY doc_id
    """,
    "ivf_assign": """
        WITH e AS (SELECT vec_id, CAST(embedding AS double[]) AS v FROM embeddings),
        c AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id % 100 = 0),
        s AS (SELECT e.vec_id, c.cell_id,
                     row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                                  c.cell_id ASC) AS rn
              FROM e, c)
        SELECT vec_id, cell_id FROM s WHERE rn = 1
    """,
    "knn_cosine_ivf": """
        WITH e AS (SELECT vec_id, CAST(embedding AS double[]) AS v FROM embeddings),
        c AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id % 100 = 0),
        assign AS (
          SELECT vec_id, cell_id FROM (
            SELECT e.vec_id, c.cell_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                                c.cell_id ASC) AS rn
            FROM e, c) WHERE rn = 1),
        ev AS (SELECT e.vec_id, e.v, a.cell_id FROM e JOIN assign a USING (vec_id)),
        q AS (SELECT vec_id AS query_id, v AS qv, cell_id AS qcell
              FROM ev WHERE vec_id % 50 = 0),
        scored AS (
          SELECT q.query_id, ev.vec_id AS neighbor_id,
                 round(list_cosine_similarity(q.qv, ev.v), 6) AS cos
          FROM ev JOIN q ON ev.cell_id = q.qcell AND ev.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM scored)
        SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 10
    """,
    "ivf_recall": """
        WITH e AS (SELECT vec_id, CAST(embedding AS double[]) AS v FROM embeddings),
        c AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id % 100 = 0),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 50 = 0),
        brute AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY round(list_cosine_similarity(q.qv, e.v), 6) DESC,
                                e.vec_id ASC) AS rank
            FROM e JOIN q ON e.vec_id <> q.query_id)
          WHERE rank <= 10),
        assign AS (
          SELECT vec_id, cell_id FROM (
            SELECT e.vec_id, c.cell_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                                c.cell_id ASC) AS rn
            FROM e, c) WHERE rn = 1),
        ev AS (SELECT e.vec_id, e.v, a.cell_id FROM e JOIN assign a USING (vec_id)),
        qq AS (SELECT vec_id AS query_id, v AS qv, cell_id AS qcell
               FROM ev WHERE vec_id % 50 = 0),
        approx AS (
          SELECT query_id, neighbor_id FROM (
            SELECT qq.query_id, ev.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY qq.query_id
                       ORDER BY round(list_cosine_similarity(qq.qv, ev.v), 6) DESC,
                                ev.vec_id ASC) AS rank
            FROM ev JOIN qq ON ev.cell_id = qq.qcell AND ev.vec_id <> qq.query_id)
          WHERE rank <= 10),
        hits AS (
          SELECT b.query_id, count(a.neighbor_id) AS n_hit
          FROM brute b LEFT JOIN approx a
            ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
          GROUP BY b.query_id)
        SELECT count(*) AS n_queries,
               round(CAST(sum(n_hit) AS double) / (count(*) * 10), 6) AS avg_recall
        FROM hits
    """,
    "ivf_kmeans_assign": f"""
        WITH {_DK_KMEANS_CTE}
        SELECT vec_id, cell_id FROM kassign
    """,
    # cluster-balanced selection: the same kassign relation capped at
    # 40 members per cell by the content-addressed md5 rank
    "cluster_balanced_sample": f"""
        WITH {_DK_KMEANS_CTE},
        r AS (
          SELECT vec_id, cell_id,
                 row_number() OVER (
                     PARTITION BY cell_id
                     ORDER BY md5('cbs:' || CAST(vec_id AS VARCHAR)),
                              vec_id) AS cell_rank
          FROM kassign)
        SELECT vec_id, cell_id, cell_rank, cell_rank <= 40 AS kept
        FROM r
    """,
    "ivf_kmeans_recall": f"""
        WITH {_DK_KMEANS_CTE},
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 50 = 0),
        brute AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY round(list_cosine_similarity(q.qv, e.v), 6) DESC,
                                e.vec_id ASC) AS rank
            FROM e JOIN q ON e.vec_id <> q.query_id)
          WHERE rank <= 10),
        ev AS (SELECT e.vec_id, e.v, a.cell_id FROM e JOIN kassign a USING (vec_id)),
        qq AS (SELECT vec_id AS query_id, v AS qv, cell_id AS qcell
               FROM ev WHERE vec_id % 50 = 0),
        approx AS (
          SELECT query_id, neighbor_id FROM (
            SELECT qq.query_id, ev.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY qq.query_id
                       ORDER BY round(list_cosine_similarity(qq.qv, ev.v), 6) DESC,
                                ev.vec_id ASC) AS rank
            FROM ev JOIN qq ON ev.cell_id = qq.qcell AND ev.vec_id <> qq.query_id)
          WHERE rank <= 10),
        hits AS (
          SELECT b.query_id, count(a.neighbor_id) AS n_hit
          FROM brute b LEFT JOIN approx a
            ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
          GROUP BY b.query_id)
        SELECT count(*) AS n_queries,
               round(CAST(sum(n_hit) AS double) / (count(*) * 10), 6) AS avg_recall
        FROM hits
    """,
    "knn_cosine_ivf_probe2": """
        WITH e AS (SELECT vec_id, CAST(embedding AS double[]) AS v FROM embeddings),
        c AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id % 100 = 0),
        ranked_cells AS (
          SELECT e.vec_id, c.cell_id,
                 row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                              c.cell_id ASC) AS rn
          FROM e, c),
        assign AS (SELECT vec_id, cell_id FROM ranked_cells WHERE rn = 1),
        ev AS (SELECT e.vec_id, e.v, a.cell_id FROM e JOIN assign a USING (vec_id)),
        probes AS (SELECT vec_id, cell_id FROM ranked_cells
                   WHERE rn <= 2 AND vec_id % 50 = 0),
        q AS (SELECT p.vec_id AS query_id, p.cell_id AS qcell, e.v AS qv
              FROM probes p JOIN e USING (vec_id)),
        scored AS (
          SELECT DISTINCT q.query_id, ev.vec_id AS neighbor_id,
                 round(list_cosine_similarity(q.qv, ev.v), 6) AS cos
          FROM ev JOIN q ON ev.cell_id = q.qcell AND ev.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, neighbor_id, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM scored)
        SELECT query_id, rank, neighbor_id, cos FROM ranked WHERE rank <= 10
    """,
    "embedding_near_dup": """
        WITH e AS (SELECT vec_id, CAST(embedding AS double[]) AS v FROM embeddings),
        c AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id % 100 = 0),
        assign AS (
          SELECT vec_id, cell_id FROM (
            SELECT e.vec_id, c.cell_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                                c.cell_id ASC) AS rn
            FROM e, c) WHERE rn = 1),
        ev AS (SELECT e.vec_id, e.v, a.cell_id FROM e JOIN assign a USING (vec_id))
        SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos
        FROM ev a JOIN ev b
          ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.25
    """,
    # SemDeDup: the embedding_near_dup candidate edges fed through the
    # dup_clusters_banded recursive-CTE CC replay; survivors = vectors
    # with no edges plus each cluster's minimum vec_id (the propagated
    # label IS the keeper, mirroring dedup_keep_list)
    "semdedup_corpus": """
        WITH RECURSIVE
        e AS (SELECT vec_id, CAST(embedding AS double[]) AS v FROM embeddings),
        c AS (SELECT vec_id AS cell_id, v AS cv FROM e WHERE vec_id % 100 = 0),
        assign AS (
          SELECT vec_id, cell_id FROM (
            SELECT e.vec_id, c.cell_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY round(list_cosine_similarity(e.v, c.cv), 6) DESC,
                                c.cell_id ASC) AS rn
            FROM e, c) WHERE rn = 1),
        ev AS (SELECT e.vec_id, e.v, a.cell_id FROM e JOIN assign a USING (vec_id)),
        cpairs AS (
          SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
          FROM ev a JOIN ev b
            ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
          WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.25),
        edges AS (
          SELECT doc_a, doc_b FROM cpairs
          UNION ALL
          SELECT doc_b, doc_a FROM cpairs),
        reach(doc_id, label) AS (
          SELECT doc_a, doc_a FROM edges
          UNION
          SELECT g.doc_a, r.label
          FROM edges g JOIN reach r ON g.doc_b = r.doc_id),
        clusters AS (
          SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id)
        SELECT emb.vec_id, emb.label
        FROM embeddings emb LEFT JOIN clusters cl ON emb.vec_id = cl.doc_id
        WHERE cl.doc_id IS NULL OR cl.cluster_id = emb.vec_id
    """,
    "knn_cosine_topk": """
        WITH e AS (SELECT vec_id, CAST(embedding AS double[]) AS v FROM embeddings),
        scored AS (
          SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                 round(list_cosine_similarity(q.v, e.v), 6) AS cos
          FROM e JOIN (SELECT * FROM e WHERE vec_id % 500 = 0) q
            ON e.vec_id <> q.vec_id),
        ranked AS (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id ASC) AS rank
          FROM scored)
        SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 10
    """,
    "media_catalog": """
        WITH refs AS (
          SELECT 'm-' || substr(md5(CAST(doc_id AS varchar)), 1, 12) AS media_ref
          FROM documents),
        h AS (SELECT media_ref, md5(media_ref) AS h FROM refs),
        n AS (SELECT media_ref,
                     (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS p1,
                     (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(h, 4, 1)) - 1 AS p3,
                     (strpos('0123456789abcdef', substr(h, 5, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(h, 6, 1)) - 1 AS p5,
                     (strpos('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(h, 8, 1)) - 1 AS p7,
                     (strpos('0123456789abcdef', substr(h, 9, 1)) - 1) * 16
                       + strpos('0123456789abcdef', substr(h, 10, 1)) - 1 AS p9
              FROM h)
        SELECT media_ref,
               ['image', 'audio', 'video'][p1 % 3 + 1] AS media_type,
               ['jpeg', 'png', 'webp', 'gif'][p3 % 4 + 1] AS format,
               CAST(320 + (p5 % 8) * 160 AS int) AS width,
               CAST(240 + (p7 % 8) * 120 AS int) AS height,
               CAST(CASE WHEN p1 % 3 = 2 THEN 1 + p9 % 30 ELSE 1 END AS int)
                 AS n_frames,
               CAST((320 + (p5 % 8) * 160) * (240 + (p7 % 8) * 120) * 3
                    * (CASE WHEN p1 % 3 = 2 THEN 1 + p9 % 30 ELSE 1 END) AS bigint)
                 AS n_bytes
        FROM n
    """,
    "ocr_media_decode_stats": f"""
        WITH {_DK_CREFS_CTE},
        px AS (SELECT media_ref,
                      flatten(list_transform(range(4), b ->
                        list_transform(range(16), j ->
                          {_DK_BLOCK_BYTE.format(b="b")}))) AS px
               FROM refs),
        s AS (SELECT media_ref, list_sum(px) AS s,
                     list_sum(list_transform(px, x -> x * x)) AS ssq
              FROM px)
        SELECT media_ref, 8 AS height, 8 AS width,
               round(CAST(s AS DOUBLE) / 64, 6) AS mean_px,
               round(sqrt(CAST(ssq AS DOUBLE) / 64
                          - (CAST(s AS DOUBLE) / 64) * (CAST(s AS DOUBLE) / 64)),
                     6) AS std_px
        FROM s
    """,
    "ocr_media_frame_sample": f"""
        WITH {_DK_CREFS_CTE},
        meta AS (SELECT media_ref, md5(media_ref) AS ch FROM refs),
        vids AS (SELECT media_ref,
                        CAST(1 + ((strpos('0123456789abcdef', substr(ch, 9, 1)) - 1) * 16
                             + strpos('0123456789abcdef', substr(ch, 10, 1)) - 1) % 30
                          AS INT) AS n_frames
                 FROM meta
                 WHERE ((strpos('0123456789abcdef', substr(ch, 1, 1)) - 1) * 16
                        + strpos('0123456789abcdef', substr(ch, 2, 1)) - 1) % 3 = 2),
        fr AS (SELECT media_ref, CAST(unnest(range(0, n_frames, 5)) AS INT) AS fi
               FROM vids),
        fb AS (SELECT media_ref, fi,
                      list_sum(flatten(list_transform(range(4), b ->
                        list_transform(range(16), j ->
                          {_DK_BLOCK_BYTE.format(b="4 * (fi % 63) + b")})))) AS s
               FROM fr)
        SELECT media_ref, fi AS frame_idx,
               round(CAST(s AS DOUBLE) / 64, 6) AS frame_mean
        FROM fb
    """,
    "straddle_prune": f"""
        WITH {_DK_STRADDLE_CTE}
        SELECT lk.doc_id, lk.link_id, x1, y1, x2, y2
        FROM lk LEFT JOIN crossed c
          ON lk.doc_id = c.doc_id AND lk.link_id = c.link_id
        WHERE c.doc_id IS NULL
    """,
    "mutual_nearest_pair": """
        WITH n AS (
          SELECT event_type, event_id,
                 CASE WHEN prev_id IS NULL THEN next_id
                      WHEN next_id IS NULL THEN prev_id
                      WHEN value - prev_v <= next_v - value THEN prev_id
                      ELSE next_id END AS nearest_id
          FROM (SELECT event_type, event_id, value,
                       lag(event_id)  OVER w AS prev_id,
                       lag(value)     OVER w AS prev_v,
                       lead(event_id) OVER w AS next_id,
                       lead(value)    OVER w AS next_v
                FROM events
                WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)))
        SELECT a.event_type AS event_type, a.event_id AS id_a, b.event_id AS id_b
        FROM n a JOIN n b
          ON a.nearest_id = b.event_id AND b.nearest_id = a.event_id
         AND a.event_id < b.event_id
    """,
    "topk_per_group": """
        SELECT event_type, rank, event_id FROM (
          SELECT event_type, event_id,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY value DESC, event_id ASC) AS rank
          FROM events)
        WHERE rank <= 3
    """,
    "value_band_join": """
        WITH bands AS (
          SELECT event_type, sum(CAST(value AS decimal(28,6))) AS sum_v, count(*) AS n
          FROM events GROUP BY event_type)
        SELECT e.event_id,
               CASE WHEN CAST(e.value AS decimal(28,6)) * b.n < b.sum_v
                    THEN 'low' ELSE 'high' END AS band
        FROM events e JOIN bands b USING (event_type)
    """,
    "sessionize": """
        SELECT user_id, CAST(sum(new_session) AS bigint) AS n_sessions,
               count(*) AS n_events
        FROM (SELECT user_id,
                     CASE WHEN prev_ts IS NULL THEN 1
                          WHEN ts - prev_ts > INTERVAL 1800 SECOND THEN 1
                          ELSE 0 END AS new_session
              FROM (SELECT user_id, ts,
                           lag(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_ts
                    FROM events))
        GROUP BY user_id
    """,
    "pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS decimal(28,6))) AS double) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS decimal(28,6))) AS double) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS decimal(28,6))) AS double) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        GROUP BY l_returnflag, l_linestatus
    """,
    "top_revenue_orders": """
        SELECT o_orderkey,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS decimal(28,6))) AS double) AS revenue
        FROM customer
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "bucketed_order_revenue": """
        SELECT o_orderkey, o_orderstatus, count(*) AS n_items,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS decimal(28,6))) AS double) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderkey, o_orderstatus
    """,
    "event_rollup": """
        SELECT coalesce(event_type, 'ALL') AS event_type, count(*) AS n,
               CAST(sum(CAST(value AS decimal(28,6))) AS double) AS sum_value
        FROM events GROUP BY ROLLUP (event_type)
    """,
    "local_supplier_volume": """
        SELECT n_name,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS decimal(28,6))) AS double) AS revenue
        FROM region
        JOIN nation   ON n_regionkey = r_regionkey
        JOIN customer ON c_nationkey = n_nationkey
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """,
    "order_priority_counts": """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
    """,
    "moving_avg": """
        SELECT user_id, event_id,
               round(avg(value) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                     6) AS avg_recent
        FROM events
    """,
    "value_percentiles": """
        SELECT event_type,
               round(percentile_cont(0.5)  WITHIN GROUP (ORDER BY value), 6) AS p50,
               round(percentile_cont(0.95) WITHIN GROUP (ORDER BY value), 6) AS p95,
               round(percentile_cont(0.99) WITHIN GROUP (ORDER BY value), 6) AS p99
        FROM events GROUP BY event_type
    """,
    "approx_percentile_check": """
        SELECT event_type,
               round(percentile_cont(0.5)  WITHIN GROUP (ORDER BY value), 6) AS p50,
               round(percentile_cont(0.95) WITHIN GROUP (ORDER BY value), 6) AS p95,
               round(percentile_cont(0.99) WITHIN GROUP (ORDER BY value), 6) AS p99,
               TRUE AS within_budget
        FROM events GROUP BY event_type
    """,
    "approx_distinct_check": """
        SELECT count(DISTINCT tok) AS n_exact, TRUE AS within_budget
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        WHERE tok <> ''
    """,
    "unmatched_events": """
        WITH n AS (
          SELECT event_type, event_id,
                 CASE WHEN prev_id IS NULL THEN next_id
                      WHEN next_id IS NULL THEN prev_id
                      WHEN value - prev_v <= next_v - value THEN prev_id
                      ELSE next_id END AS nearest_id
          FROM (SELECT event_type, event_id, value,
                       lag(event_id)  OVER w AS prev_id,
                       lag(value)     OVER w AS prev_v,
                       lead(event_id) OVER w AS next_id,
                       lead(value)    OVER w AS next_v
                FROM events
                WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id))),
        pairs AS (
          SELECT a.event_type, a.event_id AS id_a, b.event_id AS id_b
          FROM n a JOIN n b
            ON a.nearest_id = b.event_id AND b.nearest_id = a.event_id
           AND a.event_id < b.event_id),
        matched AS (
          SELECT event_type, id_a AS event_id FROM pairs
          UNION ALL
          SELECT event_type, id_b AS event_id FROM pairs)
        SELECT e.event_type, count(*) AS n_unmatched
        FROM events e
        WHERE NOT EXISTS (SELECT 1 FROM matched m
                          WHERE m.event_type = e.event_type
                            AND m.event_id = e.event_id)
        GROUP BY e.event_type
    """,
    # F15 sparse label encoding (reference utils.py:235-258): one row
    # per (x, y, value) nonzero; -1 = out-of-vocabulary (the Spark
    # twin of the reference's None/unconverted-list quirk, which a
    # typed column cannot carry)
    "sparse_label_encode": (
        "WITH vocab(c, id) AS (VALUES "
        + ", ".join(
            f"('{c}', {i})" for c, i in sparse._VOCAB.items()
        )
        + """),
        t AS (SELECT doc_id, string_split(substr(text, 1, 12), '') AS cs
              FROM documents),
        ch AS (SELECT doc_id, unnest(cs) AS c,
                      generate_subscripts(cs, 1) - 1 AS y FROM t)
        SELECT ch.doc_id AS x, CAST(ch.y AS INTEGER) AS y,
               CAST(coalesce(v.id, -1) AS INTEGER) AS value
        FROM ch LEFT JOIN vocab v USING (c)
        WHERE ch.c <> ''
    """
    ),
}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
