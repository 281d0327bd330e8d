"""Corpus-construction operators for a web-scale training-data build.

Operators the reference pipeline never had but any 100 TB
training-mix build needs. All are expression-level (the scans stay
inside whole-stage codegen — no Python rows anywhere) and each has an
exact DuckDB oracle in ``__spark_entry__.oracle_sql()``.

- **Line-level exact dedup** (``line_dedup_stats``): the C4 /
  RefinedWeb boilerplate-removal step — drop every repeated line,
  keeping only its globally-first occurrence, and reassemble the
  cleaned document. The synthetic corpus carries no newlines, so a
  "line" here is a fixed ``width``-word chunk (the chunker is the
  only corpus-specific part; on a real crawl pass the natural
  delimiter via ``split_pattern``). Scale shape: lines are reduced to
  a 16-byte key, the keeper is ``min(struct(doc_id, idx))`` with
  map-side partial aggregation — a billion-copy boilerplate line
  ("Subscribe to our newsletter") collapses to ONE row per partition
  before the shuffle, which is why this is a groupBy+join-back and
  deliberately NOT a ``row_number() OVER (PARTITION BY line)`` window
  (the window form would sort the full billion-row group on one
  reducer). The join-back probe is skewed by the same boilerplate;
  that side is a hash-join probe (never a sort) and AQE's skew-join
  splitting handles it.

- **Deterministic stratified sampling** (``stratified_sample``): build
  a language mix by downsampling over-represented strata with a
  content-addressed coin — keep a doc iff the first 8 hex chars of
  ``md5(doc_id)`` fall below the stratum's rate threshold. Map-only:
  ZERO shuffles, no RNG state, reproducible bit-for-bit across
  reruns, cluster sizes and partitionings (``sample()`` is none of
  those), and composable: a later re-run at a lower rate selects a
  strict subset.

- **Duplicated n-gram span stats** (``dup_gram_stats``): the
  exact-substring-dedup signal of Lee et al. 2021 ("Deduplicating
  Training Data Makes Language Models Better") at n-gram
  granularity: for every document, how many of its word ``n``-grams
  occur elsewhere in the corpus. Grams are reduced to 64-bit-ish keys
  (16 hex chars of md5) before the shuffle, so the exchange carries
  ~24 bytes per gram, never text. The doc-frequency aggregate is
  map-side partial; the count join-back is an equi hash join (AQE
  skew-split on boilerplate grams). Emits integer numerators and
  denominators only — the caller derives the fraction — so the gate
  hash never compares floats.

``corpus_pipeline`` composes all of the above plus the Gopher-style
quality gate into the single DataFrame plan a production corpus build
submits: quality filter -> line dedup -> document dedup on the cleaned
text -> stratified sample.

- **PII scrubbing** (``pii_scrub``): the CCNet/Dolma-style safety
  pass — count and mask emails, IPv4 addresses and phone numbers with
  a fixed, ordered regex table. Map-only (zero shuffles); the
  patterns are restricted to the regex subset on which Java regex
  (Spark) and RE2 (DuckDB) agree, so the oracle replays the same
  sequential count-then-mask chain exactly.

The packing family finishes the build: ``seq_pack_plan`` assigns
every document its (bin, offset) under concatenate-and-split packing
via a distributed two-phase token prefix scan, ``seq_pack_segments``
explodes that into the per-(document, bin) slice manifest an executor
runs, and ``training_shuffle`` issues the reproducible global read
order — all partition-invariant, so a resumed or re-scaled job
produces a bit-identical layout.

No reference counterpart (inventory: docs/COVERAGE.md "Round-5
additions"); these extend the dedup family in
ocr_spark/operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ocr_spark.operators.dedup import _spread
from ocr_spark.operators.textstats import STOPWORDS as _STOPWORDS

LINE_WORDS = 16
GRAM_N = 8

# Default mix policy for the gated query: halve 'en' (the synthetic
# corpus's over-represented stratum), thin 'zh' to 3/4, keep the rest.
DEFAULT_RATES: dict[str, float] = {"en": 0.25, "zh": 0.75}


def _doc_lines(docs: DataFrame, width: int) -> DataFrame:
    """Explode documents into (doc_id, idx, line) fixed-width word
    chunks. ``size(split(...))`` >= 1 always (Spark splits '' to ['']),
    so the sequence upper bound is >= 0 and never runs backwards.

    The token array is LET-BOUND via the transform-over-singleton
    trick (same hazard as textstats.repetition_ratios): a plain staged
    ``split`` column gets re-inlined into the chunk lambda by
    CollapseProject and re-splits the document once PER CHUNK —
    O(words^2) per document, measured 2.5x on the whole operator at
    sf0.1."""
    chunks = F.expr(
        f"""transform(array(split(text, ' ')), ws ->
              transform(sequence(0, cast(ceil(size(ws) / {width}.0) as int) - 1),
                        i -> concat_ws(' ', slice(ws, i * {width} + 1, {width}))))[0]"""
    )
    return _spread(docs).select(
        "doc_id", F.posexplode(chunks).alias("idx", "line")
    )


def line_dedup_stats(docs: DataFrame, width: int = LINE_WORDS) -> DataFrame:
    """Global line-level exact dedup: a line instance survives iff it is
    the corpus-wide FIRST occurrence of its content, ordered by
    (doc_id, idx). Returns one row per document:

      doc_id, n_lines, n_kept, kept_text (surviving lines re-joined in
      document order; '' when every line of the doc appeared earlier
      elsewhere).

    min(struct(doc_id, idx)) per line key == the first occurrence under
    lexicographic (doc_id, idx) — the same total order the oracle's
    row_number() uses."""
    lines = _doc_lines(docs, width).withColumn("lk", F.md5("line"))
    keepers = lines.groupBy("lk").agg(
        F.min(F.struct("doc_id", "idx")).alias("keeper")
    )
    flagged = lines.join(keepers, "lk").select(
        "doc_id",
        "idx",
        "line",
        (F.struct("doc_id", "idx") == F.col("keeper")).alias("kept"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.concat_ws(
            " ",
            F.expr(
                "transform(array_sort(collect_list(CASE WHEN kept THEN"
                " struct(idx, line) END)), x -> x.line)"
            ),
        ).alias("kept_text"),
    )


def sample_cond(rates: dict[str, float] | None = None):
    """The deterministic sampling predicate as a Column, reusable by
    any plan stage: keep a row iff substr(md5(doc_id), 1, 8) <
    floor(rate * 16^8) formatted as 8 lowercase hex digits (lowercase
    hex compares identically as string and as number). Strata absent
    from ``rates`` (and any rate >= 1.0) keep everything; rate <= 0
    drops the stratum."""
    policy = DEFAULT_RATES if rates is None else rates
    u = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
    cond = F.lit(True)
    for lang, rate in sorted(policy.items()):
        if rate >= 1.0:
            keep = F.lit(True)
        elif rate <= 0.0:
            keep = F.lit(False)
        else:
            keep = u < F.lit(format(int(rate * 16**8), "08x"))
        cond = F.when(F.col("lang") == lang, keep).otherwise(cond)
    return cond


def stratified_sample(
    docs: DataFrame, rates: dict[str, float] | None = None
) -> DataFrame:
    """Deterministic per-stratum downsampling (see ``sample_cond``).
    Purely a filter over the scan — the plan carries no Exchange at
    all."""
    return docs.where(sample_cond(rates)).select("doc_id", "lang", "source")


MIN_TOKENS = 20
MIN_STOP_PCT = 2  # stopword floor as an integer percent — exact on both engines


def corpus_pipeline(
    docs: DataFrame,
    min_tokens: int = MIN_TOKENS,
    min_stop_pct: int = MIN_STOP_PCT,
    width: int = LINE_WORDS,
    rates: dict[str, float] | None = None,
) -> DataFrame:
    """The end-to-end training-corpus build, composed from the gated
    operators into ONE DataFrame plan — the job shape a 100 TB corpus
    run actually submits:

      1. Gopher-style quality gate (map-only): drop documents with
         fewer than ``min_tokens`` words or a stopword share below
         ``min_stop_pct`` percent. The floor compares integers
         (``stop_count * 100 >= pct * n_tokens``) so the gate can
         never drift between engines on float rounding.
      2. Line-level exact dedup (``line_dedup_stats`` over the
         SURVIVORS — rejected docs claim no lines); documents whose
         every line appeared earlier are dropped.
      3. Document-level exact dedup on the CLEANED text: keeper =
         min(doc_id) per md5(kept_text), map-side partial agg + equi
         join-back, same shape as the line keeper.
      4. Deterministic stratified sampling (``sample_cond`` — a pure
         filter, last so the mix is drawn from the deduplicated pool).

    Returns one row per surviving document:
    (doc_id, lang, source, n_lines, n_kept, n_tokens_kept, content_fp)
    — content_fp = md5 of the cleaned text, so the correctness gate
    hashes the pipeline's actual output content without shipping
    full text through the compare."""
    sw = ", ".join(f"'{w}'" for w in _STOPWORDS)
    # let-bound token array (one split per row, not three)
    quality = docs.where(
        F.expr(
            f"""transform(array(filter(split(text, ' '), x -> x <> '')), toks ->
                  size(toks) >= {min_tokens}
                  AND size(filter(toks, x -> x IN ({sw}))) * 100
                      >= {min_stop_pct} * size(toks))[0]"""
        )
    )
    stats = line_dedup_stats(quality, width).where(F.col("n_kept") > 0)
    fp = stats.withColumn("content_fp", F.md5("kept_text"))
    keepers = fp.groupBy("content_fp").agg(F.min("doc_id").alias("keeper"))
    deduped = (
        fp.join(keepers, "content_fp")
        .where(F.col("doc_id") == F.col("keeper"))
        .drop("keeper")
    )
    return (
        deduped.join(quality.select("doc_id", "lang", "source"), "doc_id")
        .where(sample_cond(rates))
        .select(
            "doc_id",
            "lang",
            "source",
            "n_lines",
            "n_kept",
            F.size(F.split("kept_text", " ")).alias("n_tokens_kept"),
            "content_fp",
        )
    )


PACK_CAPACITY = 1024
PACK_BLOCK = 4096  # doc_ids per prefix-sum block


def seq_pack_plan(
    docs: DataFrame,
    capacity: int = PACK_CAPACITY,
    block: int = PACK_BLOCK,
    base_tokens: int = 0,
) -> DataFrame:
    """Deterministic sequence-packing plan: stream documents in doc_id
    order into fixed-``capacity`` token bins (concatenate-and-split
    packing — documents may straddle a bin boundary), and emit where
    each document starts: (doc_id, n_tokens, start_bin, start_offset).

    The global token prefix sum is computed as a distributed two-phase
    scan, NOT a single global window (``Window.orderBy(doc_id)`` with
    no partition key collapses the whole corpus onto one reducer):

      1. block-local cumsum — window partitioned by
         ``floor(doc_id / block)``, which is monotone in doc_id, so
         block-local order + block offsets compose to the global
         order;
      2. per-block totals (map-side partial sum) cumsummed on the
         tiny block relation (#blocks = corpus / block rows; at
         10^12 documents with the default block this is ~10^8 — if
         that ever matters, the same construction nests one more
         level);
      3. equi join-back of the block offsets (broadcast-sized).

    The output depends only on (doc_id, n_tokens, capacity) — NOT on
    the physical partitioning — so re-running at any cluster size
    yields bit-identical packing, which is what makes a resumable
    100 TB tokenize-and-pack job possible."""
    counts = _spread(docs).select(
        "doc_id",
        F.expr("size(filter(split(text, ' '), x -> x <> ''))").alias(
            "n_tokens"
        ),
    )
    return _pack_from_counts(counts, capacity, block, base_tokens)


def _pack_from_counts(
    counts: DataFrame, capacity: int, block: int, base_tokens: int = 0
) -> DataFrame:
    """The two-phase prefix scan over a (doc_id, n_tokens) relation —
    shared by seq_pack_plan (counts from the raw text) and
    corpus_pack_plan (counts from the cleaned pipeline output).

    ``base_tokens`` makes the resumability claim operational for an
    append-only corpus: pass the previous run's total token count and
    the new batch packs exactly where a from-scratch run over the
    union would have placed it — packing whole corpus = packing batch
    A, then batch B at base_tokens = sum(A.n_tokens). The incremental
    job touches only the NEW documents (one scan of the appended
    partition plus one scalar carried from the snapshot), which is
    what makes daily top-ups of a 100 TB packed corpus O(batch), not
    O(corpus)."""
    d = counts.withColumn("blk", F.floor(F.col("doc_id") / block))

    local_w = (
        Window.partitionBy("blk")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d.withColumn(
        "local_prefix", F.sum("n_tokens").over(local_w) - F.col("n_tokens")
    )
    offsets_w = (
        Window.orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        d.groupBy("blk")
        .agg(F.sum("n_tokens").alias("blk_total"))
        .withColumn(
            "blk_offset",
            F.sum("blk_total").over(offsets_w) - F.col("blk_total"),
        )
        .select("blk", "blk_offset")
    )
    return (
        local.join(F.broadcast(offsets), "blk")
        .withColumn(
            "prefix",
            F.lit(base_tokens).cast("long")
            + F.col("blk_offset")
            + F.col("local_prefix"),
        )
        # integer `div`, not floor(double /): Spark's `/` on bigints
        # goes through float64, exact only below 2^53 total tokens —
        # `div` keeps the bin arithmetic exact at any corpus size,
        # matching the oracle's integer `//`
        .select(
            "doc_id",
            "n_tokens",
            F.expr(f"prefix div {capacity}").cast("long").alias("start_bin"),
            (F.col("prefix") % capacity).cast("long").alias("start_offset"),
        )
    )


def corpus_pack_plan(
    docs: DataFrame,
    capacity: int = PACK_CAPACITY,
    block: int = PACK_BLOCK,
    base_tokens: int = 0,
    **pipeline_kwargs,
) -> DataFrame:
    """The full corpus build chained into its packing layout as ONE
    DataFrame plan: Gopher quality gate -> line dedup -> document
    dedup -> stratified sample (``corpus_pipeline``) -> deterministic
    sequence packing over the SURVIVORS' cleaned token counts
    (``_pack_from_counts``). This is the job a training-data run
    submits end-to-end; every stage is individually oracle-gated and
    the composition has its own DuckDB replay."""
    pool = corpus_pipeline(docs, **pipeline_kwargs).select(
        "doc_id", F.col("n_tokens_kept").alias("n_tokens")
    )
    return _pack_from_counts(pool, capacity, block, base_tokens)


def seq_pack_segments(
    docs: DataFrame,
    capacity: int = PACK_CAPACITY,
    block: int = PACK_BLOCK,
    base_tokens: int = 0,
) -> DataFrame:
    """Explode the packing plan into the per-(document, bin) segment
    manifest a tokenize-and-pack executor actually runs: one row per
    contiguous slice of a document inside one bin —

      doc_id, bin, pos_in_bin (where the slice starts inside the
      bin), doc_tok_start (where it starts inside the document),
      seg_len.

    Every bin's segments tile [0, capacity) exactly (the last bin may
    be ragged), and a document's segments concatenate back to the
    document — invariants pinned in tests. The explode is
    expression-level over the plan (a document touches
    floor((start_offset + n_tokens - 1)/capacity) + 1 bins); zero-token
    documents contribute no segments. Downstream, repartitioning by
    ``bin`` gives each writer task whole bins to assemble — the shuffle
    carries (doc_id, offsets) manifest rows, never token payloads."""
    plan = seq_pack_plan(docs, capacity, block, base_tokens)
    c = float(capacity)
    segs = F.expr(
        f"""transform(
              sequence(0, cast(floor((start_offset + n_tokens - 1) / {c}) as int)),
              k -> struct(
                start_bin + k AS bin,
                CASE WHEN k = 0 THEN start_offset ELSE 0 END AS pos_in_bin,
                CASE WHEN k = 0 THEN 0L
                     ELSE cast({capacity} * k - start_offset as long) END
                    AS doc_tok_start,
                cast(least(n_tokens, {capacity} * (k + 1) - start_offset)
                     - greatest(0L, {capacity} * k - start_offset) as long)
                    AS seg_len))"""
    )
    return (
        plan.where(F.col("n_tokens") > 0)
        .select("doc_id", F.explode(segs).alias("s"))
        .select(
            "doc_id",
            F.col("s.bin").cast("long").alias("bin"),
            F.col("s.pos_in_bin").cast("long").alias("pos_in_bin"),
            F.col("s.doc_tok_start").alias("doc_tok_start"),
            F.col("s.seg_len").alias("seg_len"),
        )
    )


SHUFFLE_PREFIX_HEX = 2  # 16^2 = 256 hash-prefix blocks


def training_shuffle(
    docs: DataFrame,
    seed: int = 0,
    prefix_hex: int = SHUFFLE_PREFIX_HEX,
) -> DataFrame:
    """Deterministic global training-order shuffle: assign every
    document a ``shuffle_pos`` in [0, N) — a reproducible permutation
    keyed by (seed, doc_id), the ordering a training run reads the
    packed corpus in. Changing ``seed`` yields an independent
    permutation; re-running at any cluster size or input partitioning
    yields the SAME one (``df.sample``/``rand()`` are neither).

    The naive form — ``row_number() OVER (ORDER BY md5(...))`` — is a
    global sort whose final rank assignment runs on one reducer. This
    is the same two-phase scan as ``seq_pack_plan``, with the block
    key taken from the sort key itself: the first ``prefix_hex`` hex
    chars of the md5 shuffle key partition the key space into
    16^prefix_hex lexicographic ranges that are uniform by md5's
    output distribution (no pre-sampling range partitioner needed,
    unlike a general sort):

      1. rank within each prefix block (window sort over ~N/256
         rows — raise ``prefix_hex`` as the corpus grows: 4 hex chars
         = 65536 blocks keeps blocks ~15M rows at 10^12 docs);
      2. per-block counts (map-side partial) cumsummed on the tiny
         block relation;
      3. broadcast join-back; global pos = block offset + local rank.

    Ties on the full 32-hex key are broken by doc_id, making the
    permutation total even under md5 collisions."""
    d = _spread(docs).select(
        "doc_id",
        F.md5(
            F.concat_ws(":", F.lit(str(seed)), F.col("doc_id").cast("string"))
        ).alias("sk"),
    ).withColumn("blk", F.substring("sk", 1, prefix_hex))

    local_w = Window.partitionBy("blk").orderBy("sk", "doc_id")
    local = d.withColumn("local_rank", F.row_number().over(local_w) - 1)
    offsets_w = (
        Window.orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        d.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("blk_n"))
        .withColumn(
            "blk_offset", F.sum("blk_n").over(offsets_w) - F.col("blk_n")
        )
        .select("blk", "blk_offset")
    )
    return (
        local.join(F.broadcast(offsets), "blk")
        .select(
            "doc_id",
            (F.col("blk_offset") + F.col("local_rank"))
            .cast("long")
            .alias("shuffle_pos"),
        )
    )


# The PII table is ORDERED: each pattern counts and masks over the
# text AFTER the previous patterns' replacements (an email's host can
# contain an IPv4-shaped substring; masking the email first keeps the
# two counters disjoint). Patterns stay inside the common subset of
# Java regex (Spark executors) and RE2 (the DuckDB oracle): character
# classes, bounded repetition and ASCII \b only — no backreferences,
# no lookaround — so both engines produce identical matches.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9]{1,3}-[0-9]{3,4}-[0-9]{4,7}\b", "<PHONE>"),
)


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Count and mask PII occurrences per document. Returns one row per
    document: (doc_id, n_email, n_ipv4, n_phone, scrubbed_fp) where
    scrubbed_fp = md5 of the fully-masked text — the gate hashes the
    scrub's actual output content without shipping full text through
    the compare (same trick as ``corpus_pipeline``'s content_fp).

    Map-only over the scan: no Exchange in the plan at all, so at
    100 TB this runs at scan speed with zero cross-executor traffic.
    The counts are defined SEQUENTIALLY (pattern k counts on the text
    with patterns 1..k-1 already masked); the recomputation that
    implies inside one projection is a few extra regex passes per row
    — cheap next to the scan — and buys an unambiguous cross-engine
    contract the DuckDB oracle replays verbatim."""
    cur = F.col("text")
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(
            F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        cur = F.regexp_replace(cur, pat, token)
    # deliberately NO _spread: the contract is zero Exchange (pinned by
    # the plan audit) — at corpus scale the scan's input splits supply
    # the parallelism, and a repartition would shuffle full text
    return docs.select("doc_id", *counts, F.md5(cur).alias("scrubbed_fp"))


def dup_gram_stats(docs: DataFrame, n: int = GRAM_N) -> DataFrame:
    """Per-document duplicated n-gram exposure: n_grams = word n-grams
    in the doc, n_dup_grams = how many of those positions carry a gram
    whose GLOBAL occurrence count (across and within documents) is
    >= 2. Documents shorter than n words have no grams and are absent
    from the output (the oracle builds from the gram set too)."""
    # let-bound token array (see _doc_lines) — an inlined split would
    # re-tokenize the document once per gram
    gram_keys = F.expr(
        f"""transform(array(split(text, ' ')), ws ->
              CASE WHEN size(ws) < {n} THEN array()
                   ELSE transform(sequence(0, size(ws) - {n}),
                        i -> substring(md5(concat_ws(' ', slice(ws, i + 1, {n}))), 1, 16))
              END)[0]"""
    )
    grams = _spread(docs).select(
        "doc_id", F.explode(gram_keys).alias("gk")
    )
    freq = grams.groupBy("gk").agg(F.count("*").alias("cnt"))
    return (
        grams.join(freq, "gk")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum((F.col("cnt") >= 2).cast("long")).alias("n_dup_grams"),
        )
    )


# -- domain mixture planning -------------------------------------------------

MIX_ALPHA = 0.3


def domain_mix_weights(docs: DataFrame, alpha: float = MIX_ALPHA) -> DataFrame:
    """Temperature-scaled source-mixing plan — the multinomial
    alpha-sampling recipe (XLM-R's alpha=0.3 / the LLaMA data-mix
    shape): a source holding token share p_i is sampled with
    probability q_i proportional to p_i^alpha, flattening the head and
    lifting the long tail of domains.

    Shape at scale: ONE map-side-partial aggregate over the corpus
    (tokens collapse to one long per source per map partition before
    the exchange), then every derived quantity lives on the tiny
    per-source relation — its global total joins back as a broadcast
    single-row aggregate (the accepted two-tiny-aggregates pattern,
    see plans/extract.py's invariants query). Determinism: pow()
    outputs are quantized to nano-units (BIGINT) before the
    cross-source sum, so q never depends on float summation order.

    Returns (source, n_docs, n_tokens, p, q, sample_rate) where
    sample_rate = q/p is the per-document keep-probability multiplier
    a sampler applies within the source (>1 = oversample)."""
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.expr("size(filter(split(text, ' '), x -> x <> ''))")).alias(
            "n_tokens"
        ),
    )
    tot = per.agg(F.sum("n_tokens").alias("tot"))
    shared = per.crossJoin(F.broadcast(tot)).withColumn(
        "p", F.col("n_tokens") / F.col("tot")
    )
    nano = F.round(F.pow("p", F.lit(float(alpha))) * 1e9, 0).cast("long")
    scored = shared.withColumn("s_nano", nano)
    denom = scored.agg(F.sum("s_nano").alias("denom"))
    return (
        scored.crossJoin(F.broadcast(denom))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round("p", 6).alias("p"),
            F.round(F.col("s_nano") / F.col("denom"), 6).alias("q"),
            F.round(
                (F.col("s_nano") / F.col("denom")) / F.col("p"), 6
            ).alias("sample_rate"),
        )
    )


# -- importance-weighted data selection (DSIR) -------------------------------

DSIR_BUCKETS = 4096
DSIR_K = 0.5
DSIR_THRESHOLD = -11.0
DSIR_SEED = 0


def _dsir_features(docs: DataFrame) -> DataFrame:
    """Explode documents into the DSIR hashed-feature stream: every
    word unigram and word bigram, mapped to a bucket id in
    ``[0, DSIR_BUCKETS)`` via the first 14 hex chars of md5 (56 bits,
    sign-safe in a BIGINT; md5 so the DuckDB oracle hashes
    identically — ``('0x' || hex)::BIGINT`` on that side,
    ``conv(hex, 16, 10)`` here). The token array is let-bound via the
    transform-over-singleton trick (see ``_doc_lines``) and the
    bigram array comes from ``zip_with`` over shifted slices — NOT
    ``sequence(1, size - 1)``, which descends for empty docs."""
    feats = F.expr(
        """transform(array(filter(split(text, ' '), x -> x <> '')), ws ->
             concat(ws,
               zip_with(slice(ws, 1, greatest(size(ws) - 1, 0)),
                        slice(ws, 2, greatest(size(ws) - 1, 0)),
                        (a, b) -> concat(a, ' ', b))))[0]"""
    )
    return _spread(docs).select(
        "doc_id", F.explode(feats).alias("f")
    ).select(
        "doc_id",
        F.pmod(
            F.expr("cast(conv(substring(md5(f), 1, 14), 16, 10) as bigint)"),
            F.lit(DSIR_BUCKETS),
        ).alias("b"),
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    buckets: int = DSIR_BUCKETS,
    k: float = DSIR_K,
) -> DataFrame:
    """DSIR-style importance weighting for target-distribution data
    selection (Xie et al. 2023, "Data Selection for Language Models
    via Importance Resampling"): score every raw document by how much
    more likely its hashed n-gram features are under the TARGET
    distribution than under the raw-corpus distribution,

        logw(x) = sum_f [ log p_hat(b(f)) - log q_hat(b(f)) ],

    where f ranges over the document's word unigrams and bigrams,
    b(f) is a ``buckets``-way hash, and p_hat / q_hat are add-k
    smoothed bucket distributions fit on ``target`` / ``docs``.
    Selection is a trivial downstream ``ORDER BY logw DESC LIMIT n``
    (or Gumbel-noised resampling) over this output.

    Shape at scale: both distributions are ONE map-side-partial
    aggregate each, collapsing the corpus to <= ``buckets`` rows
    before any exchange; the per-bucket log-ratio table (<= 4096
    rows) is explicitly broadcast back onto the feature stream, so
    scoring is map-only plus a single groupBy(doc_id). No feature
    text ever crosses an exchange — only (doc_id, bucket) pairs.
    Determinism: each bucket's log-ratio is quantized to micro-nats
    (BIGINT) before the per-doc sum (the ``bigram_lm_scores``
    discipline), so logw never depends on float summation order.

    Returns (doc_id, n_feats, logw) for every raw document; logw is
    NULL for empty documents (no feature evidence), and identically 0
    when ``target`` equals ``docs`` (the ratios cancel exactly)."""
    raw = _dsir_features(docs)
    tgt = _dsir_features(target)
    cq = raw.groupBy("b").agg(F.count("*").alias("cq"))
    cp = tgt.groupBy("b").agg(F.count("*").alias("cp"))
    # totals derive from the <= `buckets`-row count relations, NOT from
    # re-aggregating the feature stream — the corpus-sized explode is
    # evaluated once per distribution, not twice (DataFrame subtrees
    # are re-executed per reference; an agg over the tiny relation is
    # free). coalesce(0) covers an empty target (sum over no rows).
    nq = cq.agg(F.coalesce(F.sum("cq"), F.lit(0)).alias("nq"))
    np_ = cp.agg(F.coalesce(F.sum("cp"), F.lit(0)).alias("np"))
    kb = F.lit(float(k) * buckets)
    lr = F.round(
        (
            F.log((F.coalesce("cp", F.lit(0)) + F.lit(float(k)))
                  / (F.coalesce("np", F.lit(0)) + kb))
            - F.log((F.col("cq") + F.lit(float(k))) / (F.col("nq") + kb))
        )
        * 1e6,
        0,
    ).cast("long")
    ratio = (
        cq.join(cp, "b", "left")
        .crossJoin(F.broadcast(nq))
        .crossJoin(F.broadcast(np_))
        .select("b", lr.alias("lr"))
    )
    scored = (
        raw.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_feats"),
            F.round(F.sum("lr") / 1e6, 6).alias("logw"),
        )
    )
    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            "logw",
        )
    )


def dsir_target_split(docs: DataFrame, prefix_lt: str = "4") -> DataFrame:
    """Deterministic pseudo-random target split for the gated
    ``dsir_weights`` query: a doc lands in the target iff the first
    hex char of ``md5('dsir-t:' || doc_id)`` sorts below
    ``prefix_lt`` (default '4' = a 1/4 sample). Content-addressed
    like ``stratified_sample`` — map-only, reproducible at any
    cluster size. A real run passes a genuine target corpus (the
    downstream eval/domain set) instead."""
    coin = F.substring(
        F.md5(F.concat(F.lit("dsir-t:"), F.col("doc_id").cast("string"))),
        1,
        1,
    )
    return docs.where(coin < F.lit(prefix_lt))


def dsir_resample(
    docs: DataFrame,
    target: DataFrame,
    threshold: float = DSIR_THRESHOLD,
    seed: int = DSIR_SEED,
    buckets: int = DSIR_BUCKETS,
    k: float = DSIR_K,
) -> DataFrame:
    """The selection step of DSIR: Gumbel-perturbed thresholding over
    ``dsir_weights`` scores. The paper resamples the top-n documents
    by ``logw + g`` with i.i.d. Gumbel(0, 1) noise ``g`` — equivalent
    to sampling without replacement proportional to the importance
    weights, so near-clones of the target don't crowd out coverage.
    Here ``g`` is derived deterministically per (seed, doc_id):
    u = (md5-56-bit + 0.5) / 2^56 in (0, 1), g = -ln(-ln(u)) — the
    content-addressed-coin discipline of ``stratified_sample``, so
    the selection is reproducible at any cluster size and a re-run
    with a new seed draws an independent noise vector.

    Selection is ``score > threshold`` — a MAP-ONLY pass over the
    scored relation, not a global top-n sort: at 10^12 documents a
    production run picks the threshold once from the score
    distribution (``approx_percentile(score, 1 - keep_frac)`` on a
    sample, or this module's two-phase rank machinery for an exact
    cut) and then selects at scan speed. Returns every raw document
    as (doc_id, n_feats, logw, score, selected); score is NULL and
    selected false for empty documents (no feature evidence)."""
    w = dsir_weights(docs, target, buckets=buckets, k=k)
    u = (
        F.expr(
            "cast(conv(substring(md5(concat('dsir-g:', "
            f"'{int(seed)}', ':', cast(doc_id as string))), 1, 14), "
            "16, 10) as bigint)"
        )
        + F.lit(0.5)
    ) / F.lit(float(2 ** 56))
    g = -F.log(-F.log(u))
    score = F.round(F.col("logw") + g, 6)
    return w.select(
        "doc_id",
        "n_feats",
        "logw",
        score.alias("score"),
        F.coalesce(score > F.lit(float(threshold)), F.lit(False)).alias(
            "selected"
        ),
    )


def corpus_report(docs: DataFrame) -> DataFrame:
    """One-row corpus datasheet (the release-notes summary a corpus
    build publishes — Datasheets for Datasets, Gebru et al. 2021):
    document/token/char totals, language and source cardinalities,
    empty-document and exact-duplicate counts. Everything is integer
    or exactly-derived arithmetic, so the row hashes identically on
    any engine and partitioning.

    Shape at scale: ONE map-side-partial aggregate over the corpus
    for the totals (the exchange carries one partial row per map
    partition), plus an md5-key duplicate subaggregate bounded by
    DISTINCT fingerprints (the dedup_exact relation) — the corpus is
    scanned twice, text never shuffles (16-byte keys only), and the
    output is a single row."""
    toks = F.expr("size(filter(split(text, ' '), x -> x <> ''))")
    totals = _spread(docs).agg(
        F.count("*").alias("n_docs"),
        F.sum(toks).alias("n_tokens"),
        F.sum(F.length("text")).alias("n_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum((toks == 0).cast("long")).alias("n_empty_docs"),
        F.min(toks).cast("long").alias("min_doc_tokens"),
        F.max(toks).cast("long").alias("max_doc_tokens"),
    )
    dup = (
        _spread(docs)
        .groupBy(F.md5("text").alias("fp"))
        .agg(F.count("*").alias("n"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("n") >= 2, F.col("n"))), F.lit(0)
            ).alias("n_exact_dup_docs"),
            F.coalesce(
                F.sum(F.when(F.col("n") >= 2, F.col("n") - 1)), F.lit(0)
            ).alias("n_redundant_docs"),
        )
    )
    return totals.crossJoin(F.broadcast(dup))


def apply_domain_mix(docs: DataFrame, alpha: float = MIX_ALPHA) -> DataFrame:
    """Execute the ``domain_mix_weights`` plan (the planning/execution
    split of dedup_summary vs dedupped_corpus): downsample each source
    by its keep-probability ``min(sample_rate, 1)`` with the
    content-addressed md5 coin — map-only after the broadcast join of
    the #sources-row rate relation, deterministic at any cluster
    size. A source with sample_rate > 1 keeps every document and
    reports the residual as ``repeat_factor`` (> 1 = how many extra
    epochs the training reader owes the source — a filter cannot
    replicate rows, and deterministic replication belongs to the
    reader's epoch schedule, not the corpus).

    floor() is applied explicitly to the coin threshold: a bare
    double->long cast truncates in Spark but ROUNDS in DuckDB, so the
    oracle would disagree on boundary coins without it. Returns the
    surviving (doc_id, lang, source, sample_rate, repeat_factor)."""
    mix = domain_mix_weights(docs, alpha).select("source", "sample_rate")
    coin = F.expr(
        "cast(conv(substring(md5(concat('mix:', cast(doc_id as string))),"
        " 1, 8), 16, 10) as bigint)"
    )
    keep = coin < F.floor(
        F.least(F.col("sample_rate"), F.lit(1.0)) * F.lit(4294967296.0)
    )
    return (
        docs.join(F.broadcast(mix), "source")
        .where(keep)
        .select(
            "doc_id",
            "lang",
            "source",
            "sample_rate",
            F.round(F.greatest(F.col("sample_rate"), F.lit(1.0)), 6).alias(
                "repeat_factor"
            ),
        )
    )
