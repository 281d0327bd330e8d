"""The extraction job plan.

Physical strategy (designed for 10^12-document scale, exercised on
local[N]):

    corpus scan (doc_id, spans)
      ├── light docs (media spans <= HEAVY_MEDIA_SPANS)
      │     [salted repartition: hash(doc_id) mod buckets
      │      — only when needed, see below]
      │     -> mapInArrow(extract_doc_batch_arrow)     [no shuffle after]
      └── heavy docs (the ~1% media-heavy skew tail)
            explode(spans)     -> per-SPAN rows         [splits hot docs]
            repartition on hash(doc_id, offset)         [uniform units]
            -> mapInPandas(extract_span_batch)
            -> window row_number() over (doc_id ORDER BY offset, seq)
    union

Why: extraction is per-document, so the only skew risk is a single
document whose media cost dwarfs the batch median (FIXTURES.md: 50-200
media spans vs 2-5). AQE cannot split one Arrow batch created by one
hot row, so the plan splits those documents into per-span work units
BEFORE the python workers see them — explicit skew handling as
required by the north rule. The light path avoids the ordering
shuffle entirely (order is computed inside the kernel).

Salting policy (``salt=``): the light-path repartition exists to
de-correlate per-row COST from the physical layout — vital when the
input is clustered by cost (e.g. ingest order correlates with media
density), pure overhead when the input is already hash-bucketed by
doc_id (the production Iceberg spec) with enough partitions: dropping
it removes a full shuffle of the corpus (measured both ways in
BENCH/scaling.json: 11x WIN on the cost-sorted adversarial layout,
~20% pure cost on the hash-uniform one). ``salt='auto'`` (default)
repartitions unconditionally when the scan has fewer partitions than
the cluster's cores, consults the bounded ``layout_skew_probe`` in
the 1-to-4-waves band, and never fires beyond 4 waves per core;
``True``/``False`` force either behavior (bench uses both to
evidence the trade).

Both paths produce identical rows (tested), so threshold and salting
are pure performance knobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark.config import HEAVY_MEDIA_SPANS, HEAVY_SAMPLE_DOCS, HEAVY_SKEW_RATIO
from ocr_spark.operators.extract_batch import (
    extract_doc_batch_arrow,
    extract_span_batch,
)

SPAN_TYPE = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN_TYPE)),
    ]
)

OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("order", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
    ]
)

_SPAN_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
    ]
)


def corpus_df(spark: SparkSession, n_docs: int, partitions: int | None = None) -> DataFrame:
    """Deterministic interleaved corpus as a DataFrame.

    Generated distributed: spark.range over ids -> mapInPandas, so no
    driver-side materialization (the 10^12-scale story: generation is
    a parallel map over the id space)."""
    import pandas as pd  # noqa: PLC0415

    from ocr_spark.sources.corpus import doc_spans  # noqa: PLC0415

    partitions = partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            ids = [f"doc-{int(i):08d}" for i in pdf["id"]]
            yield pd.DataFrame({"doc_id": ids, "spans": [doc_spans(d) for d in ids]})

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(gen, schema=DOCS_SCHEMA)
    )


def media_span_count(col="spans"):
    return F.size(F.filter(col, lambda s: s["kind"] == F.lit("media")))


_PROBE_ROWS = 128  # per-FILE prefix rows the layout probe reads
_PROBE_CLUSTER_RATIO = 6.0  # max/median file prefix mean => clustered
_LOCAL_HEAD_FILES = 512  # <= this many files: driver threadpool, no Spark job


def _read_head(uri: str, k: int) -> tuple[float, float, float] | None:
    """(sum media, rows, max per-doc media) over one file's first ``k``
    rows, or None when the head cannot be read. URIs resolve through
    ``pyarrow.fs`` (hdfs://, s3a://, ...) with a local-path fallback."""
    import pyarrow.parquet as pq  # noqa: PLC0415
    from urllib.parse import urlparse  # noqa: PLC0415

    try:
        try:
            from pyarrow import fs as pafs  # noqa: PLC0415

            filesystem, path = pafs.FileSystem.from_uri(uri)
            pf = pq.ParquetFile(filesystem.open_input_file(path))
        except Exception:  # noqa: BLE001 — scheme pyarrow can't mount
            pf = pq.ParquetFile(urlparse(uri).path or uri)
        batch = next(pf.iter_batches(batch_size=k, columns=["spans"]), None)
    except Exception:  # noqa: BLE001 — unreadable file: skip
        return None
    if batch is None:
        return None
    s = n = mx = 0
    for row in batch.column("spans").to_pylist():
        m = sum(1 for sp in (row or []) if sp["kind"] == "media")
        s += m
        mx = max(mx, m)
        n += 1
    if n == 0:
        return None
    return (float(s), float(n), float(mx))


def _head_stats_result(files_seen: int, s_tot, n_tot, mx, top, med) -> dict:
    """Shared ratio/mean/mx edge semantics for both head-stats paths."""
    if files_seen == 0:
        return {"ratio": float("inf"), "mean": 0.0, "mx": 0, "files_seen": 0}
    if med <= 0:
        ratio = float("inf") if top > 0 else 1.0
    else:
        ratio = top / med
    mean = (s_tot / n_tot) if n_tot else 0.0
    return {"ratio": ratio, "mean": mean, "mx": int(mx), "files_seen": files_seen}


def _file_head_stats(
    spark: SparkSession, files: list[str], k: int = _PROBE_ROWS
) -> dict:
    """ONE bounded executor-parallel job over the scan's files, feeding
    BOTH pre-plan decisions (``extract``'s heavy-threshold statistics
    and the salt's layout-clustering probe) so the auto path pays a
    single Spark job instead of two.

    Each file's head is read in parallel (one file-path row per task
    batch, ``mapInPandas`` over the file list; at most ``k`` rows per
    file via one bounded ``iter_batches`` pull), NOT via scan
    partitions: the file scan packs small files by ``openCostInBytes``,
    so partition prefixes can bury a clustered file mid-partition and
    miss it. URIs are resolved through ``pyarrow.fs.FileSystem.from_uri``
    so the probe also observes remote object stores (hdfs://, s3a://),
    with a local-path fallback; a file whose head cannot be read
    contributes nothing.

    The per-file (sum, rows, max) triples are reduced EXECUTOR-side —
    the per-file means are sorted inside one aggregate buffer (an array
    of one double per file, ~8 MB at 10^6 files on one executor, never
    on the driver) and the driver receives a single 6-scalar row, O(1)
    in file count. This is the sandbox stand-in for the Iceberg
    manifests' per-FILE aggregates of an ingest-computed media-count
    column — which at production scale make all of this a metadata-only
    read with no blind spot.

    Returns ``{"ratio", "mean", "mx", "files_seen"}``:

    - ``ratio`` — max over files of the prefix-mean media density over
      the median file's (~1 on hash-uniform layouts, ~2.4 on random,
      20+ on cost-sorted; median = the sorted upper-middle element,
      exactly as the pre-r5 driver-side reduction computed it). +inf
      when NO file is readable: unobservable layout means buy the
      salt insurance.
    - ``mean`` / ``mx`` — per-document media-span mean and observed max
      across every sampled file head (the heavy-threshold inputs).

    Two physical paths, identical results: at most ``_LOCAL_HEAD_FILES``
    files the heads are read by a driver-side thread pool (each read is
    a bounded ~``k``-row head; launching a Spark job to read 64 file
    heads costs ~0.9 s of pure scheduling — measured — vs ~0.1 s of
    driver I/O), beyond that an executor-parallel job whose per-file
    triples are reduced EXECUTOR-side (the means sort inside one
    aggregate buffer, ~8 MB at 10^6 files on one executor, never on the
    driver) and the driver receives a single 6-scalar row, O(1) in file
    count.
    """
    if len(files) <= _LOCAL_HEAD_FILES:
        from concurrent.futures import ThreadPoolExecutor  # noqa: PLC0415

        with ThreadPoolExecutor(max_workers=min(16, len(files))) as ex:
            triples = [t for t in ex.map(lambda u: _read_head(u, k), files) if t]
        if not triples:
            return _head_stats_result(0, 0, 0, 0, 0, 0)
        means = sorted(s / n for s, n, _ in triples)
        return _head_stats_result(
            len(triples),
            sum(s for s, _, _ in triples),
            sum(n for _, n, _ in triples),
            max(m for _, _, m in triples),
            means[-1],
            means[len(means) // 2],
        )

    fdf = spark.createDataFrame(
        [(f,) for f in files], "path string"
    ).repartition(min(len(files), 256))

    def heads(pdfs):
        import pandas as pd  # noqa: PLC0415

        for pdf in pdfs:
            triples = [t for t in (_read_head(u, k) for u in pdf["path"]) if t]
            yield pd.DataFrame(
                {
                    "s": [t[0] for t in triples],
                    "n": [t[1] for t in triples],
                    "mx": [t[2] for t in triples],
                }
            )

    per_file = fdf.mapInPandas(heads, schema="s double, n double, mx double")
    row = (
        per_file.select("s", "n", "mx", (F.col("s") / F.col("n")).alias("m"))
        .agg(
            F.sum("s").alias("s_tot"),
            F.sum("n").alias("n_tot"),
            F.max("mx").alias("mx"),
            F.max("m").alias("top"),
            # sorted upper-middle element (element_at is 1-indexed, so
            # 0-indexed len//2 == 1-indexed len//2 + 1) — byte-identical
            # to the driver-threadpool path's ``means[len(means) // 2]``
            F.element_at(
                F.sort_array(F.collect_list("m")),
                (F.floor(F.count("m") / 2) + 1).cast("int"),
            ).alias("med"),
            F.count("m").alias("files_seen"),
        )
        .first()
    )
    return _head_stats_result(
        int(row["files_seen"] or 0),
        row["s_tot"],
        row["n_tot"],
        row["mx"] or 0,
        row["top"] or 0,
        row["med"] if row["med"] is not None else 0,
    )


def layout_skew_probe(docs: DataFrame, k: int = _PROBE_ROWS) -> float:
    """Bounded layout-clustering probe: max over the scan's FILES of
    the prefix-mean media density, divided by the median file's.
    See :func:`_file_head_stats` (which computes it, alongside the
    heavy-threshold statistics, in one executor-reduced job)."""
    files = docs.inputFiles()
    if not files:
        return 1.0  # non-file source: uniform by construction
    return _file_head_stats(docs.sparkSession, files, k)["ratio"]


def extract(
    docs: DataFrame,
    heavy_threshold: int | str = "auto",
    buckets: int | None = None,
    salt: bool | str = "auto",
    media_stats: tuple | str = "sample",
    scan_partitions: int | None = None,
) -> DataFrame:
    """docs (doc_id, spans) -> extracted spans
    (doc_id, order, kind, text, media_ref).

    ``heavy_threshold='auto'`` picks the split point from a
    scale-invariant outlier rule: a document goes to the span-exploded
    path when its media count exceeds HEAVY_SKEW_RATIO (8x) times the
    corpus mean — i.e. when one row's cost is an outlier against the
    typical task's work mix, which is the property that stretches a
    stage tail at ANY corpus size (the ratio form needs no absolute
    totals, so the rule is identical at 10^3 and 10^12 docs). When even
    the heaviest document is below the line, the heavy branch (its
    extra scan, shuffle and window) is dropped from the plan entirely.
    Pass an int to pin the split point explicitly (the bench ablations
    do).

    ``media_stats`` feeds that rule WITHOUT a full extra pass over the
    corpus (pricing a 100 TB table with a second complete scan to pick
    one integer is wrong):

    - ``(mean_media, max_media)`` tuple — exact statistics from table
      metadata: at production scale the Iceberg manifests carry
      per-file aggregates of an ingest-computed media-count column, so
      this is a metadata-only read. Exact max => the branch-drop
      decision is exact. THE intended production mode.
    - ``'sample'`` (default) — estimate both from a bounded partial
      read. File-backed sources use ONE :func:`_file_head_stats` job
      (per-file prefix heads, executor-reduced) whose result also
      answers the salt probe — the whole auto path costs a single
      pre-plan Spark job; non-file sources fall back to a
      ``limit(HEAVY_SAMPLE_DOCS)`` partial scan (CollectLimit reads
      one or two partitions and stops). The sampled max under-observes
      the tail, so a missed mega-doc rides the light path — slower,
      never wrong; manifests are the fix at production scale.
      NOTE: with ``'sample'`` or the in-band salt probe, plan
      CONSTRUCTION runs that bounded job eagerly — plan-only callers
      (explain audits, dry runs) should pass exact ``media_stats``
      stats and ``salt=True/False`` (or ``scan_partitions``) to keep
      construction lazy.
    - ``'exact'`` — the full sum/max aggregate, kept as the explicit
      fallback for corpora with neither metadata nor a trustworthy
      prefix sample.

    ``salt``/``scan_partitions``: the light-path repartition runs
    unconditionally when the scan has fewer partitions than cores
    (idle cores otherwise), and in the 1-to-4-waves-per-core band only
    when the bounded ``layout_skew_probe`` says per-row cost is
    actually clustered in the layout (see the inline rule note — on a
    hash-uniform layout the shuffle is pure cost, on a cost-sorted
    layout it is an 11x win); ``scan_partitions`` supplies the
    partition count from the caller (who knows the layout), else it is
    derived from ``inputFiles()`` — a metadata-only lookup — for
    file-backed sources; sources that are neither (e.g. a generated
    range) are uniformly distributed by construction and never salt."""
    spark = docs.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    # Salted-repartition width follows the same wave doctrine the salt
    # trigger uses: 8 task waves per core. 2 waves (the old 2x default)
    # leaves the straggler tail the salt exists to remove — measured at
    # local[32] on the 64-partition protocol corpus: 2 waves 20.9 s,
    # 4 waves 17.9 s, 8 waves 16.2 s (tools/ab_waves.py, 3 interleaved
    # cold-JVM reps, BENCH/NOTES_r4.md §11). The same width serves the
    # heavy span-exploded path, whose per-span rows are finer-grained
    # still. Both paths hash-partition on the key columns themselves
    # (one murmur3 hash mod buckets): a pre-bucketed key such as
    # pmod(xxhash64(doc_id), buckets) is hashed again by the
    # partitioner, which maps the 32 bucket ids onto ~20 partitions.
    buckets = buckets or parallelism * 8

    # model weights: broadcast ONCE per job; each python worker fetches
    # bc.value once and reuses it across Arrow batches (the reference's
    # restore-checkpoint-once lifecycle, pipline.py:319-378)
    from ocr_spark.sources.weights import default_weights  # noqa: PLC0415

    bc = spark.sparkContext.broadcast(default_weights())

    def _doc_kernel(batches):
        return extract_doc_batch_arrow(batches, weights=bc.value)

    def _span_kernel(batches):
        return extract_span_batch(batches, weights=bc.value)

    docs = docs.withColumn("_n_media", media_span_count())

    # the bounded file-head job feeds BOTH auto decisions (sampled
    # stats + salt probe); memoized so the auto path pays it once
    _head_cache: dict = {}

    def _head_stats():
        if "v" not in _head_cache:
            files = docs.inputFiles()
            _head_cache["v"] = (
                _file_head_stats(spark, files) if files else None
            )
        return _head_cache["v"]

    if heavy_threshold == "auto":
        if isinstance(media_stats, tuple):
            mean, mx = media_stats
        elif media_stats == "sample":
            hs = _head_stats()
            if hs is not None and hs["files_seen"] > 0:
                mean, mx = hs["mean"], hs["mx"]
            else:
                row = (
                    docs.select("_n_media")
                    .limit(HEAVY_SAMPLE_DOCS)
                    .agg(
                        F.avg("_n_media").alias("mean"),
                        F.max("_n_media").alias("mx"),
                    )
                    .first()
                )
                mean, mx = (row["mean"] or 0.0), (row["mx"] or 0)
        elif media_stats == "exact":
            row = docs.agg(
                F.avg("_n_media").alias("mean"), F.max("_n_media").alias("mx")
            ).first()
            mean, mx = (row["mean"] or 0.0), (row["mx"] or 0)
        else:
            raise ValueError(f"media_stats: {media_stats!r}")
        heavy_threshold = max(HEAVY_MEDIA_SPANS, int(HEAVY_SKEW_RATIO * mean))
        # Branch-drop ONLY on exact statistics (metadata tuple or a full
        # aggregate): the sampled max is a scan-order prefix that cannot
        # prove the absence of a mega-doc — when ingest order correlates
        # with media density (the adversarial sorted layout), dropping
        # the branch on a prefix max reintroduces the exact straggler
        # the auto rule exists to split. Under 'sample' the heavy branch
        # stays in the plan; if nothing qualifies it processes zero rows
        # — the insurance costs a second scan arm, which is small next
        # to the per-span kernel compute; metadata stats (the intended
        # production mode) restore the single-scan branch-dropped plan.
        if mx <= heavy_threshold and media_stats != "sample":
            heavy_threshold = None  # provably nothing qualifies: drop the branch

    if salt == "auto":
        if scan_partitions is None:
            files = docs.inputFiles()
            # non-file sources (a generated range) are uniformly
            # distributed by construction: no salt
            scan_partitions = len(files) if files else 4 * parallelism
        # Three regimes (BENCH/NOTES_r4.md §4, §11-13):
        # - scan partitions < cores: cores sit idle regardless of
        #   layout — repartition unconditionally;
        # - 1 to <4 task waves per core: a repartition helps ONLY if
        #   per-row cost is clustered in the layout (sorted adversarial
        #   layout: salted 15.3 s vs unsalted 173 s at local[32] — 11x;
        #   hash-uniform layout in an idle window: salted 15.5 s vs
        #   unsalted 12.9 s — the shuffle is pure cost). So probe the
        #   layout with a bounded per-partition prefix read before
        #   paying for the insurance. (Host contention can also stretch
        #   a coarse unsalted scan — §4 measured salt winning 1.32x on
        #   the uniform corpus in a slower window — but the probe can't
        #   observe host noise, and the idle-window protocol is the
        #   regime of record.)
        # - >=4 waves: the scheduler absorbs per-partition variance and
        #   forced salt measures ~9% WORSE (§12). At production scale
        #   (scan partitions >> 4x total cores) auto-salt never fires;
        #   bucketing the table stays the plan.
        if scan_partitions < parallelism:
            salt = True
        elif scan_partitions < 4 * parallelism:
            hs = _head_stats()  # memoized: free when 'sample' already ran it
            ratio = hs["ratio"] if hs is not None else 1.0
            salt = ratio >= _PROBE_CLUSTER_RATIO
        else:
            salt = False

    light = docs if heavy_threshold is None else docs.where(F.col("_n_media") <= heavy_threshold)
    light = light.drop("_n_media")
    if salt:
        light = light.repartition(buckets, "doc_id")
    # mapInArrow: the spans list<struct> flattens via Arrow offsets in
    # the kernel, skipping the per-span Python-dict materialization
    # that Arrow->pandas conversion would do
    light = light.mapInArrow(_doc_kernel, schema=OUT_SCHEMA)
    if heavy_threshold is None:
        return light

    heavy_spans = (
        docs.where(F.col("_n_media") > heavy_threshold)
        .select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id",
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("offset"),
        )
        .repartition(buckets, "doc_id", "offset")
        .mapInPandas(_span_kernel, schema=_SPAN_OUT_SCHEMA)
    )
    w = Window.partitionBy("doc_id").orderBy("offset", "seq")
    heavy = heavy_spans.select(
        "doc_id",
        (F.row_number().over(w) - F.lit(1)).cast("int").alias("order"),
        "kind",
        "text",
        "media_ref",
    )

    return light.unionByName(heavy)


def extract_invariants(spans: DataFrame, docs: DataFrame) -> DataFrame:
    """Structural invariants of an extraction output — the
    driver-checkable gate for the non-SQL-replayable extraction family
    (the decode VALUES are fixture-gated; this query proves the shape
    of the real output at gate time):

    - per-doc ``order`` is contiguous from 0 (the window/kernel
      ordering contract survives both the light and heavy paths);
    - kinds are exactly {text, media};
    - media rows carry a non-empty media_ref and a "<state>:<output>"
      text with state in {right, error, problem};
    - text rows are CJK-free (boilerplate strip ran) and carry no ref.

    Doc accounting is LOAD-BEARING, not a pass-through literal: a
    document legitimately vanishes from the output only when it has no
    media span and every text span is boilerplate-stripped (cleans to
    '' or still contains CJK — extract_batch.clean_text_spans). The
    expected surviving-doc count is recomputed over the INPUT corpus
    with the same predicate as a codegen ``exists`` expression, and
    ``unaccounted_docs`` = expected − observed is pinned to 0 by the
    oracle — a silently dropped document is a hard mismatch. One
    shuffle on doc_id for the output aggregate plus one map-side
    aggregate over the input; both all-column-pruned scans."""
    from ocr_spark.config import CJK_HI, CJK_LO  # noqa: PLC0415
    from ocr_spark.functions.text_clean import (  # noqa: PLC0415
        TRANSLATE_MATCHING,
        TRANSLATE_REPLACE,
    )

    cjk = f"[{chr(CJK_LO)}-{chr(CJK_HI)}]"

    def _survives(t):
        # Catalyst twin of clean_text_spans' keep mask
        c = F.translate(t, TRANSLATE_MATCHING, TRANSLATE_REPLACE)
        parts = F.split(c, "=")
        cleaned = F.when(
            F.size(parts) > 2,
            F.concat(F.element_at(parts, 1), F.lit("="), F.element_at(parts, -1)),
        ).otherwise(c)
        return (cleaned != F.lit("")) & ~cleaned.rlike(cjk)

    emits_output = F.exists(
        "spans",
        lambda s: (s["kind"] == F.lit("media"))
        | ((s["kind"] == F.lit("text")) & _survives(s["text"])),
    )
    expected = docs.agg(
        F.count("*").cast("bigint").alias("n_docs_in"),
        F.sum(emits_output.cast("bigint")).alias("_expected_out"),
    )
    is_text = F.col("kind") == "text"
    is_media = F.col("kind") == "media"

    def flag(cond):
        return F.when(cond, 1).otherwise(0)

    per_doc = (
        spans.select(
            "doc_id",
            "order",
            flag(~(is_text | is_media)).alias("bad_kind"),
            flag(is_media & (F.coalesce("media_ref", F.lit("")) == "")).alias(
                "media_no_ref"
            ),
            flag(is_text & (F.coalesce("media_ref", F.lit("")) != "")).alias(
                "text_with_ref"
            ),
            flag(is_text & F.col("text").rlike(cjk)).alias("cjk_text"),
            flag(
                is_media & ~F.col("text").rlike("^(right|error|problem):")
            ).alias("bad_media_text"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("c"),
            F.min("order").alias("mn"),
            F.max("order").alias("mx"),
            F.count_distinct("order").alias("cd"),
            F.sum("bad_kind").alias("bad_kind"),
            F.sum("media_no_ref").alias("media_no_ref"),
            F.sum("text_with_ref").alias("text_with_ref"),
            F.sum("cjk_text").alias("cjk_text"),
            F.sum("bad_media_text").alias("bad_media_text"),
        )
    )
    contiguous = (
        (F.col("mn") == 0) & (F.col("mx") == F.col("c") - 1) & (F.col("cd") == F.col("c"))
    )
    observed = per_doc.agg(
        F.count("*").cast("bigint").alias("_n_docs_out"),
        F.sum(F.when(~contiguous, 1).otherwise(0)).alias("bad_order_docs"),
        F.sum("bad_kind").alias("bad_kind_rows"),
        F.sum("media_no_ref").alias("media_no_ref_rows"),
        F.sum("text_with_ref").alias("text_with_ref_rows"),
        F.sum("cjk_text").alias("cjk_text_rows"),
        F.sum("bad_media_text").alias("bad_media_text_rows"),
        (F.count("*") > 0).cast("int").alias("has_output"),
    )
    # both sides are single rows; the join is a trivial broadcast
    return observed.crossJoin(expected).select(
        "n_docs_in",
        (F.col("_expected_out") - F.col("_n_docs_out"))
        .cast("bigint")
        .alias("unaccounted_docs"),
        "bad_order_docs",
        "bad_kind_rows",
        "media_no_ref_rows",
        "text_with_ref_rows",
        "cjk_text_rows",
        "bad_media_text_rows",
        "has_output",
    )
