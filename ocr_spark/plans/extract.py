"""The extraction job plan.

Physical strategy (designed for 10^12-document scale, exercised on
local[N]):

    corpus scan (doc_id, spans)
      ├── light docs (media spans <= heavy_threshold)
      │     [salted repartition: hash(doc_id) mod buckets
      │      — fewer than 4 input files per core only, see below]
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

Two fixed rules decide the shape; neither reads statistics, so
building the plan starts no Spark job and reads no data file:

- **Heavy split.** A document goes to the heavy path when its media
  count is above ``heavy_threshold`` (default HEAVY_MEDIA_SPANS = 16).
  The corpus gives light documents at most 8 media spans and heavy
  ones 50-200, so every split point from 8 to 49 routes them alike.
  The heavy arm stays in the plan (it processes zero rows when nothing
  qualifies) unless the caller passes a known bound
  ``max_media <= heavy_threshold``.
- **Salt.** The light path repartitions on ``doc_id`` exactly when the
  source is file-backed with fewer than 4 files per core
  (``len(inputFiles()) < 4 * parallelism``) and may hold media spans
  (``max_media != 0``). With few scan tasks one cost-clustered file
  becomes the stage's straggler: salting was an 11x win on a
  cost-sorted layout and ~20% cost on a hash-uniform one
  (BENCH/NOTES_r4.md §13), and the insurance is kept. At 4 or more
  files per core the scheduler absorbs per-partition variance and a
  forced salt measured ~9% worse (§12), so it never fires; non-file
  sources (a generated range) are uniform by construction and never
  salt.

Both paths produce identical rows (tested), so both rules are pure
performance choices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark.config import HEAVY_MEDIA_SPANS
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


def extract(
    docs: DataFrame,
    heavy_threshold: int = HEAVY_MEDIA_SPANS,
    max_media: int | None = None,
) -> DataFrame:
    """docs (doc_id, spans) -> extracted spans
    (doc_id, order, kind, text, media_ref).

    A document takes the span-exploded heavy path when its media-span
    count is above ``heavy_threshold``. ``max_media`` is a known upper
    bound on media spans per document (e.g. from table metadata): when
    it is at most ``heavy_threshold`` no document can qualify and the
    heavy arm (its second scan, shuffle and window) leaves the plan;
    ``max_media=0`` also declares that no document does OCR work, so
    the light path is not salted. A document above the bound still
    extracts correctly on the light path, only slower.

    The light path salts (repartitions on ``doc_id``) exactly when the
    source is file-backed with fewer than 4 files per core; see the
    module docstring. Building the plan starts no Spark job and reads
    no data file: both rules need only the file listing."""
    spark = docs.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    # Salted-repartition width: 8 task waves per core. 2 waves leaves
    # the straggler tail the salt exists to remove — measured at
    # local[32] on the 64-partition protocol corpus: 2 waves 20.9 s,
    # 4 waves 17.9 s, 8 waves 16.2 s (3 interleaved cold-JVM reps,
    # BENCH/NOTES_r4.md §11). The same width serves the heavy
    # span-exploded path, whose per-span rows are finer-grained still.
    # Both paths hash-partition on the key columns themselves (one
    # murmur3 hash mod buckets): a pre-bucketed key such as
    # pmod(xxhash64(doc_id), buckets) is hashed again by the
    # partitioner, which maps the 32 bucket ids onto ~20 partitions.
    buckets = parallelism * 8
    n_files = len(docs.inputFiles())
    salt = 0 < n_files < 4 * parallelism and max_media != 0
    split = max_media is None or max_media > heavy_threshold

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
    light = docs.where(F.col("_n_media") <= heavy_threshold) if split else docs
    light = light.drop("_n_media")
    if salt:
        light = light.repartition(buckets, "doc_id")
    # mapInArrow: the spans list<struct> flattens via Arrow offsets in
    # the kernel, skipping the per-span Python-dict materialization
    # that Arrow->pandas conversion would do
    light = light.mapInArrow(_doc_kernel, schema=OUT_SCHEMA)
    if not split:
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
