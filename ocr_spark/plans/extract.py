"""The extraction job plan.

Physical strategy (designed for 10^12-document scale, exercised on
local[N]):

    corpus scan (doc_id, spans)
      ├── light docs (media spans <= heavy_threshold)
      │     [salted repartition: hash(doc_id) mod buckets
      │      — fewer than 4 input files per core only, see below]
      │     -> mapInArrow(extract_doc_batch_arrow)     [no shuffle after]
      └── heavy docs (the ~1% media-heavy skew tail)
            explode(spans)     -> one-span documents    [splits hot docs]
            repartition on hash(doc_id, offset)         [uniform units]
            -> mapInArrow(extract_doc_batch_arrow)
            -> window row_number() over (doc_id ORDER BY offset, order)
    union

Both arms run the same kernel. It emits each row's source-span
``offset`` as a sixth column: the heavy arm's window orders by it, the
light arm projects it away.

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

Both repartitions, the salt and the heavy arm's, are ``2 * parallelism``
buckets wide: two task waves, the 2x-cores rule ``build_session`` uses
for ``spark.sql.shuffle.partitions``. Narrower means fewer tasks, each
with its fixed set-up, and fuller kernel calls; wider means a shorter
straggler tail. The balance moved once already:

- at local[32] on the 64-partition protocol corpus, when a task's
  worker set-up cost ~0.3 s, 8 waves won: 2 waves 20.9 s, 4 waves
  17.9 s, 8 waves 16.2 s (3 interleaved cold-JVM reps,
  BENCH/NOTES_r4.md §11);
- with the set-up at ~0.03 s (``ocr_spark/zipcache.py``), 2 waves won
  on the 4-core host: the perfbench ``mixed`` pass runs 22 tasks
  instead of 70, its kernel calls see ~125 documents instead of ~31,
  and its docs/s median rose 132.9 -> 161.2 (10 alternating pairs,
  9 won) while CPU-s per 1k docs fell 28.1 -> 22.6.

The 32-core trade-off has not been re-measured since: the host that
runs the benchmark has 4 cores.

Both paths produce identical rows (tested), so the rules and the width
are pure performance choices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ocr_spark.config import HEAVY_MEDIA_SPANS
from ocr_spark.operators.extract_batch import extract_doc_batch_arrow
from ocr_spark.operators.textstats import CJK_PATTERN, clean_expr

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

# what extract_doc_batch_arrow emits: OUT_SCHEMA + the source span's offset
_KERNEL_SCHEMA = T.StructType(
    OUT_SCHEMA.fields + [T.StructField("offset", T.IntegerType())]
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
    # 2 task waves for both repartitions (see the module docstring).
    # Both hash-partition on the key columns themselves (one murmur3
    # hash mod buckets): a pre-bucketed key such as
    # pmod(xxhash64(doc_id), buckets) is hashed again by the
    # partitioner, which maps 32 bucket ids onto ~20 partitions.
    buckets = parallelism * 2
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

    docs = docs.withColumn("_n_media", media_span_count())
    light = docs.where(F.col("_n_media") <= heavy_threshold) if split else docs
    light = light.drop("_n_media")
    if salt:
        light = light.repartition(buckets, "doc_id")
    # mapInArrow: the spans list<struct> flattens via Arrow offsets in
    # the kernel, skipping the per-span Python-dict materialization
    # that Arrow->pandas conversion would do
    light = light.mapInArrow(_doc_kernel, schema=_KERNEL_SCHEMA).drop("offset")
    if not split:
        return light

    heavy_spans = (
        docs.where(F.col("_n_media") > heavy_threshold)
        .select("doc_id", F.explode("spans").alias("s"))
        .repartition(buckets, "doc_id", "s.offset")
        .select("doc_id", F.array("s").alias("spans"))
        .mapInArrow(_doc_kernel, schema=_KERNEL_SCHEMA)
    )
    w = Window.partitionBy("doc_id").orderBy("offset", "order")
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

    Doc accounting is exact over what the engine guarantees. A
    document with a surviving text span (one that cleans to a non-empty,
    CJK-free string — extract_batch.clean_text_spans' keep mask, here
    as a codegen ``exists`` expression) always reaches the output; a
    media span may emit no line (a page whose boxes are all dropped),
    so a document without a surviving text span may vanish. So
    ``unaccounted_docs`` counts the input documents with a surviving
    text span that are absent from the output, plus the output
    documents absent from the input. The oracle pins it to 0: a
    silently dropped or invented document is a hard mismatch."""

    def _survives(t):
        # Catalyst twin of clean_text_spans' keep mask
        cleaned = clean_expr(t)
        return (cleaned != F.lit("")) & ~cleaned.rlike(CJK_PATTERN)

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
            flag(is_text & F.col("text").rlike(CJK_PATTERN)).alias("cjk_text"),
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
    must_emit = F.exists(
        "spans", lambda s: (s["kind"] == F.lit("text")) & _survives(s["text"])
    )
    ins = docs.groupBy("doc_id").agg(
        F.count("*").alias("n_in"), F.max(must_emit).alias("must_emit")
    )
    # one full outer join on doc_id holds both anti-joins, so the
    # output is aggregated (and, unmaterialized, extracted) once
    both = per_doc.join(ins, "doc_id", "full_outer")
    in_input, in_output = F.col("n_in").isNotNull(), F.col("c").isNotNull()
    lost = in_input & F.col("must_emit") & ~in_output
    invented = in_output & ~in_input
    contiguous = (
        (F.col("mn") == 0) & (F.col("mx") == F.col("c") - 1) & (F.col("cd") == F.col("c"))
    )
    return both.agg(
        F.coalesce(F.sum("n_in"), F.lit(0)).cast("bigint").alias("n_docs_in"),
        F.count(F.when(lost | invented, 1)).cast("bigint").alias("unaccounted_docs"),
        F.sum(F.when(~contiguous, 1).otherwise(0)).alias("bad_order_docs"),
        F.sum("bad_kind").alias("bad_kind_rows"),
        F.sum("media_no_ref").alias("media_no_ref_rows"),
        F.sum("text_with_ref").alias("text_with_ref_rows"),
        F.sum("cjk_text").alias("cjk_text_rows"),
        F.sum("bad_media_text").alias("bad_media_text_rows"),
        (F.count("c") > 0).cast("int").alias("has_output"),
    )
