"""Arrow-batch extraction kernels (no Spark imports, so unit tests
run without a JVM).

Two granularities, both built from the same batch primitives — text
spans cleaned VECTORIZED across the whole batch (``clean_text_spans``,
one str.translate over every text span), media spans through the OCR
chain batched across the whole batch (``extract_media_spans_batch``):

- ``extract_doc_batch_arrow``: whole documents per row, pa.RecordBatch
  in and out (light path, mapInArrow). The within-document ``order`` is
  computed in the kernel.
- ``extract_span_batch``: one span per row, pandas in and out (heavy
  path, mapInPandas after exploding media-heavy documents). Emits a
  ``seq`` column (position within the span); the global ``order`` is
  restored by a window on (doc_id ORDER BY offset, seq) in the Spark
  plan.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from ocr_spark.functions.text_clean import clean_text_series, has_cjk_series
from ocr_spark.operators.postprocess import extract_media_spans_batch

SPAN_OUT_COLUMNS = ["doc_id", "offset", "seq", "kind", "text", "media_ref"]


def clean_text_spans(raw: pd.Series) -> tuple[pd.Series, pd.Series]:
    """Vectorized text-span cleaning. Returns (cleaned, keep_mask):
    spans that are empty after cleaning or contain CJK (boilerplate)
    are dropped."""
    cleaned = clean_text_series(raw)
    keep = (cleaned != "") & (~has_cjk_series(cleaned))
    return cleaned, keep


def extract_span_batch(
    batches: Iterator[pd.DataFrame], weights: dict | None = None
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel for exploded spans:
    (doc_id, kind, text, media_ref, offset) -> per-span sequences."""
    for pdf in batches:
        if len(pdf) == 0:
            continue
        out_rows = []
        is_text = pdf["kind"] == "text"
        cleaned = pd.Series("", index=pdf.index, dtype=object)
        keep = pd.Series(False, index=pdf.index)
        if is_text.any():
            c, k = clean_text_spans(pdf.loc[is_text, "text"])
            cleaned.loc[is_text] = c
            keep.loc[is_text] = k
        # recognition batched across every media span of the batch
        media_rows = pdf.index[~is_text]
        media_texts = iter(
            extract_media_spans_batch(
                [pdf.at[idx, "media_ref"] for idx in media_rows], weights
            )
        )
        for idx in pdf.index:
            doc_id = pdf.at[idx, "doc_id"]
            offset = int(pdf.at[idx, "offset"])
            if pdf.at[idx, "kind"] == "text":
                if keep.at[idx]:
                    out_rows.append((doc_id, offset, 0, "text", cleaned.at[idx], ""))
            else:
                ref = pdf.at[idx, "media_ref"]
                for seq, text in enumerate(next(media_texts)):
                    out_rows.append((doc_id, offset, seq, "media", text, ref))
        yield pd.DataFrame(out_rows, columns=SPAN_OUT_COLUMNS)


def extract_doc_batch_arrow(batches, weights: dict | None = None):
    """mapInArrow kernel (Iterator[pa.RecordBatch] -> same):
    (doc_id, spans) -> one row per extracted span (doc_id, order, kind,
    text, media_ref), ``order`` counting a document's kept spans in
    offset order. The spans list<struct> column is flattened with Arrow
    offsets instead of materializing a Python dict per span — the
    Arrow->pandas conversion of nested structs was the dominant
    per-document overhead in the Spark path (~8 ms/doc measured; the
    OCR kernel itself is ~4.5 ms/doc).

    ``weights``: broadcast model-weights dict (sources/weights.py),
    fetched once per worker by the plan layer; None = defaults.

    Output assembly is fully vectorized: per-span emit counts ->
    np.repeat/cumsum for row indices and the within-document ``order``
    — the only Python loop left is over MEDIA spans, which genuinely
    fan out through the per-page OCR kernel; text spans never touch a
    Python-level loop.
    """
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    for b in batches:
        n = b.num_rows
        if n == 0:
            continue
        doc_ids = b.column("doc_id").to_numpy(zero_copy_only=False)
        spans = b.column("spans")
        if isinstance(spans, pa.ChunkedArray):
            spans = spans.combine_chunks()
        flat = spans.flatten()
        lengths = pa.compute.list_value_length(spans).to_numpy(zero_copy_only=False)
        lengths = np.nan_to_num(lengths, nan=0).astype(np.int64)
        row_idx = np.repeat(np.arange(n), lengths)
        kind = flat.field("kind").to_numpy(zero_copy_only=False)
        text = pd.Series(flat.field("text").to_numpy(zero_copy_only=False))
        media_ref = flat.field("media_ref").to_numpy(zero_copy_only=False)
        offset = flat.field("offset").to_numpy(zero_copy_only=False)

        # canonical order (row, offset) — spans arrive offset-ordered,
        # so the lexsort is skipped unless the contract is violated
        if len(row_idx) and not bool(
            np.all(
                (row_idx[1:] > row_idx[:-1])
                | ((row_idx[1:] == row_idx[:-1]) & (offset[1:] >= offset[:-1]))
            )
        ):
            order_ix = np.lexsort((offset, row_idx))
            row_idx, kind, media_ref = (
                row_idx[order_ix],
                kind[order_ix],
                media_ref[order_ix],
            )
            text = text.iloc[order_ix].reset_index(drop=True)

        is_text = kind == "text"
        cleaned = np.empty(len(kind), dtype=object)
        keep = np.zeros(len(kind), dtype=bool)
        if is_text.any():
            c, k = clean_text_spans(text[is_text].reset_index(drop=True))
            cleaned[is_text] = c.to_numpy(dtype=object)
            keep[is_text] = k.to_numpy()

        # media spans: recognition batched across the WHOLE Arrow batch
        # (width-bucketed BLAS matmuls over every crop of every page)
        media_counts = np.zeros(len(kind), dtype=np.int64)
        media_idx = np.flatnonzero(~is_text)
        media_texts = extract_media_spans_batch(
            [media_ref[i] for i in media_idx], weights
        )
        media_counts[media_idx] = [len(t) for t in media_texts]

        # vectorized assembly: emit counts -> repeat/cumsum bookkeeping
        emit = np.where(is_text, keep.astype(np.int64), media_counts)
        total = int(emit.sum())
        span_doc = np.repeat(row_idx, emit)
        row_emit = np.bincount(row_idx, weights=emit, minlength=n).astype(np.int64)
        row_start = np.concatenate(([0], np.cumsum(row_emit)[:-1]))
        order = np.arange(total, dtype=np.int64) - np.repeat(row_start, row_emit)

        unit_is_text = np.repeat(is_text, emit)
        out_text = np.empty(total, dtype=object)
        out_text[unit_is_text] = cleaned[is_text & keep]
        out_text[~unit_is_text] = [t for ts in media_texts for t in ts]
        out_ref = np.repeat(np.where(is_text, "", media_ref), emit)

        yield pa.RecordBatch.from_pydict(
            {
                "doc_id": pa.array(doc_ids[span_doc], pa.string()),
                "order": pa.array(order, pa.int32()),
                "kind": pa.array(
                    np.where(unit_is_text, "text", "media"), pa.string()
                ),
                "text": pa.array(out_text, pa.string()),
                "media_ref": pa.array(out_ref, pa.string()),
            }
        )
