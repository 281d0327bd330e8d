"""The Arrow-batch extraction kernel (no Spark imports, so unit tests
run without a JVM).

``extract_doc_batch_arrow`` is the only kernel: pa.RecordBatch of
whole documents in, one row per extracted span out. Both arms of the
Spark plan run it under ``mapInArrow``: the light arm on whole
documents, the heavy arm on media-heavy documents exploded to one span
each. Every output row carries its source span's ``offset``, so the
heavy arm restores the document order with a window on
(doc_id ORDER BY offset, order); the light arm projects it away.

Per batch, text spans are cleaned in one pass over the batch
(``clean_text_spans``) and media spans go through the OCR chain
batched across the whole batch (``extract_media_spans_batch``).
``check_spans`` validates the spans before any work: an unknown or
null ``kind`` and a media span whose ``media_ref`` is null or empty
raise ``ValueError`` naming the document; a null text span is dropped
like one that cleans to ''.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ocr_spark.functions.text_clean import clean_text_series, has_cjk
from ocr_spark.operators.postprocess import extract_media_spans_batch


def clean_text_spans(raw) -> tuple[list[str], np.ndarray]:
    """Text-span cleaning over a batch. Returns (cleaned, keep_mask):
    spans that are empty after cleaning or contain CJK (boilerplate)
    are dropped."""
    cleaned = clean_text_series(raw)
    keep = np.array([c != "" and not has_cjk(c) for c in cleaned], dtype=bool)
    return cleaned, keep


def check_spans(flat: pa.StructArray, doc_ids: pa.Array, row_idx: np.ndarray):
    """Validate one batch of spans. ``flat`` holds one entry per span,
    span i belonging to document ``doc_ids[row_idx[i]]``. Raises
    ``ValueError`` naming the first document with a span whose kind is
    not 'text'/'media' (null included) or a media span whose
    ``media_ref`` is null or ''. Returns numpy ``(is_text, text,
    media_ref)`` with null texts replaced by ''."""
    kind = flat.field("kind").to_numpy(zero_copy_only=False)
    is_text = kind == "text"
    is_media = kind == "media"
    ref = flat.field("media_ref")
    media_ref = ref.to_numpy(zero_copy_only=False)
    no_ref = ref.is_null().to_numpy(zero_copy_only=False) | (media_ref == "")
    bad = ~(is_text | is_media) | (is_media & no_ref)
    if bad.any():
        i = int(np.flatnonzero(bad)[0])
        what = f"media_ref {media_ref[i]!r}" if is_media[i] else f"kind {kind[i]!r}"
        raise ValueError(
            f"doc_id {doc_ids[int(row_idx[i])].as_py()!r}: span with {what} "
            "(kind must be 'text' or 'media'; media spans need a non-empty media_ref)"
        )
    text = pc.fill_null(flat.field("text"), "").to_numpy(zero_copy_only=False)
    return is_text, text, media_ref


def extract_doc_batch_arrow(batches, weights: dict | None = None):
    """mapInArrow kernel (Iterator[pa.RecordBatch] -> same):
    (doc_id, spans) -> one row per extracted span (doc_id, order, kind,
    text, media_ref, offset), ``order`` counting a document's kept
    spans in offset order and ``offset`` the source span's. The spans
    list<struct> column is flattened with Arrow offsets instead of
    materializing a Python dict per span — the Arrow->pandas
    conversion of nested structs was the dominant per-document
    overhead in the Spark path (~8 ms/doc measured; the OCR kernel
    itself is ~4.5 ms/doc).

    ``weights``: broadcast model-weights dict (sources/weights.py),
    fetched once per worker by the plan layer; None = defaults.

    Output assembly is vectorized: per-span emit counts ->
    np.repeat/cumsum for row indices and the within-document ``order``
    — the only Python loops are over text spans (one ``str.translate``
    each) and MEDIA spans, which genuinely fan out through the
    per-page OCR kernel.
    """
    for b in batches:
        n = b.num_rows
        if n == 0:
            continue
        doc_ids = b.column("doc_id")
        spans = b.column("spans")
        flat = spans.flatten()
        lengths = pc.list_value_length(spans).to_numpy(zero_copy_only=False)
        lengths = np.nan_to_num(lengths, nan=0).astype(np.int64)
        row_idx = np.repeat(np.arange(n), lengths)
        is_text, text, media_ref = check_spans(flat, doc_ids, row_idx)
        offset = flat.field("offset")

        # canonical order (row, offset) — spans arrive offset-ordered,
        # so the lexsort is skipped unless the contract is violated
        src = np.arange(len(row_idx))
        off = offset.to_numpy(zero_copy_only=False)
        if len(row_idx) and not bool(
            np.all(
                (row_idx[1:] > row_idx[:-1])
                | ((row_idx[1:] == row_idx[:-1]) & (off[1:] >= off[:-1]))
            )
        ):
            src = np.lexsort((off, row_idx))
            row_idx, is_text, text, media_ref = (
                row_idx[src], is_text[src], text[src], media_ref[src]
            )

        text_idx = np.flatnonzero(is_text)
        cleaned, keep = clean_text_spans(text[text_idx])
        # media spans: recognition batched across the WHOLE Arrow batch
        # (width-bucketed BLAS matmuls over every crop of every page)
        media_idx = np.flatnonzero(~is_text)
        media_texts = extract_media_spans_batch(list(media_ref[media_idx]), weights)

        # vectorized assembly: emit counts -> repeat/cumsum bookkeeping
        emit = np.zeros(len(is_text), dtype=np.int64)
        emit[text_idx] = keep
        emit[media_idx] = [len(t) for t in media_texts]
        total = int(emit.sum())
        span_doc = np.repeat(row_idx, emit)
        row_emit = np.bincount(row_idx, weights=emit, minlength=n).astype(np.int64)
        row_start = np.concatenate(([0], np.cumsum(row_emit)[:-1]))
        order = np.arange(total, dtype=np.int64) - np.repeat(row_start, row_emit)

        unit_is_text = np.repeat(is_text, emit)
        out_text = np.empty(total, dtype=object)
        out_text[unit_is_text] = [c for c, k in zip(cleaned, keep) if k]
        out_text[~unit_is_text] = [t for ts in media_texts for t in ts]
        out_ref = np.repeat(np.where(is_text, "", media_ref), emit)

        yield pa.RecordBatch.from_pydict(
            {
                "doc_id": doc_ids.take(span_doc),
                "order": pa.array(order, pa.int32()),
                "kind": pa.array(
                    np.where(unit_is_text, "text", "media"), pa.string()
                ),
                "text": pa.array(out_text, pa.string()),
                "media_ref": pa.array(out_ref, pa.string()),
                "offset": offset.take(np.repeat(src, emit)),
            }
        )
