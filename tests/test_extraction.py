"""Document-level extraction vs frozen oracle fixtures — no JVM: drives
the same batch kernels the Spark plan wraps (``extract_doc_batch_arrow``
through pa.RecordBatch, ``extract_span_batch`` through pandas)."""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ocr_spark.operators.extract_batch import extract_doc_batch_arrow, extract_span_batch
from ocr_spark.sources.corpus import doc_ids, doc_spans

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "expected_spans.parquet")
SPAN_T = pa.struct(
    [("kind", pa.string()), ("text", pa.string()),
     ("media_ref", pa.string()), ("offset", pa.int32())]
)
KEY = ["doc_id", "order"]


def _record_batch(ids, spans) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict(
        {"doc_id": pa.array(ids, pa.string()), "spans": pa.array(spans, pa.list_(SPAN_T))}
    )


def _doc_kernel(docs, split: int | None = None) -> pd.DataFrame:
    """Run the Arrow doc kernel over ``docs`` (ids, spans), one
    RecordBatch or ``split``-row batches; rows sorted by (doc_id, order)."""
    ids, spans = docs
    step = split or max(len(ids), 1)
    batches = [_record_batch(ids[i : i + step], spans[i : i + step]) for i in range(0, len(ids), step)]
    out = pa.Table.from_batches(list(extract_doc_batch_arrow(iter(batches)))).to_pandas()
    return out.sort_values(KEY, ignore_index=True)


def _span_kernel(docs, split: int | None = None) -> pd.DataFrame:
    """Run the heavy-path span kernel over ``docs`` exploded to one span
    per row, and restore ``order`` as the plan's window does."""
    recs = [
        (did, s["kind"], s["text"], s["media_ref"], s["offset"])
        for did, spans in zip(*docs)
        for s in spans
    ]
    flat = pd.DataFrame(recs, columns=["doc_id", "kind", "text", "media_ref", "offset"])
    step = split or len(flat)
    chunks = [flat.iloc[i : i + step] for i in range(0, len(flat), step)]
    out = pd.concat(list(extract_span_batch(iter(chunks))), ignore_index=True)
    out = out.sort_values(["doc_id", "offset", "seq"], ignore_index=True)
    out["order"] = out.groupby("doc_id").cumcount().astype("int32")
    return out[["doc_id", "order", "kind", "text", "media_ref"]]


@pytest.fixture(scope="module")
def expected():
    return pq.read_table(FIXTURES).to_pandas()


@pytest.fixture(scope="module")
def docs():
    ids = doc_ids(400)
    return ids, [doc_spans(d) for d in ids]


def _head(docs, n):
    return docs[0][:n], docs[1][:n]


def test_doc_batch_matches_fixtures(expected, docs):
    out = _doc_kernel(docs)
    exp = expected.sort_values(KEY, ignore_index=True)
    assert len(out) == len(exp)
    for col in ["doc_id", "order", "kind", "text", "media_ref"]:
        mism = (out[col].astype(str) != exp[col].astype(str)).sum()
        assert mism == 0, f"{mism} mismatches in {col}"


def test_span_batch_path_equals_doc_batch_path(docs):
    """The heavy (span-exploded) path must produce identical spans."""
    head = _head(docs, 80)
    pd.testing.assert_frame_equal(_span_kernel(head), _doc_kernel(head))


def test_batch_invariance(docs):
    """Splitting the input into different batch sizes must not change
    either kernel's results (ordering is per-document, not per-batch)."""
    head = _head(docs, 40)
    whole = _doc_kernel(head)
    assert len(whole) > 0
    pd.testing.assert_frame_equal(_doc_kernel(head, split=7), whole)
    pd.testing.assert_frame_equal(_span_kernel(head, split=11), _span_kernel(head))


def test_arrow_kernel_empty_batch_and_empty_spans():
    """An empty batch emits no batch; a document with no spans emits no
    rows."""
    assert list(extract_doc_batch_arrow(iter([_record_batch([], [])]))) == []
    out = list(extract_doc_batch_arrow(iter([_record_batch(["d1"], [[]])])))
    assert sum(len(x) for x in out) == 0


def test_arrow_kernel_sorts_unsorted_offsets(docs):
    """Spans that arrive out of offset order take the kernel's lexsort
    branch and emit exactly the rows of the offset-sorted input."""
    ids, spans = _head(docs, 30)
    assert any(len(s) > 1 for s in spans)
    reversed_spans = [list(reversed(s)) for s in spans]
    got = _doc_kernel((ids, reversed_spans))
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, _doc_kernel((ids, spans)))


def test_broadcast_weights_flow_into_recognition():
    """The weights dict is a real input: the default (identity
    projection) reproduces the frozen outputs, and a permuted
    projection provably changes decoded text — the broadcast isn't
    decorative."""
    import numpy as np

    from ocr_spark.operators.postprocess import extract_media_spans_batch
    from ocr_spark.sources.weights import default_weights

    refs = [
        s["media_ref"]
        for i in range(40)
        for s in doc_spans(f"doc-{i:08d}")
        if s["kind"] == "media"
    ]
    w = default_weights()
    base = extract_media_spans_batch(refs, w)
    assert extract_media_spans_batch(refs) == base

    perm = default_weights()
    p = np.eye(len(perm["alphabet"]))
    p[[0, 1]] = p[[1, 0]]  # swap classes '1' and '0'
    perm["projection"] = p
    changed = sum(a != b for a, b in zip(extract_media_spans_batch(refs, perm), base))
    assert changed > 0
