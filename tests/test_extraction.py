"""Document-level extraction vs frozen oracle fixtures — no JVM: drives
the batch kernel the Spark plan wraps (``extract_doc_batch_arrow``
through pa.RecordBatch) the way both plan arms feed it: whole documents
(light arm) and one-span documents re-ordered by a window (heavy arm)."""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ocr_spark.operators.extract_batch import extract_doc_batch_arrow
from ocr_spark.sources.corpus import doc_ids, doc_spans

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "expected_spans.parquet")
SPAN_T = pa.struct(
    [("kind", pa.string()), ("text", pa.string()),
     ("media_ref", pa.string()), ("offset", pa.int32())]
)
KEY = ["doc_id", "order"]
COLS = ["doc_id", "order", "kind", "text", "media_ref"]


def _record_batch(ids, spans) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict(
        {"doc_id": pa.array(ids, pa.string()), "spans": pa.array(spans, pa.list_(SPAN_T))}
    )


def _kernel(docs, split: int | None = None) -> pd.DataFrame:
    """The kernel's raw output over ``docs`` (ids, spans), one
    RecordBatch or ``split``-row batches."""
    ids, spans = docs
    step = split or max(len(ids), 1)
    batches = [_record_batch(ids[i : i + step], spans[i : i + step]) for i in range(0, len(ids), step)]
    return pa.Table.from_batches(list(extract_doc_batch_arrow(iter(batches)))).to_pandas()


def _doc_kernel(docs, split: int | None = None) -> pd.DataFrame:
    """The light arm: whole documents, ``offset`` projected away; rows
    sorted by (doc_id, order)."""
    return _kernel(docs, split).sort_values(KEY, ignore_index=True)[COLS]


def _span_kernel(docs, split: int | None = None) -> pd.DataFrame:
    """The heavy arm: ``docs`` exploded to one-span documents, ``order``
    restored as the plan's window does (doc_id ORDER BY offset, order)."""
    ids = [did for did, spans in zip(*docs) for _ in spans]
    one_span = [[s] for spans in docs[1] for s in spans]
    out = _kernel((ids, one_span), split)
    out = out.sort_values(["doc_id", "offset", "order"], ignore_index=True)
    out["order"] = out.groupby("doc_id").cumcount().astype("int32")
    return out[COLS]


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
    for col in COLS:
        mism = (out[col].astype(str) != exp[col].astype(str)).sum()
        assert mism == 0, f"{mism} mismatches in {col}"


def test_span_batch_path_equals_doc_batch_path(docs):
    """The heavy (span-exploded) path must produce identical spans."""
    head = _head(docs, 80)
    pd.testing.assert_frame_equal(_span_kernel(head), _doc_kernel(head))


def test_batch_invariance(docs):
    """Splitting the input into different batch sizes must not change
    either arm's results (ordering is per-document, not per-batch)."""
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
    branch and emit exactly the rows of the offset-sorted input, each
    with its own source span's offset."""
    ids, spans = _head(docs, 30)
    assert any(len(s) > 1 for s in spans)
    reversed_spans = [list(reversed(s)) for s in spans]
    got = _kernel((ids, reversed_spans))
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, _kernel((ids, spans)))


_GOOD_TEXT = {"kind": "text", "text": "1+1=2", "media_ref": "", "offset": 0}
_GOOD_MEDIA = {"kind": "media", "text": "", "media_ref": "m-000000000001", "offset": 1}
_MALFORMED = {
    "kind_image": {**_GOOD_MEDIA, "kind": "image"},
    "kind_null": {**_GOOD_TEXT, "kind": None},
    "media_ref_null": {**_GOOD_MEDIA, "media_ref": None},
    "media_ref_empty": {**_GOOD_MEDIA, "media_ref": ""},
}


@pytest.mark.parametrize("kernel", [_doc_kernel, _span_kernel], ids=["arrow", "span"])
@pytest.mark.parametrize("case", sorted(_MALFORMED))
def test_malformed_span_raises_naming_doc(kernel, case):
    """An unknown or null kind and a media span with a null or empty
    ref are rejected, naming the document — not OCR'd as media,
    fabricated from an empty ref or emitted with a null ref."""
    docs = (["ok-doc", "bad-doc"], [[_GOOD_TEXT], [_GOOD_TEXT, _MALFORMED[case]]])
    with pytest.raises(ValueError, match="bad-doc"):
        kernel(docs)


@pytest.mark.parametrize("kernel", [_doc_kernel, _span_kernel], ids=["arrow", "span"])
def test_null_text_span_is_dropped(kernel):
    """A null text cleans like '': the span is dropped, its neighbours
    keep their rows and a contiguous order."""
    spans = [{**_GOOD_TEXT, "text": None}, _GOOD_MEDIA, {**_GOOD_TEXT, "offset": 2}]
    got = kernel((["d"], [spans]))
    want = kernel((["d"], [spans[1:]]))
    assert list(got["kind"]) == ["media"] * (len(got) - 1) + ["text"]
    pd.testing.assert_frame_equal(got, want)


def test_recognition_renders_one_forward_slice_at_a_time(monkeypatch, docs):
    """Worker memory stays flat in the chunk size: a rendered crop waits
    for the forward pass with at most ``crnn._REC_BATCH - 1`` others,
    however many pages one call recognizes."""
    from ocr_spark.functions import crnn
    from ocr_spark.operators.postprocess import extract_media_spans_batch
    from ocr_spark.sources.weights import default_weights

    weights = default_weights()  # built first: building renders crops too
    render, conv = crnn.render_label, crnn.conv_features
    live, peak, rendered = [0], [0], [0]

    def counting_render(*args, **kwargs):
        live[0] += 1
        rendered[0] += 1
        peak[0] = max(peak[0], live[0])
        return render(*args, **kwargs)

    def counting_conv(*args, **kwargs):
        live[0] -= 1
        return conv(*args, **kwargs)

    monkeypatch.setattr(crnn, "render_label", counting_render)
    monkeypatch.setattr(crnn, "conv_features", counting_conv)
    refs = [s["media_ref"] for spans in docs[1] for s in spans if s["kind"] == "media"]
    extract_media_spans_batch(refs[:96], weights)
    assert rendered[0] > 2 * crnn._REC_BATCH
    assert live[0] == 0
    assert peak[0] <= crnn._REC_BATCH


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
