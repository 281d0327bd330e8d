"""Output checks run after every benchmark run.

1. Fixture documents equal ``tests/fixtures/expected_spans.parquet``,
   compared per document as lists sorted by ``order`` (never in Spark
   row order).
2. ``plans.extract.extract_invariants`` over the whole output returns
   every row and order counter at 0.
3. Document accounting, exactly: every input document absent from the
   output has an empty no-Spark reference output, and no output
   document is absent from the input. This stands in for the
   invariants' ``unaccounted_docs``, which assumes that a media span
   always emits a row; the kernel does not guarantee that (a page
   whose boxes are all dropped emits none).
4. A seeded sample of the timed documents equals the no-Spark
   ``extract_doc_batch_arrow`` output.

The result is a set of failed document ids plus a count of failures
that the invariant counters report without naming documents.
"""

from __future__ import annotations

import os
from collections import defaultdict

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

COLUMNS = ["doc_id", "order", "kind", "text", "media_ref"]
FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "fixtures",
    "expected_spans.parquet",
)
INVARIANT_COUNTERS = (
    "bad_order_docs",
    "bad_kind_rows",
    "media_no_ref_rows",
    "text_with_ref_rows",
    "cjk_text_rows",
    "bad_media_text_rows",
)


def rows_by_doc(rows) -> dict[str, list[tuple]]:
    """Rows (dicts with COLUMNS) -> {doc_id: [(order, kind, text,
    media_ref), ...] sorted by order}."""
    out: dict[str, list[tuple]] = defaultdict(list)
    for r in rows:
        out[r["doc_id"]].append((r["order"], r["kind"], r["text"], r["media_ref"]))
    return {d: sorted(v) for d, v in out.items()}


def mismatched(expected: dict, actual: dict, doc_ids) -> set[str]:
    """Documents whose ordered span lists differ (a document missing on
    one side compares as an empty list)."""
    return {d for d in doc_ids if expected.get(d, []) != actual.get(d, [])}


def expected_fixture_rows(doc_ids) -> dict[str, list[tuple]]:
    t = pq.read_table(FIXTURES, columns=COLUMNS)
    t = t.filter(pc.is_in(t.column("doc_id"), pa.array(sorted(doc_ids), pa.string())))
    return rows_by_doc(t.to_pylist())


def invariant_failures(inv: dict) -> int:
    """Row and order counters -> failures (an upper bound on the
    documents involved: each counter counts documents or rows)."""
    return sum(int(inv[c] or 0) for c in INVARIANT_COUNTERS)


def read_ids(paths: list[str], doc_ids) -> pa.Table:
    """Rows with the given doc ids from parquet dirs (staged inputs or
    outputs)."""
    want = pa.array(sorted(doc_ids), pa.string())
    parts = []
    for p in paths:
        t = pq.read_table(p)
        parts.append(t.filter(pc.is_in(t.column("doc_id"), want)))
    return pa.concat_tables(parts, promote_options="default")


def reference_rows(docs: pa.Table, weights) -> dict[str, list[tuple]]:
    """No-Spark reference rows: ``extract_doc_batch_arrow`` over 256-row
    batches. Every document is a key; one with no output maps to []."""
    from kernel import batches_of, kernel_pass  # noqa: PLC0415

    return as_reference(docs.column("doc_id").to_pylist(), kernel_pass(batches_of(docs), weights)[1])


def as_reference(doc_ids, out: pa.Table | None) -> dict[str, list[tuple]]:
    """Kernel output rows by document; a document with no rows maps to []."""
    ref = dict.fromkeys(doc_ids, [])
    if out is not None:
        ref.update(rows_by_doc(out.to_pylist()))
    return ref


def unmatched_ids(input_paths: list[str], out_paths: list[str]) -> tuple[list[str], list[str]]:
    """(input documents absent from the output, output documents absent
    from the input), from the doc_id columns of the parquet dirs."""

    def ids(paths):
        return {d for p in paths for d in pq.read_table(p, columns=["doc_id"]).column(0).to_pylist()}

    ids_in, ids_out = ids(input_paths), ids(out_paths)
    return sorted(ids_in - ids_out), sorted(ids_out - ids_in)


def verify(
    out_df, docs_df, out_paths, input_paths, fixture_ids, reference: dict, weights
) -> tuple[set[str], int, dict]:
    """Checks 1-4 over one run's output: ``out_df`` is the whole output
    as Spark reads it, ``out_paths`` its parquet dirs, ``reference``
    maps the sampled documents to their no-Spark rows. Returns (failed
    doc ids, invariant failures, invariant counters and accounting)."""
    from ocr_spark.plans.extract import extract_invariants  # noqa: PLC0415

    inv = extract_invariants(out_df, docs_df).first().asDict()
    absent, extra = unmatched_ids(input_paths, out_paths)
    reference = {**reference_rows(read_ids(input_paths, absent), weights), **reference}
    rows = read_ids(out_paths, set(fixture_ids) | set(reference)).select(COLUMNS)
    got = rows_by_doc(rows.to_pylist())
    failed = mismatched(expected_fixture_rows(fixture_ids), got, fixture_ids)
    failed |= mismatched(reference, got, reference)
    failed |= set(extra)
    inv.update(absent_docs=len(absent), extra_docs=len(extra))
    return failed, invariant_failures(inv), inv
