"""The no-Spark kernel pass and the host normaliser.

Both run the OCR/Arrow kernel in the benchmark process. The kernel pass
feeds 256-row Arrow batches (the session's ``maxRecordsPerBatch``) to
``operators.extract_batch.extract_doc_batch_arrow``; with a ``Tracer``
it records a span per call into each kernel layer.
"""

from __future__ import annotations

import time

import pyarrow as pa

BATCH_ROWS = 256  # spark.sql.execution.arrow.maxRecordsPerBatch

LAYOUT_FUNCS = ("row_connect", "column_pairs", "build_forests", "judge_fraction")
GLUE = "operators.extract_batch.extract_media_spans_batch"


def _count(key, size):
    def count(counts, args, out):
        counts[key] += size(args, out)

    return count


def _route_count(counts, args, out):
    # a retry is a merge node the beam backup ran on; it is rescued when
    # one of the backups graded 'right'
    retried = [n for n in args[0] if n.typ == "merge" and n.backups]
    counts["route_nodes.retries"] += len(retried)
    counts["route_nodes.rescued"] += sum(n.state == "right" for n in retried)


def _clean_count(counts, args, out):
    _, keep = out
    counts["clean_text_spans.spans"] += len(keep)
    counts["clean_text_spans.kept"] += int(keep.sum())


def install_probes(tracer) -> None:
    """Wrap every kernel layer's public functions where the kernel
    looks them up (``operators.postprocess`` imported most by name)."""
    from ocr_spark.operators import extract_batch, postprocess  # noqa: PLC0415
    from ocr_spark.sources import media  # noqa: PLC0415

    pp = postprocess
    # the OCR chain's own body (page prep, padding, probability
    # projection, node building): time no named OCR function covers,
    # kept out of the Arrow layer's self time
    tracer.wrap(extract_batch, "extract_media_spans_batch", GLUE)
    tracer.wrap(pp, "build_page", "sources.media.build_page")
    tracer.wrap(
        pp,
        "detect_page",
        "operators.detect.detect_page",
        _count("detect_page.boxes", lambda a, out: len(out[1])),
    )
    for fn in LAYOUT_FUNCS:
        tracer.wrap(pp, fn, f"operators.layout.{fn}")
    tracer.wrap(
        media,
        "box_probs_batch",
        "sources.media.box_probs_batch",
        _count("box_probs_batch.crops", lambda a, out: len(a[0])),
    )
    tracer.wrap(pp, "greedy_decode_batch", "functions.ctc.greedy_decode_batch")
    tracer.wrap(pp, "beam_decode_texts", "functions.ctc.beam_decode_texts")
    tracer.wrap(pp, "route_nodes", "operators.postprocess.route_nodes", _route_count)
    tracer.wrap(pp, "splice_vertical", "operators.postprocess.splice_vertical")
    tracer.wrap(pp, "eval_verdict", "functions.arith.eval_verdict")
    tracer.wrap(
        extract_batch,
        "clean_text_spans",
        "operators.extract_batch.clean_text_spans",
        _clean_count,
    )
    tracer.wrap(
        extract_batch,
        "clean_text_series",
        "functions.text_clean.clean_text_series",
        _count("clean_text_series.spans", lambda a, out: len(a[0])),
    )


def batches_of(table: pa.Table) -> list[pa.RecordBatch]:
    return table.combine_chunks().to_batches(max_chunksize=BATCH_ROWS)


def kernel_pass(batches, weights, tracer=None) -> tuple[float, pa.Table]:
    """Run ``extract_doc_batch_arrow`` over pre-read batches, one call
    per batch. Returns (wall seconds, output rows). The verdict cache is
    cleared first so that every pass starts from the same state."""
    from ocr_spark.functions.arith import eval_verdict  # noqa: PLC0415
    from ocr_spark.operators.extract_batch import extract_doc_batch_arrow  # noqa: PLC0415

    eval_verdict.cache_clear()
    name = "operators.extract_batch.extract_doc_batch_arrow"
    out = []
    t0 = time.perf_counter()
    for b in batches:
        idx = tracer.open(name) if tracer else None
        res = list(extract_doc_batch_arrow([b], weights))
        if tracer:
            tracer.close(idx)
            tracer.counts["extract_doc_batch_arrow.rows_in"] += b.num_rows
            tracer.counts["extract_doc_batch_arrow.rows_out"] += sum(r.num_rows for r in res)
        out.extend(res)
    wall = time.perf_counter() - t0
    table = pa.Table.from_batches(out) if out else None
    return wall, table


def ceiling_refs(n_docs: int = 16) -> list[str]:
    """The normaliser's fixed input: media refs of the first fixture
    documents, the same in every run and workload."""
    from ocr_spark.sources.corpus import doc_ids, doc_spans  # noqa: PLC0415

    return [
        s["media_ref"] for d in doc_ids(n_docs) for s in doc_spans(d) if s["kind"] == "media"
    ]


def ceiling(refs: list[str], weights, reps: int = 3) -> tuple[float, float]:
    """Host normaliser: (crops, media refs) per second of the
    single-process OCR chain over a fixed list of media refs, best of
    ``reps`` (interference only ever slows a capability measurement)."""
    from ocr_spark.functions.arith import eval_verdict  # noqa: PLC0415
    from ocr_spark.operators.postprocess import extract_media_spans_batch  # noqa: PLC0415
    from ocr_spark.sources import media  # noqa: PLC0415

    crops = [0]
    orig = media.box_probs_batch

    def counting(items, w=None):
        crops[0] += len(items)
        return orig(items, w)

    best = 0.0, 0.0
    media.box_probs_batch = counting
    try:
        for _ in range(reps):
            eval_verdict.cache_clear()
            crops[0] = 0
            t0 = time.perf_counter()
            extract_media_spans_batch(refs, weights)
            wall = time.perf_counter() - t0
            best = max(best, (crops[0] / wall, len(refs) / wall))
    finally:
        media.box_probs_batch = orig
    return best
