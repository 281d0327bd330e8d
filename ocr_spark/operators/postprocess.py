"""Per-page recognition routing, vertical-form splice, and the full
media-span extraction chain.

Semantics re-expressed from the reference's post-processing stage
(pipline.py:698-798), greedy-decode configuration (the
``GREEADY_BEAM=True`` shape, config.py:6 / pipline.py:680-685):

- primary output per box = greedy CTC decode;
- routing by type x verdict: 'merge' always emits (with a beam-backup
  retry when not 'right' and CJK-free, pipline.py:713-723; the beam
  runs once per page chunk over every such node, ``_beam_backups``,
  and routing walks the candidates it left in ``node.backups``); 'print'
  emits when 'right', else '@' -> fraction (dropped) else vertical;
  'hand' emits when 'right' else dropped; 'fraction' (from
  judge_fraction) is dropped;
- vertical-form splice (pipline.py:757-796): each vertical print walks
  its forest from rank max(r-2, 0) downward, skipping print/merge
  nodes, splicing "expr=answer" candidates until one grades 'right'
  (emitting a merged hull) else the vertical itself is emitted with
  'error' (has an operator, CJK-free) or 'problem'.

Quirk preserved: under greedy mode backup lists of vertical/bottom
boxes are empty, so the splice grades only the direct concatenation
(the reference's nested backup loops never run).

Emitted span text is ``"<state>:<output>"``.
"""

from __future__ import annotations

import numpy as np

from ocr_spark.config import BEAM_K
from ocr_spark.functions.arith import eval_verdict
from ocr_spark.functions.ctc import beam_decode_texts, greedy_decode_batch
from ocr_spark.functions.text_clean import has_cjk
from ocr_spark.operators.detect import detect_page
from ocr_spark.operators.layout import (
    Node,
    build_forests,
    column_pairs,
    judge_fraction,
    row_connect,
)
from ocr_spark.sources.media import Page, build_page

_OPERATOR_CHARS = set("+-×÷=")


def _recognize_pages(
    pages_nodes: list[tuple[Page, list[Node]]], weights: dict | None = None
) -> None:
    """Batch-recognize every node of every page in one shot: the
    forward pass runs width-bucketed across ALL crops of the batch
    (sources.media.box_probs_batch — one BLAS matmul per bucket instead
    of one per crop), then the broadcast class projection (M7,
    reference pipline.py:684-685) and one vectorized greedy decode per
    group of equal-length matrices (the reference's utils.py:171-180
    batched sess.run). Rows of one group share T, so no pad-to-max copy
    of the whole batch is made. Assigns node.probs / node.output in
    place."""
    items = [(page, n.bbox) for page, nodes in pages_nodes for n in nodes]
    if not items:
        return
    from ocr_spark.sources.weights import project_probs

    from ocr_spark.sources.media import box_probs_batch

    mats = [project_probs(m, weights) for m in box_probs_batch(items, weights)]
    by_t: dict[int, list[int]] = {}
    for i, m in enumerate(mats):
        by_t.setdefault(m.shape[0], []).append(i)
    outputs: list = [None] * len(mats)
    for t, idxs in by_t.items():
        texts = greedy_decode_batch(
            np.stack([mats[i] for i in idxs]), np.full(len(idxs), t, dtype=np.int64)
        )
        for i, text in zip(idxs, texts):
            outputs[i] = text
    flat_nodes = [n for _, nodes in pages_nodes for n in nodes]
    for node, mat, out in zip(flat_nodes, mats, outputs):
        node.probs = mat
        node.output = out


def _beam_backups(nodes: list[Node]) -> None:
    """Beam-backup candidates for every merge node greedy decoding did
    not grade 'right' and that is CJK-free (pipline.py:713-723), from
    ONE batched beam decode over all of them; sets ``node.backups``."""
    retry = [
        n
        for n in nodes
        if n.typ == "merge" and eval_verdict(n.output) != "right" and not has_cjk(n.output)
    ]
    if retry:
        texts = beam_decode_texts([n.probs for n in retry], BEAM_K)
        for node, backups in zip(retry, texts):
            node.backups = backups


def route_nodes(
    nodes: list[Node],
) -> tuple[list[Node], list[Node], list[Node], list[Node]]:
    """Type x verdict routing -> (connect, vertical, fraction, other).
    Merge nodes take the first beam backup (``_beam_backups``) that
    grades 'right'."""
    connect: list[Node] = []
    vertical: list[Node] = []
    fraction: list[Node] = []
    other: list[Node] = []
    for node in nodes:
        if node.typ == "merge":
            node.state = eval_verdict(node.output)
            for cand in node.backups:  # non-empty only if not 'right'
                if eval_verdict(cand) == "right":
                    node.state = "right"
                    node.output = cand
                    break
            connect.append(node)
        elif node.typ == "print":
            state = eval_verdict(node.output)
            if state == "right":
                node.state = state
                connect.append(node)
            elif "@" in node.output:
                fraction.append(node)
            else:
                vertical.append(node)
        elif node.typ == "hand":
            state = eval_verdict(node.output)
            if state == "right":
                node.state = state
                connect.append(node)
            else:
                other.append(node)
        else:  # 'fraction' from judge_fraction
            other.append(node)
    return connect, vertical, fraction, other


def splice_vertical(
    vertical: list[Node], forests: list[list[Node]], connect: list[Node]
) -> None:
    """Vertical-form (竖式) splice; appends results to connect."""
    for v in vertical:
        forest = forests[v.position[0]]
        state = ""
        out = ""
        spliced = False
        for num in range(max(v.position[1] - 2, 0), len(forest)):
            b = forest[num]
            if b.typ in ("print", "merge"):
                continue
            label = v.output.replace("=", "") + "=" + b.output.replace("=", "")
            state = eval_verdict(label)
            out = label
            done = False
            for v_cand in v.backups:  # empty under greedy mode
                for b_cand in b.backups:
                    label2 = v_cand.replace("=", "") + "=" + b_cand.replace("=", "")
                    state = eval_verdict(label2)
                    out = label2
                    if state == "right":
                        done = True
                        break
                if done:
                    break
            if state == "right":
                hull = np.array(
                    [
                        min(v.left, b.left),
                        min(v.top, b.top),
                        max(v.right, b.right),
                        max(v.bottom, b.bottom),
                    ],
                    dtype=np.float64,
                )
                connect.append(Node(bbox=hull, typ="merge", output=out, state="right"))
                spliced = True
                break
        if not spliced:
            if not has_cjk(v.output) and (_OPERATOR_CHARS & set(v.output)):
                v.state = "error"
            else:
                v.state = "problem"
            connect.append(v)


def _prepare_page(media_ref: str) -> tuple[Page, list[Node], list[list[Node]]]:
    """Pre-recognition half of the OCR chain for one media span:
    recipe -> detect -> layout. Returns (page, all_nodes, forests);
    all_nodes is empty when detection finds nothing."""
    page = build_page(media_ref)
    boxes, classes = detect_page(page)
    if len(classes) == 0:
        return page, [], []

    prints = [Node(bbox=boxes[i], typ="print") for i in range(len(classes)) if classes[i] == "print"]
    hands = [Node(bbox=boxes[i], typ="hand") for i in range(len(classes)) if classes[i] != "print"]

    if prints and hands:
        row_nodes, hand_res, print_res = row_connect(prints, hands)
        all_nodes = row_nodes + hand_res + print_res
        cpairs = column_pairs(all_nodes)
        forests = build_forests(cpairs, all_nodes)
        judge_fraction(forests)
    else:
        all_nodes = prints + hands
        cpairs = column_pairs(all_nodes)
        forests = build_forests(cpairs, all_nodes)
    return page, all_nodes, forests


def _finish_page(all_nodes: list[Node], forests: list[list[Node]]) -> list[str]:
    """Post-recognition half: route -> splice -> ordered span texts."""
    connect, vertical, _fraction, _other = route_nodes(all_nodes)
    splice_vertical(vertical, forests, connect)
    return [f"{n.state}:{n.output}" for n in connect]


# recognition batches this many pages at once: bounds the live
# node.probs matrices (~17 KB each, ~4 nodes/page -> ~35 MB/chunk; the
# rendered crops are not counted here, box_probs_batch keeps at most
# one forward slice of them alive) while keeping the width buckets
# full enough to amortize the matmuls. 64-page chunks were no cheaper:
# 11.4 vs 11.2 CPU-s over the light docs of one perfbench `mixed` pass
# in 125-doc calls (one process, median of 3).
_PAGE_CHUNK = 512


def extract_media_spans_batch(
    media_refs: list[str], weights: dict | None = None
) -> list[list[str]]:
    """Full OCR chain for MANY media spans, up to ``_PAGE_CHUNK`` pages
    at a time. Per-page detect/layout and route/splice stay per-page
    computations; the two costly layers run once per chunk:

    - recognition, as width-bucketed batched BLAS matmuls across every
      crop of the chunk (the reference's pad-to-max batched sess.run,
      utils.py:171-180, lifted from one page to the whole Arrow batch);
    - the beam-backup retry, one batched beam decode over every merge
      node of the chunk that greedy decoding did not grade 'right'
      (``_beam_backups``), before any page is routed.

    Measured split of this chain (traced one-process kernel pass of the
    perfbench ``mixed`` sample, 24 documents, seeds 11-13, 4-core VM,
    OpenBLAS ``SkylakeX`` kernels): the forward pass
    (``box_probs_batch``) 62-63%, page prep (recipe, detect, layout)
    21-26%, the beam retry 6-7%, verdicts 1-6%, greedy decode and
    routing about 1%. On the SSE3 ``Prescott`` fallback the forward
    pass was 69-76%.

    A page's texts do not depend on the other pages of the call
    (asserted by test_crnn and test_extraction). ``weights`` is the
    broadcast model-weights dict (sources/weights.py); None = module
    defaults (identical output — the default projection is the identity
    on the 21-class alphabet)."""
    out: list[list[str]] = []
    for s in range(0, len(media_refs), _PAGE_CHUNK):
        chunk = media_refs[s : s + _PAGE_CHUNK]
        preps = [_prepare_page(ref) for ref in chunk]
        _recognize_pages([(page, nodes) for page, nodes, _ in preps], weights)
        _beam_backups([n for _, nodes, _ in preps for n in nodes])
        out.extend(
            _finish_page(nodes, forests) if nodes else []
            for _, nodes, forests in preps
        )
    return out
