"""Fixture oracle: faithful SEQUENTIAL transcriptions of the reference
pipeline's pure-Python decision logic. ``tools/make_fixtures.py``
freezes the golden fixtures from it (FIXTURES.md §2), and tests import
its transcriptions as references for the engine's vectorized forms
(tests/test_ctc.py, test_layout.py, test_geometry.py). The engine
never imports it.

This module is deliberately an *independent second implementation* of
everything the engine vectorizes (ocr_spark.functions / operators), so
frozen fixtures detect divergence in either. The only shared pieces
are the synthetic data definitions themselves (build_page /
detect_page / box_probs_batch / corpus), which are our own design and have a
single source of truth.

Transcribed behaviors and their reference citations:
- label_replace chain         inference2.py:13-53
- revise_label double-'='     inference.py:145-155
- no_chinese                  layout_utils.py:17-27
- eval_label                  utils.py:50-117 (guarded eval, see below)
- greedy CTC decode           pipline.py:359-363 semantics
- CPU beam decode             pipline.py:31-84
- row_get_pair                layout_utils.py:118-216
- column_get_pair             layout_utils.py:219-288
- create_big_img/row_connect  pipline.py:165-201
- graph_to_forest             pipline.py:224-287
- judge_fraction              pipline.py:291-300
- routing + vertical splice   pipline.py:698-796 (greedy-mode shape)

Security note: the reference grades with bare ``eval()``. Here eval is
kept (fidelity) but hard-guarded by a character allowlist that admits
only arithmetic — letters/underscores/dunders cannot reach it. The
engine itself (ocr_spark.functions.arith) uses a hand-written parser
and never calls eval.
"""

from __future__ import annotations

import math
import re

from ocr_spark.config import ALPHABET, BLANK_ID
from ocr_spark.operators.detect import detect_page
from ocr_spark.sources.media import box_probs_batch, build_page

_ALLOWED = re.compile(r"[0-9.+\-*/%~() \t]*\Z")


def _guarded_eval(expr: str):
    if not _ALLOWED.match(expr):
        raise ValueError("non-arithmetic character")
    return eval(expr, {"__builtins__": {}}, {})  # noqa: S307 - guarded, fixture-gen only


# --- text normalization (inference2.py:13-53) ------------------------------

def label_replace(label: str) -> str:
    for a, b in [
        ("（", "("), ("）", ")"), ("４", "4"), ("１", "1"), ("５", "5"),
        ("８", "8"), ("９", "9"), ("＋", "+"), ("２", "2"), ("０", "0"),
        ("６", "6"), ("３", "3"), ("７", "7"), ("－", "-"), ("　", ""),
        ("？", "?"), ("，", ","), ("：", ":"), ("＞", ">"), ("！", "!"),
        ("＝", "="), ("—", "~"), ("√", ""), (" ", ""), ("＇", "'"),
        ("①", "1"), ("②", "2"), ("③", "3"), ("④", "4"), ("_", ""),
        ("一", "1"), ("二", "2"), ("五", "5"), ("/", ""),
    ]:
        label = label.replace(a, b)
    return label


def revise_label(label: str) -> str:
    if label.count("=") > 1:
        label = "=".join([label.split("=")[0], label.split("=")[-1]])
    return label


def no_chinese(s: str) -> bool:
    for ch in s:
        if "一" <= ch <= "鿿":
            return False
    return True


# --- verdict (utils.py:50-117) ---------------------------------------------

def eval_label(label: str) -> str:
    try:
        if "=" not in label or label == "":
            return "problem"
        left = label.split("=")[0]
        right = label.split("=")[1]
        if right == "" or left == "":
            return "problem"
        left = left.replace("×", "*")
        if "÷" in left and ("*" in right or "~" in right):
            left1 = _guarded_eval(left.replace("÷", "//"))
            left2 = _guarded_eval(left.replace("÷", "%"))
            right1 = right2 = ""
            if "*" in right:
                right1 = right.split("*")[0]
                right2 = right.split("*")[-1]
            if "~" in right:
                right1 = right.split("~")[0]
                right2 = right.split("~")[-1]
            right1 = _guarded_eval(right1)
            right2 = _guarded_eval(right2)
            if right1 == int(left1) and right2 == int(left2):
                return "right"
            return "error"
        if "÷" in left:
            left = left.replace("÷", "/")
        result = _guarded_eval(left)
        if result == int(right):
            return "right"
        return "error"
    except Exception:
        return "problem"


# --- decoding ---------------------------------------------------------------

def greedy_decode(probs) -> str:
    prev = None
    out = []
    for t in range(probs.shape[0]):
        j = int(probs[t].argmax())
        if j != prev and j != BLANK_ID:
            out.append(ALPHABET[j])
        prev = j
    return "".join(out)


def beam_search_decoder(data, k: int = 10):
    sequences = [[[], 0.0]]
    for row in data:
        all_candidates = []
        for seq, score in sequences:
            for j in range(len(row)):
                seq_ = seq.copy()
                if seq and seq[-1] == j and j != BLANK_ID:
                    candidate = [seq_, score + (-math.log(row[j]))]
                else:
                    if seq and seq[-1] == BLANK_ID:
                        seq_.remove(BLANK_ID)
                    candidate = [seq_ + [j], score + (-math.log(row[j]))]
                all_candidates.append(candidate)
        ordered = sorted(all_candidates, key=lambda t: t[1])
        picked = []
        seen = []
        for i, cand in enumerate(ordered):
            if i == 0 or cand[0] not in seen:
                picked.append(cand)
                seen.append(cand[0])
            if len(picked) == k:
                break
        sequences = picked
    return sequences


def beam_texts(probs, k: int = 10):
    return ["".join(ALPHABET[i] for i in seq) for seq, _ in beam_search_decoder(probs, k)]


# --- layout ------------------------------------------------------------------

class OBox:
    def __init__(self, bbox, typ):
        self.left, self.top, self.right, self.bottom = (
            float(bbox[0]), float(bbox[1]), float(bbox[2]), float(bbox[3]),
        )
        self.typ = typ
        self.output = ""
        self.state = ""
        self.backups = []
        self.position = (-1, -1)
        self.probs = None

    @property
    def bbox(self):
        return [self.left, self.top, self.right, self.bottom]


def _dist(p1, p2):
    return math.sqrt(sum(pow(a - b, 2) for a, b in zip(p1, p2)))


def cross_prod(p1, p2, p3):
    """Transcribed: layout_analysis_bottom_to_top.py:15-20 (points are
    (x, y) tuples)."""
    x1 = p2[0] - p1[0]
    y1 = p2[1] - p1[1]
    x2 = p3[0] - p1[0]
    y2 = p3[1] - p1[1]
    return x1 * y2 - x2 * y1


def is_intersec(p1, p2, p3, p4):
    """Transcribed: layout_analysis_bottom_to_top.py:22-38 — bounding
    box quick-reject (>=, touching passes) then straddle test (<=0,
    collinear touching intersects)."""
    if (
        max(p1[0], p2[0]) >= min(p3[0], p4[0])
        and max(p3[0], p4[0]) >= min(p1[0], p2[0])
        and max(p1[1], p2[1]) >= min(p3[1], p4[1])
        and max(p3[1], p4[1]) >= min(p1[1], p2[1])
    ):
        if (
            cross_prod(p1, p2, p3) * cross_prod(p1, p2, p4) <= 0
            and cross_prod(p3, p4, p1) * cross_prod(p3, p4, p2) <= 0
        ):
            return 1
        return 0
    return 0


def _row_iou(b1, b2):
    mt = max(b1[1], b2[1])
    mb = min(b1[3], b2[3])
    if mt >= mb:
        return 0
    return (mb - mt) / min(b1[3] - b1[1], b2[3] - b2[1])


def _col_iou(b1, b2, norm="min"):
    ml = max(b1[0], b2[0])
    mr = min(b1[2], b2[2])
    if ml >= mr:
        return 0
    if norm == "min":
        return (mr - ml) / min(b1[2] - b1[0], b2[2] - b2[0])
    return (mr - ml) / max(b1[2] - b1[0], b2[2] - b2[0])


def _in_same_line(pb, hb):
    centre = (pb[1] + pb[3]) / 2
    if (pb[1] >= hb[1] and pb[3] <= hb[3]) or (hb[1] >= pb[1] and hb[3] <= pb[3]):
        return True
    if centre > hb[1] and centre < hb[3]:
        return True
    return _row_iou(pb, hb) > 0.9


def row_get_pair(prints, hands, min_value=3.5):
    def edge_dist(b1, b2):
        p1 = (b1[2], (b1[1] + b1[3]) / 2)
        p2 = (b2[0], (b2[1] + b2[3]) / 2)
        return _dist(p2, p1)

    def best_pair(b1, b2):
        return _row_iou(b1, b2) > 0.9 and _col_iou(b1, b2) > 0.3

    def cond(box1, box2):
        same = _in_same_line(box1.bbox, box2.bbox)
        d1 = box2.left - box1.right < (box1.right - box1.left) / min_value
        d2 = abs(box2.left - box1.right) < (box1.right - box1.left)
        ci = _col_iou(box1.bbox, box2.bbox) < 0.9
        return same and d1 and d2 and ci

    p2h = {}
    h2p = {}
    for i, p in enumerate(prints):
        min_d = 9999
        pair = -1
        for j, h in enumerate(hands):
            d = edge_dist(p.bbox, h.bbox)
            if min_d > d:
                pair = j
                min_d = d
            if best_pair(p.bbox, h.bbox):
                pair = j
                break
        try:
            if cond(p, hands[pair]):
                p2h[i] = pair
                if h2p.get(pair):
                    h2p[pair].append(i)
                else:
                    h2p[pair] = [i]
        except Exception:
            pass

    for key in h2p:
        if len(h2p[key]) > 1:
            min_d = 9999
            min_i = -1
            for c in h2p[key]:
                d = edge_dist(prints[c].bbox, hands[key].bbox)
                if min_d > d:
                    min_d = d
                    p2h.pop(min_i, None)
                    min_i = c
                else:
                    p2h.pop(c)
    return p2h


def column_get_pair(boxes):
    def left_dist(b1, b2):
        return _dist((b2[0], (b2[1] + b2[3]) / 2), (b1[0], (b1[1] + b1[3]) / 2))

    t2b = {}
    for i, bt in enumerate(boxes):
        min_d = 9999
        pair = -1
        for j, bb in enumerate(boxes):
            if bt is bb:
                continue
            if bt.top > bb.top:
                continue
            d = left_dist(bt.bbox, bb.bbox)
            ci = _col_iou(bt.bbox, bb.bbox) > 0.1
            cd1 = d < (bt.bottom - bt.top) * 4 or d < (bb.bottom - bb.top) * 4
            cd2 = d < min_d and d < (bt.bottom - bt.top) * 2
            if (d < min_d and ci and cd1) or cd2:
                min_d = d
                pair = j
        t2b[i] = pair
    return t2b


def create_big_img(pairs, list1, list2):
    l1 = list1.copy()
    l2 = list2.copy()
    merged = []
    for i in pairs:
        a = list1[i]
        b = list2[pairs[i]]
        l1.remove(a)
        l2.remove(b)
        m = OBox(
            [min(a.left, b.left), min(a.top, b.top), max(a.right, b.right), max(a.bottom, b.bottom)],
            "merge",
        )
        merged.append(m)
    return l1, l2, merged


def row_connect(prints, hands):
    p2h = row_get_pair(prints, hands)
    print_res, hand_res, merge = create_big_img(p2h, prints, hands)
    if print_res:
        m2p = row_get_pair(merge, print_res, 10)
    else:
        m2p = {}
    merge_res, print_res, merge = create_big_img(m2p, merge, print_res)
    return merge_res + merge, hand_res, print_res


def graph_to_forest(pairs, nodes):
    forest_num = []
    for top in pairs:
        bottom = pairs[top]
        if len(forest_num) == 0:
            forest_num.append([top] if bottom == -1 else [top, bottom])
            continue
        tf_ = []
        bf_ = []
        for f in forest_num:
            if top in f:
                tf_ = f
            if bottom in f:
                bf_ = f
            if tf_ and bf_:
                break
        if tf_ and bf_ and tf_ is not bf_:
            tf_.extend(bf_)
            forest_num.remove(bf_)
        elif tf_:
            if bottom != -1:
                tf_.append(bottom)
        elif bf_:
            bf_.append(top)
        else:
            forest_num.append([top] if bottom == -1 else [top, bottom])

    forests = [[nodes[i] for i in f] for f in forest_num]
    for i, f in enumerate(forests):
        f.sort(key=lambda nd: nd.top)
        for j, nd in enumerate(f):
            nd.position = (i, j)
    return forests


def judge_fraction(forests):
    for forest in forests:
        for top in forest:
            if top.typ == "merge" or top.typ == "print":
                for i in range(top.position[1] + 1, len(forest)):
                    bottom = forest[i]
                    if bottom.typ == "merge" or bottom.typ == "print":
                        break
                    if _col_iou(top.bbox, bottom.bbox, "max") > 0.5:
                        top.typ = "fraction"


# --- full page pipeline (greedy-mode shape of pipline.py:610-798) ----------

def extract_media_span(media_ref: str) -> list:
    page = build_page(media_ref)
    boxes, classes = detect_page(page)
    if not classes:
        return []
    prints = [OBox(boxes[i], "print") for i in range(len(classes)) if classes[i] == "print"]
    hands = [OBox(boxes[i], "hand") for i in range(len(classes)) if classes[i] != "print"]

    if prints and hands:
        row_nodes, hand_res, print_res = row_connect(prints, hands)
        all_nodes = row_nodes + hand_res + print_res
        forests = graph_to_forest(column_get_pair(all_nodes), all_nodes)
        judge_fraction(forests)
    else:
        all_nodes = prints + hands
        forests = graph_to_forest(column_get_pair(all_nodes), all_nodes)

    for node in all_nodes:
        node.probs = box_probs_batch([(page, node.bbox)])[0]
        node.output = greedy_decode(node.probs)

    connect = []
    vertical = []
    fraction = []
    other = []
    for node in all_nodes:
        if node.typ == "merge":
            node.state = eval_label(node.output)
            if node.state != "right" and no_chinese(node.output):
                node.backups = beam_texts(node.probs)
                for cand in node.backups:
                    if eval_label(cand) == "right":
                        node.state = "right"
                        node.output = cand
                        break
            connect.append(node)
        elif node.typ == "print":
            state = eval_label(node.output)
            if state == "right":
                node.state = state
                connect.append(node)
            elif "@" in node.output:
                fraction.append(node)
            else:
                vertical.append(node)
        elif node.typ == "hand":
            state = eval_label(node.output)
            if state == "right":
                node.state = state
                connect.append(node)
            else:
                other.append(node)
        else:
            other.append(node)

    for v in vertical:
        forest = forests[v.position[0]]
        state = ""
        out = ""
        hit = False
        for num in range(max(v.position[1] - 2, 0), len(forest)):
            b = forest[num]
            if b.typ == "print" or b.typ == "merge":
                continue
            label = v.output.replace("=", "") + "=" + b.output.replace("=", "")
            state = eval_label(label)
            out = label
            broke = False
            for vc in v.backups:
                for bc in b.backups:
                    label = vc.replace("=", "") + "=" + bc.replace("=", "")
                    state = eval_label(label)
                    out = label
                    if state == "right":
                        broke = True
                        break
                if broke:
                    break
            if state == "right":
                m = OBox(
                    [min(v.left, b.left), min(v.top, b.top), max(v.right, b.right), max(v.bottom, b.bottom)],
                    "merge",
                )
                m.output = out
                m.state = state
                connect.append(m)
                hit = True
                break
        if not hit:
            if no_chinese(v.output) and set("+-×÷=") & set(v.output):
                v.state = "error"
            else:
                v.state = "problem"
            connect.append(v)

    return [f"{n.state}:{n.output}" for n in connect]


# --- document-level oracle ---------------------------------------------------

def extract_document(spans: list) -> list:
    """spans: list of dicts (kind, text, media_ref, offset) -> ordered
    list of extracted (kind, text, media_ref) tuples."""
    out = []
    for span in sorted(spans, key=lambda s: s["offset"]):
        if span["kind"] == "text":
            cleaned = revise_label(label_replace(span["text"]))
            if cleaned != "" and no_chinese(cleaned):
                out.append(("text", cleaned, ""))
        else:
            for text in extract_media_span(span["media_ref"]):
                out.append(("media", text, span["media_ref"]))
    return out
