"""CTC decoding kernels (numpy).

- ``greedy_decode_batch`` — vectorized best-path decode: per-timestep
  argmax, collapse adjacent repeats, drop blanks (the semantics of
  ``tf.nn.ctc_greedy_decoder(merge_repeated=True)`` the reference runs
  at pipline.py:359-363 / 681-683).
- ``beam_decode_batch`` — replicates the observable behavior of the
  reference's hand-rolled CPU beam (pipline.py:31-84) for many matrices
  at once, including its quirks: blank id 20 is appended like any
  symbol but removed from the prefix before the next non-matching
  emission, repeated non-blank symbols merge, candidates are deduped by
  sequence keeping the best-scored (stable order), k best survive per
  step. Because a blank can only ever sit at the tail of a prefix (it
  is removed as soon as anything is appended after it), the
  reference's "remove first blank" is equivalent to "drop trailing
  blank", which is what we implement. ``beam_decode`` and
  ``beam_decode_texts`` are batches of this one decoder.

Scores accumulate -log(p) in float64, identical operation order to the
reference, so sort outcomes match bit-for-bit.

How the batched beam stays exact
--------------------------------
All rows step together, longest first, so the rows still running at
step t are a prefix of the batch. At each step a row has k beams,
sorted; the reference orders the k x C candidates by score, then by
generation order (flat index b*C + j), and keeps the first k distinct
prefixes.

- *Class ranks.* Classes are ranked per frame by (-log p, class id).
  Candidate (beam b, rank r) is preceded by every (b' <= b, r' <= r),
  in the reference's order too (ties fall back on b, then class id).
  The r + 1 candidates (b, 0..r) are distinct prefixes.
- *The 3k window.* A prefix P can come from at most three (beam,
  class) pairs: P itself merging its last symbol, its parent P[:-1]
  appending it, or P[:-1] + blank appending it. So any 3k candidates
  hold at least k distinct prefixes, and the first k distinct ones lie
  within the first 3k. Only the grid cells with r < k and
  (b + 1)(r + 1) <= 3k can be among them (61 of 210 for k = 10).
- *Fast window.* On recognizer output the first k + k//2 + 1
  candidates (16 for k = 10) hold k distinct prefixes in all but about
  one row-step in a thousand; a row where they do not is redone over
  the full 3k.
- *Order.* The cells are laid out beam-major, rank-minor, which is the
  reference's tie order, so a stable sort by score alone is exact
  (exact ties are common: two alignments of the same symbols often
  sum to the same score).
- *Prefix identity.* A prefix is a trie node; its key is (parent id,
  last symbol), packed as ``parent * C + symbol``. Every row has its
  own root, so nodes never cross rows and a key names one prefix
  exactly: no hashing, no collisions. A per-beam key table gives the
  key each class makes from each beam, so a window's keys are one
  gather. Duplicates inside a window are found by sorting (key,
  position) pairs. Only the k survivors are interned, through a flat
  child table indexed by key: one gather per step, where a dict of
  ~10^5 keys cost ~0.2 us per lookup.
"""

from __future__ import annotations

import numpy as np

from ocr_spark.config import ALPHABET, BEAM_K, BLANK_ID


def ids_to_text(ids) -> str:
    """Map class ids to characters (reference pipline.py:583-589)."""
    return "".join(ALPHABET[i] for i in ids)


def greedy_decode(probs: np.ndarray) -> str:
    """Best-path decode of one [T, C] probability matrix."""
    ids = probs.argmax(axis=1)
    if len(ids) == 0:
        return ""
    keep = np.empty(len(ids), dtype=bool)
    keep[0] = True
    np.not_equal(ids[1:], ids[:-1], out=keep[1:])
    ids = ids[keep]
    ids = ids[ids != BLANK_ID]
    return ids_to_text(ids)


def greedy_decode_batch(probs: np.ndarray, lengths: np.ndarray) -> list[str]:
    """Vectorized best-path decode of a padded [N, T, C] batch.

    ``lengths[i]`` gives the true timestep count of row i — the
    pad-to-max + width-vector pattern of the reference recognizer
    (utils.py:171-180, model.py:124-133).
    """
    n, t, _ = probs.shape
    if n == 0:
        return []
    ids = probs.argmax(axis=2)  # N x T
    valid = np.arange(t)[None, :] < lengths[:, None]
    changed = np.ones((n, t), dtype=bool)
    changed[:, 1:] = ids[:, 1:] != ids[:, :-1]
    keep = valid & changed & (ids != BLANK_ID)
    return [ids_to_text(ids[i][keep[i]]) for i in range(n)]


def _window_cells(k: int, width: int) -> np.ndarray:
    """Flat (beam, rank) grid cells, beam-major, that can hold one of a
    step's first ``width`` candidates."""
    b, r = np.divmod(np.arange(k * k), k)
    return np.flatnonzero((b + 1) * (r + 1) <= width)


def _select(ar, score, nl, sym, kr, cell_beam, cell_rank, width, k):
    """One step for a set of rows (``ar``: their index column 0..m-1):
    each row's first k distinct prefixes among its candidates in the
    given cells, looking ``width`` deep. Returns their keys and scores,
    and the rows that hold fewer than k within the window (their
    outputs are only placeholders)."""
    cand = score.take(cell_beam, axis=1) + nl.take(cell_rank, axis=1)
    order = cand.argsort(axis=1, kind="stable")[:, :width]
    key = kr[ar, cell_beam[order], sym[ar, cell_rank[order]]]
    # first occurrences: sort (key, position), drop repeats, re-sort
    shift = width.bit_length()
    packed = key << shift
    packed |= np.arange(width)
    packed.sort(axis=1)
    pos = packed & ((1 << shift) - 1)
    np.putmask(pos[:, 1:], (packed[:, 1:] ^ packed[:, :-1]) < (1 << shift), width)
    pos.sort(axis=1)
    keep = pos[:, :k]
    short = np.flatnonzero(keep[:, -1] == width)
    if short.size:
        np.minimum(keep, width - 1, out=keep)
    return key[ar, keep], cand[ar, order[ar, keep]], short


def beam_decode_batch(
    mats: list[np.ndarray], k: int = BEAM_K
) -> list[list[tuple[tuple[int, ...], float]]]:
    """Beam decode many [T_i, C] probability matrices in one pass.

    Returns, per matrix, up to k (id-sequence, score) pairs, best first:
    exactly what the reference beam (pipline.py:31-84) returns for that
    matrix alone, whatever else is in the batch. ``1 <= k <= C``.
    """
    n_rows = len(mats)
    if n_rows == 0:
        return []
    n_cls = mats[0].shape[1]
    if not 1 <= k <= n_cls:
        raise ValueError(f"beam width k={k} outside 1..{n_cls}")
    lengths = np.array([m.shape[0] for m in mats], dtype=np.int64)
    rows = np.argsort(-lengths, kind="stable")  # longest first
    t_len = lengths[rows]
    t_max = int(t_len[0])
    # per step t: the k best classes of every row's frame t, ranked by
    # (-log p, class id), time-major so a step reads one contiguous slab
    rank_sym = np.zeros((t_max, n_rows, k), dtype=np.int16)
    rank_nl = np.zeros((t_max, n_rows, k))
    for r, i in enumerate(rows.tolist()):
        if t_len[r]:
            nl = -np.log(mats[i].astype(np.float64))
            order = nl.argsort(axis=1)
            top = np.take_along_axis(nl, order[:, : k + 1], 1)
            if np.count_nonzero(top[:, 1:] == top[:, :-1]):  # a frame with equal p
                order = nl.argsort(axis=1, kind="stable")
                top = np.take_along_axis(nl, order[:, : k + 1], 1)
            rank_sym[: t_len[r], r] = order[:, :k]
            rank_nl[: t_len[r], r] = top[:, :k]
    # rows still running at step t: t_len is descending
    n_active = np.searchsorted(-t_len, -np.arange(t_max), side="left").tolist()

    width = min(3 * k, k * k)
    cells = _window_cells(k, width)
    # the first k distinct prefixes nearly always lie within this many
    # candidates; rows where they do not redo the step over all 3k
    fast = min(width, k + k // 2 + 1)
    fast_cells = _window_cells(k, fast)
    cell_beam, cell_rank = np.divmod(cells, k)
    fast_beam, fast_rank = np.divmod(fast_cells, k)

    # beams: score, node id, and the key table kr[row, beam, class] of
    # the prefix each class makes from each beam: an append, or the
    # beam itself when the class repeats its last symbol (or is a
    # blank after a trailing blank)
    score = np.full((n_rows, k), np.inf)
    score[:, 0] = 0.0  # one live beam, the row's root; the rest are dead
    node = np.zeros((n_rows, k), dtype=np.int64)
    node[:, 0] = np.arange(n_rows)
    classes = np.arange(n_cls)
    kr = np.repeat((node[:, :1] * n_cls)[:, :, None] + classes, k, axis=1)  # dead beams dup the root
    beam_ix = np.arange(k)
    row_ix = np.arange(n_rows)[:, None]

    # trie: node ids 0..n_rows-1 are the roots; about two nodes per frame
    cap = n_rows * (k + 1) + 2 * int(t_len.sum())
    child = np.full(cap * n_cls, -1, dtype=np.int32)  # key -> node id
    next_id = n_rows

    for t in range(t_max):
        n = n_active[t]
        nl, sym = rank_nl[t, :n], rank_sym[t, :n]
        ar = row_ix[:n]
        new_key, new_score, short = _select(
            ar, score[:n], nl, sym, kr[:n], fast_beam, fast_rank, fast, k
        )
        if short.size:
            new_key[short], new_score[short], _ = _select(
                row_ix[: len(short)], score[short], nl[short], sym[short], kr[short],
                cell_beam, cell_rank, width, k,
            )
        score[:n] = new_score
        # intern the survivors
        ids = child.take(new_key)
        miss = ids < 0
        fresh = new_key[miss]
        if fresh.size:
            if next_id + fresh.size > cap:
                cap = 2 * (next_id + fresh.size)
                child = np.concatenate([child, np.full(cap * n_cls - child.size, -1, dtype=np.int32)])
            made = np.arange(next_id, next_id + fresh.size)
            child[fresh] = made
            ids[miss] = made
            next_id += fresh.size
        node[:n] = ids
        # next step's key table; a trailing blank is dropped before an
        # append, so such a beam appends to its parent
        last = new_key % n_cls
        base = np.multiply(ids, n_cls, dtype=np.int64)
        np.putmask(base, last == BLANK_ID, new_key - BLANK_ID)
        np.add(base[:, :, None], classes, out=kr[:n])
        kr[ar, beam_ix, last] = new_key

    # node id -> key, read back from the child table
    keys = np.flatnonzero(child >= 0)
    node_key = np.empty(next_id, dtype=np.int64)
    node_key[child[keys]] = keys
    return _materialize(rows, t_len, node, score, node_key.tolist(), n_cls)


def _materialize(rows, t_len, node, score, node_key, n_cls):
    """Walk the trie back from each row's final beams to id tuples."""
    n_rows = len(rows)
    seqs: dict[int, tuple[int, ...]] = {}

    def seq(i):
        path = []
        while i >= n_rows and i not in seqs:
            path.append(i)
            i = node_key[i] // n_cls
        s = seqs.get(i, ())
        for j in reversed(path):
            s = s + (node_key[j] % n_cls,)
            seqs[j] = s
        return s

    out: list = [None] * n_rows
    nodes, scores = node.tolist(), score.tolist()
    for r, i in enumerate(rows.tolist()):
        if t_len[r] == 0:
            out[i] = [((), 0.0)]
        else:
            out[i] = [(seq(a), s) for a, s in zip(nodes[r], scores[r])]
    return out


def beam_decode(probs: np.ndarray, k: int = BEAM_K) -> list[tuple[tuple[int, ...], float]]:
    """Beam decode one [T, C] probability matrix: up to k
    (id-sequence, score) pairs, best first (a batch of one)."""
    return beam_decode_batch([probs], k)[0]


def beam_decode_texts(mats: list[np.ndarray], k: int = BEAM_K) -> list[list[str]]:
    """Beam decode many matrices -> per matrix, candidate strings best
    first (the ``logits_to_output`` shape, reference pipline.py:593-607;
    note a trailing blank decodes to a trailing space, as in the
    reference)."""
    return [[ids_to_text(s) for s, _ in beams] for beams in beam_decode_batch(mats, k)]
