"""Seeded inputs for the extraction benchmark.

Every input is a pure function of (workload, seed, number of timed
passes): the engine receives only the staged parquet files. A run
stages one warm-up pass and ``n_passes`` timed passes, each over its
own documents, so no timed pass re-reads documents the session has
already processed (``functions.arith.eval_verdict`` keeps a per-worker
``lru_cache``).

Workloads (each fixes its own file count, never ``defaultParallelism``,
and with it whether ``extract()`` salts):

- ``text_heavy``: benchmark-generated documents of 4-12 text spans from
  the ``sources.corpus`` span domain, plus a few fixture documents (the
  only media spans), in 16 hash-uniform files: four or more per core,
  so ``extract()`` never salts;
- ``mixed``: all 400 fixture documents plus ``sources.corpus.doc_spans``
  documents (the production mix; heavy documents stratified) over a
  seed-chosen doc-id range, 1,000 per pass, in 2 hash-uniform files:
  fewer than the cores, so ``extract()`` salts.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Bump when a generator changes, so cached inputs are rebuilt.
GEN_VERSION = 9
N_FIXTURE_DOCS = 400
HEAVY_FRAC = 0.01  # sources.corpus: ~1% of documents are media-heavy
# sources.corpus heavy documents hold 50-200 media spans; the benchmark
# takes the ones nearest this typical size (see _stratified_range)
HEAVY_MEDIA = 125

SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(SPAN_TYPE))])


@dataclass(frozen=True)
class Workload:
    name: str
    files: int  # staged parquet files per pass
    pass_docs: int  # documents per pass (warm-up included)
    pass_s: float  # nominal seconds per pass: sets the timed pass count
    fixture_docs: int  # fixture documents dealt across the timed passes
    sample_docs: int  # timed documents checked against the no-Spark kernel

    def n_passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "text_heavy",
            files=16,
            pass_docs=20_000,
            pass_s=8.0,
            fixture_docs=40,
            sample_docs=2_000,
        ),
        Workload(
            "mixed",
            files=2,
            pass_docs=1_000,
            pass_s=16.0,
            fixture_docs=N_FIXTURE_DOCS,
            sample_docs=24,
        ),
    )
}


@dataclass
class Staged:
    """A staged input: parquet directories plus what the verifier needs."""

    root: str
    warmup: str
    passes: list[str]
    pass_ids: list[list[str]]  # doc ids per timed pass
    pass_media: list[int]  # media spans per timed pass
    fixture_ids: list[str]  # fixture documents among the timed passes
    digest: str

    @property
    def n_docs(self) -> int:
        return sum(len(ids) for ids in self.pass_ids)


def fixture_doc_ids() -> list[str]:
    from ocr_spark.sources.corpus import doc_ids  # noqa: PLC0415

    return doc_ids(N_FIXTURE_DOCS)


def _spans(doc_id: str) -> list[dict]:
    from ocr_spark.sources.corpus import doc_spans  # noqa: PLC0415

    return doc_spans(doc_id)


def _n_media(spans: list[dict]) -> int:
    return sum(s["kind"] == "media" for s in spans)


def _is_heavy(spans: list[dict]) -> bool:
    # sources.corpus: light documents hold at most 8 spans, heavy ones 50+
    return _n_media(spans) > 8


def _corpus_table(ids: list[str]) -> pa.Table:
    return pa.Table.from_pydict(
        {"doc_id": ids, "spans": [_spans(d) for d in ids]}, schema=DOCS_SCHEMA
    )


def _stratified_range(rng: np.random.Generator, n: int) -> tuple[list[str], list[str]]:
    """(light, heavy) ``sources.corpus`` documents from a seed-chosen
    doc-id range, clear of the fixture ids: the first light documents of
    the range and exactly ``HEAVY_FRAC`` heavy ones. The heavy ones are
    those of the range's first ``4 * n_heavy`` heavy documents whose
    media counts are nearest ``HEAVY_MEDIA``: a heavy document holds
    50-200 media spans, so the costly tail would otherwise move the
    work of a pass by several percent from seed to seed."""
    n_heavy = round(HEAVY_FRAC * n)
    light, heavy = [], []
    i = N_FIXTURE_DOCS + 600 + int(rng.integers(0, 90_000_000))
    while len(light) < n - n_heavy or len(heavy) < 4 * n_heavy:
        d = f"doc-{i:08d}"
        i += 1
        spans = _spans(d)
        if _is_heavy(spans):
            if len(heavy) < 4 * n_heavy:
                heavy.append((abs(_n_media(spans) - HEAVY_MEDIA), d))
        elif len(light) < n - n_heavy:
            light.append(d)
    return light, [d for _, d in sorted(heavy)[:n_heavy]]


def _deal(rng: np.random.Generator, heavy: list[str], light: list[str], n: int) -> list[list[str]]:
    """Deal documents over ``n`` passes, heavy ones first, round-robin
    after a seeded shuffle: pass sizes and heavy counts differ by <= 1."""
    heavy, light = list(heavy), list(light)
    rng.shuffle(heavy)
    rng.shuffle(light)
    docs = heavy + light
    return [sorted(docs[i::n]) for i in range(n)]


def _text_table(rng: np.random.Generator, ids: list[str], pool: pa.Array) -> pa.Table:
    """Text-only documents of 4-12 spans drawn from a span pool."""
    lengths = rng.integers(4, 13, size=len(ids))
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
    n = int(offsets[-1])
    text = pool.take(pa.array(rng.integers(0, len(pool), size=n)))
    span_offset = np.arange(n, dtype=np.int32) - np.repeat(offsets[:-1], lengths)
    spans = pa.StructArray.from_arrays(
        [
            pa.array(np.full(n, "text", dtype=object), pa.string()),
            text,
            pa.array(np.full(n, "", dtype=object), pa.string()),
            pa.array(span_offset, pa.int32()),
        ],
        fields=list(SPAN_TYPE),
    )
    return pa.Table.from_arrays(
        [pa.array(ids, pa.string()), pa.ListArray.from_arrays(pa.array(offsets), spans)],
        schema=DOCS_SCHEMA,
    )


def _text_pool(rng: np.random.Generator, size: int = 16_384) -> pa.Array:
    from ocr_spark.sources.corpus import make_text_span  # noqa: PLC0415

    return pa.array([make_text_span(rng) for _ in range(size)], pa.string())


def build_passes(w: Workload, seed: int, n_passes: int) -> dict:
    """The workload's documents as Arrow tables: one warm-up pass and
    ``n_passes`` timed passes over disjoint documents."""
    rng = np.random.default_rng([seed, zlib.crc32(w.name.encode())])
    fixtures = fixture_doc_ids()
    fx_heavy = [d for d in fixtures if _is_heavy(_spans(d))]
    fx_light = [d for d in fixtures if d not in set(fx_heavy)]
    if w.fixture_docs < len(fixtures):  # a stratified subset
        n_h = min(round(HEAVY_FRAC * w.fixture_docs), len(fx_heavy))
        fx_heavy = sorted(rng.choice(fx_heavy, size=n_h, replace=False).tolist())
        fx_light = sorted(
            rng.choice(fx_light, size=w.fixture_docs - n_h, replace=False).tolist()
        )
    n_range = max(0, (n_passes + 1) * w.pass_docs - w.fixture_docs)
    fixture_set = set(fx_heavy) | set(fx_light)
    if w.name == "text_heavy":
        # text documents need no corpus scan: their ids are a plain range
        base = N_FIXTURE_DOCS + 600 + int(rng.integers(0, 90_000_000))
        light, heavy = [f"doc-{base + i:08d}" for i in range(n_range)], []
        # corpus documents in the warm-up, as many as the timed passes
        # hold fixtures, so every Python worker also warms the OCR path
        warm_media, _ = _stratified_range(rng, w.fixture_docs)
        light[: w.fixture_docs] = warm_media
        corpus_set = fixture_set | set(warm_media)
        pool = _text_pool(rng)

        def table(ids):
            parts = [_text_table(rng, [d for d in ids if d not in corpus_set], pool)]
            corpus = [d for d in ids if d in corpus_set]
            if corpus:
                parts.append(_corpus_table(corpus))
            return pa.concat_tables(parts)
    else:
        light, heavy = _stratified_range(rng, n_range)
        table = _corpus_table
    # the warm-up takes a full pass of range documents, strata kept
    n_wh = round(HEAVY_FRAC * w.pass_docs) if heavy else 0
    warm_ids = sorted(heavy[:n_wh] + light[: w.pass_docs - n_wh])
    groups = _deal(rng, fx_heavy + heavy[n_wh:], fx_light + light[w.pass_docs - n_wh :], n_passes)

    return {
        "warmup": table(warm_ids),
        "passes": [table(g) for g in groups],
        "fixture_ids": sorted(fixture_set),
    }


def media_spans(table: pa.Table) -> int:
    kinds = pc.struct_field(pc.list_flatten(table.column("spans")), "kind")
    return int(pc.sum(pc.equal(kinds, "media")).as_py() or 0)


def _file_of(doc_ids: list[str], files: int) -> np.ndarray:
    return np.array([zlib.crc32(d.encode()) % files for d in doc_ids], dtype=np.int64)


def write_layout(w: Workload, table: pa.Table, path: str) -> None:
    """Write one pass as ``w.files`` hash-uniform parquet files, each
    sorted by doc_id."""
    os.makedirs(path, exist_ok=True)
    file_ix = _file_of(table.column("doc_id").to_pylist(), w.files)
    for f in range(w.files):
        part = table.take(pa.array(np.flatnonzero(file_ix == f)))
        part = part.take(pc.sort_indices(part, [("doc_id", "ascending")]))
        pq.write_table(part, os.path.join(path, f"part-{f:04d}.parquet"))


def table_digest(tables: list[pa.Table]) -> str:
    """sha256 over the Arrow IPC encoding of the staged tables."""
    h = hashlib.sha256()
    for t in tables:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as writer:
            writer.write_table(t.combine_chunks())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def stage(w: Workload, seed: int, n_passes: int, cache_dir: str, keep: int = 4) -> Staged:
    """Stage (or reuse) the inputs under ``cache_dir``, keyed by
    workload, seed and size. At most ``keep`` staged inputs are kept."""
    key = f"{w.name}-s{seed}-p{n_passes}x{w.pass_docs}-v{GEN_VERSION}"
    root = os.path.join(cache_dir, key)
    manifest = os.path.join(root, "manifest.json")
    if not os.path.exists(manifest):
        shutil.rmtree(root, ignore_errors=True)
        data = build_passes(w, seed, n_passes)
        tables = [data["warmup"], *data["passes"]]
        write_layout(w, data["warmup"], os.path.join(root, "warmup"))
        for i, t in enumerate(data["passes"]):
            write_layout(w, t, os.path.join(root, f"pass-{i:02d}"))
        meta = {
            "pass_ids": [t.column("doc_id").to_pylist() for t in data["passes"]],
            "pass_media": [media_spans(t) for t in data["passes"]],
            "fixture_ids": data["fixture_ids"],
            "digest": table_digest(tables),
        }
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, manifest)
    os.utime(root)
    _evict(cache_dir, keep)
    with open(manifest) as f:
        meta = json.load(f)
    return Staged(
        root=root,
        warmup=os.path.join(root, "warmup"),
        passes=[os.path.join(root, f"pass-{i:02d}") for i in range(n_passes)],
        **meta,
    )


def _evict(cache_dir: str, keep: int) -> None:
    entries = sorted(
        (os.path.join(cache_dir, d) for d in os.listdir(cache_dir)),
        key=os.path.getmtime,
        reverse=True,
    )
    for old in entries[keep:]:
        shutil.rmtree(old, ignore_errors=True)
