"""Deduplication operators for a large-scale training-data pipeline.

- exact dedup: hash-groupBy on a content fingerprint — one shuffle on
  the md5 key, partial aggregation map-side.
- MinHash: two tiers. The 1-perm demo (``minhash_signatures`` /
  ``near_dup_pairs``) kept for its locked oracle, and the
  production-shaped banded LSH family (``minhash_band_keys`` /
  ``minhash_banded_pairs`` / ``minhash_banded_recall``): n=64
  permutations banded b=16 x r=4, so a pair with Jaccard J collides on
  >= 1 band with probability 1-(1-J^4)^16 (~0.65 at J=0.5, >0.999 at
  J=0.8). All expression-level (sequence/transform/aggregate), no UDF,
  so the scan stays inside whole-stage codegen. The follow-up
  band-bucket self-join shuffles only (band, key) pairs — 16 rows of
  ~50 bytes per document — never document text.
- SimHash: 16-bit demo (locked oracle) plus the production 64-bit
  fingerprint stored as 4 x 16-bit band chunks; the banded Hamming
  join (``simhash_hamming_pairs``) guarantees by pigeonhole that any
  pair within Hamming distance 3 shares at least one of the 4 bands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_spark.plans.session import release_local_checkpoint

SHINGLE = 5


def _spread(docs: DataFrame) -> DataFrame:
    """Repartition a few-file scan up to the cluster parallelism before
    a CPU-heavy signature pass (the sketch computations are
    compute-bound interpreted expressions; a single-file test table
    would otherwise pin them to one core). inputFiles() is a
    metadata-only probe — non-file sources are left untouched."""
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    files = docs.inputFiles()
    if files and len(files) < par:
        return docs.repartition(par)
    return docs


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    return (
        docs.select("doc_id", F.md5(F.lower("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    w = F.split("text", " ")
    d = docs.select("doc_id", w.alias("w")).where(F.size("w") >= SHINGLE)
    shingles = F.expr(
        f"transform(sequence(0, size(w) - {SHINGLE}), "
        f"i -> md5(concat_ws(' ', slice(w, i + 1, {SHINGLE}))))"
    )
    return d.select("doc_id", F.array_min(shingles).alias("minhash"))


def near_dup_pairs(docs: DataFrame) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing a minhash bucket.
    The self-join runs on the tiny signature relation (doc_id, sig)."""
    sig = minhash_signatures(docs)
    a = sig.alias("a")
    b = sig.alias("b")
    return (
        a.join(b, F.col("a.minhash") == F.col("b.minhash"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.minhash").alias("bucket"),
        )
    )


# -- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 16  # demo width; production uses 64 bits + banded join


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """Per-document SimHash over word tokens, entirely expression-level
    (no UDF — the whole computation stays in whole-stage codegen).

    Bit j of the fingerprint is the sign of sum_tokens(+1/-1) where a
    token votes +1 iff the j-th hex nibble of its md5 has its high bit
    set. This is textbook Charikar SimHash with a 16-bit width so the
    unit/oracle checks stay readable; at 100 TB the same expression
    with 64 bits feeds a banded Hamming-distance self-join (4 bands of
    16 bits: near-dups within distance d collide on >=1 band), which
    shuffles only (band, fingerprint) pairs — never document text.
    """
    b = SIMHASH_BITS
    counters = F.expr(
        f"aggregate(split(text, ' '), array_repeat(0, {b}), "
        f"(acc, t) -> zip_with(acc, transform(sequence(0, {b - 1}), "
        f"j -> CASE WHEN instr('89abcdef', substr(md5(t), j + 1, 1)) > 0 "
        f"THEN 1 ELSE -1 END), (a, c) -> a + c))"
    )
    fp = F.expr(
        f"aggregate(zip_with(cnt, sequence(0, {b - 1}), "
        f"(c, j) -> CASE WHEN c > 0 THEN shiftleft(1, j) ELSE 0 END), "
        f"0, (a, v) -> a + v)"
    )
    return (
        docs.select("doc_id", counters.alias("cnt"))
        .select("doc_id", fp.cast("bigint").alias("simhash"))
    )


# -- 64-bit SimHash + banded Hamming join (production shape) ---------------

SIMHASH64_BITS = 64
SIMHASH64_BANDS = 4  # 4 x 16-bit chunks; Hamming <= 3 => >= 1 band equal


def _sim64_chunks_sql() -> str:
    """One aggregate pass over the tokens -> array of 4 x 16-bit chunk
    values of the 64-bit Charikar SimHash. Bit j is bit (j%4) of hex
    nibble (j div 4) of md5(token) — 64 independent bits from the
    first 16 hex chars. Same HOF hygiene as _band_keys_sql: md5(token)
    is let-bound (computed once per token, not once per bit) and the
    chunk packing happens in the finish lambda over the BOUND counter
    array."""
    votes = (
        f"transform(sequence(0, {SIMHASH64_BITS - 1}), j -> "
        f"CASE WHEN (shiftright(instr('0123456789abcdef', "
        f"substr(h, (j div 4) + 1, 1)) - 1, j % 4) & 1) = 1 "
        f"THEN 1 ELSE -1 END)"
    )
    return (
        f"aggregate(split(text, ' '), array_repeat(0, {SIMHASH64_BITS}), "
        f"(acc, t) -> aggregate(array(md5(t)), acc, "
        f"(a2, h) -> zip_with(a2, {votes}, (a, c) -> a + c)), "
        f"acc -> transform(sequence(0, {SIMHASH64_BANDS - 1}), k -> "
        f"cast(aggregate(sequence(0, 15), 0, (a, j) -> a + "
        f"CASE WHEN element_at(acc, k * 16 + j + 1) > 0 "
        f"THEN shiftleft(1, j) ELSE 0 END) as bigint)))"
    )


def simhash64(docs: DataFrame) -> DataFrame:
    """64-bit Charikar SimHash in band-long form
    (doc_id, band, chunk): 4 rows per doc, one 16-bit chunk each —
    entirely expression-level. The long form IS the banded-join
    shuffle layout (and sidesteps signed 64-bit overflow in both
    engines: every chunk is in [0, 65535])."""
    return _spread(docs).select(
        "doc_id", F.posexplode(F.expr(_sim64_chunks_sql())).alias("band", "chunk")
    ).select("doc_id", F.col("band").cast("int").alias("band"), "chunk")


def simhash_hamming_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-duplicate pairs within Hamming distance ``max_hamming`` of
    the 64-bit SimHash, found WITHOUT an all-pairs scan: by pigeonhole,
    distance <= 3 over 4 bands means at least one 16-bit band is
    identical, so candidates come from 4 equi-join buckets on
    (band, chunk) — the shuffle carries 4 small rows per doc — and only
    candidates get the exact popcount, computed entirely in the
    band-long layout (re-join per band + sum of per-chunk popcounts),
    so the fingerprint expression is evaluated exactly once per doc.
    Returns (doc_a, doc_b, hamming)."""
    # lazy checkpoint: the fingerprint relation is read by 4 plan arms
    # (both join sides + both popcount rejoins); materializing it once
    # is the "write the sketch table" pattern of a real pipeline.
    # Lifecycle: the blocks materialize on the CALLER's first action
    # and stay cached for the session — a caller running many queries
    # frees them with plans.session.release_local_checkpoint(sim)
    # equivalent (bench.py sweeps all persisted RDDs between queries)
    sim = simhash64(docs).localCheckpoint(eager=False)
    a, b = sim.alias("a"), sim.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ca = sim.select(
        F.col("doc_id").alias("doc_a"), "band", F.col("chunk").alias("chunk_a")
    )
    cb = sim.select(
        F.col("doc_id").alias("doc_b"), "band", F.col("chunk").alias("chunk_b")
    )
    return (
        cand.join(ca, "doc_a")
        .join(cb, ["doc_b", "band"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.bit_count(F.col("chunk_a").bitwiseXOR(F.col("chunk_b"))))
            .cast("int")
            .alias("hamming")
        )
        .where(F.col("hamming") <= max_hamming)
    )


# -- banded multi-permutation MinHash LSH (production shape) ---------------

N_PERMS = 64
BANDS = 16
ROWS_PER_BAND = 4
_PERM_SENTINEL = 1 << 33  # above any 32-bit permutation value


def _shingles_sql(words: str) -> str:
    """Distinct word-5-gram shingle hashes of a words-array column."""
    return (
        f"array_distinct(transform(sequence(0, size({words}) - {SHINGLE}), "
        f"i -> md5(concat_ws(' ', slice({words}, i + 1, {SHINGLE})))))"
    )


# affine permutation family over the 2^31-1 prime field: perm_i(x) =
# (a_i*h1(x) + b_i*h2(x) + c_i) mod P with h1/h2 = two 28-bit halves of
# ONE md5 per shingle. Constants are seeded once and inlined as
# literals into both the Spark expression and the DuckDB oracle.
_PERM_P = 2147483647
_perm_rng = __import__("random").Random(0x5EED)
PERM_A = [_perm_rng.randrange(1, 1 << 30) for _ in range(N_PERMS)]
PERM_B = [_perm_rng.randrange(1, 1 << 30) for _ in range(N_PERMS)]
PERM_C = [_perm_rng.randrange(0, _PERM_P) for _ in range(N_PERMS)]


def _perm_values_sql(sh: str) -> str:
    """64 permutation hashes of one shingle from ONE md5 evaluation:
    the md5's two 28-bit hex halves feed 64 affine maps over GF(P),
    P = 2^31-1 (products stay < 2^58, so bigint arithmetic is exact
    and the DuckDB oracle reproduces every value). The constant arrays
    are read from the bound variable K of the enclosing let-struct
    (see _band_keys_sql) — NOT re-created per shingle.

    Expression-shape note (this matters enormously for throughput):
    higher-order-function lambdas are interpreted, and a non-trivial
    expression referenced inside a lambda body is RE-EVALUATED on
    every lambda iteration. The ``transform(array(...), s -> ...)``
    wrapper is a let-binding — md5/conv land in a bound struct, so
    the 64 affine maps read already-computed integers."""
    return (
        f"flatten(transform(array(named_struct("
        f"'x', cast(conv(substr(md5({sh}), 1, 7), 16, 10) as bigint), "
        f"'y', cast(conv(substr(md5({sh}), 8, 7), 16, 10) as bigint))), s -> "
        f"zip_with(zip_with(K.pa, K.pb, "
        f"(pa, pb) -> pa * s.x + pb * s.y), K.pc, "
        f"(t, pc) -> pmod(t + pc, {_PERM_P}))))"
    )


def _with_perm_consts(body: str) -> str:
    """Let-bind the three 64-element constant arrays as struct K ONCE
    per row (a 64-literal CreateArray inside a per-shingle lambda is
    re-materialized on every shingle — measured 2x the whole md5
    cost); ``body`` must yield an array and may reference K.pa/pb/pc."""
    a = ",".join(str(v) for v in PERM_A)
    b = ",".join(str(v) for v in PERM_B)
    c = ",".join(str(v) for v in PERM_C)
    return (
        f"flatten(transform(array(named_struct("
        f"'pa', array({a}), 'pb', array({b}), 'pc', array({c}))), K -> {body}))"
    )


def _band_keys_sql(words: str) -> str:
    """b=16 band keys (band index baked into the key, so keys only
    collide within the same band) computed in ONE aggregate pass over
    the shingles, with the banding in the aggregate's FINISH lambda.

    Why not sig-column-then-band-column: Catalyst's CollapseProject
    inlines a staged signature column back into the 16-band transform,
    and a lambda-body reference re-evaluates it per band — a silent
    16x blow-up of the whole 64-perm aggregate. The finish lambda
    receives the accumulator as a BOUND value, so the 16 band slices
    read it for free."""
    return _with_perm_consts(
        f"aggregate({_shingles_sql(words)}, "
        f"array_repeat(cast({_PERM_SENTINEL} as bigint), {N_PERMS}), "
        f"(acc, sh) -> zip_with(acc, {_perm_values_sql('sh')}, "
        f"(a, v) -> least(a, v)), "
        f"acc -> transform(sequence(0, {BANDS - 1}), j -> "
        f"md5(concat_ws(',', cast(j as string), "
        f"transform(slice(acc, j * {ROWS_PER_BAND} + 1, {ROWS_PER_BAND}), "
        f"x -> cast(x as string))))))"
    )


def minhash_band_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): the LSH shuffle relation — 16 rows of
    ~50 bytes per document regardless of document size. This is what
    makes the candidate join scale to 10^12 docs: the self-join never
    touches text, only this relation."""
    w = F.split("text", " ")
    d = _spread(docs).select("doc_id", w.alias("w")).where(F.size("w") >= SHINGLE)
    return d.select(
        "doc_id", F.posexplode(F.expr(_band_keys_sql("w"))).alias("band", "band_key")
    ).select("doc_id", F.col("band").cast("int").alias("band"), "band_key")


def minhash_banded_pairs(
    docs: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """Candidate near-duplicate pairs from the banded LSH: docs sharing
    >= 1 of 16 band keys. Collision probability for Jaccard J is
    1-(1-J^4)^16 — the recall curve `minhash_banded_recall` measures.

    ``max_bucket``: at web scale, boilerplate/empty-ish documents form
    mega-buckets whose within-bucket self-join is quadratic; buckets
    larger than this are dropped here (their members are by definition
    exact-ish duplicates and are collapsed by the cheaper exact md5
    pass instead). None = no cap (the oracle-checked configuration)."""
    # lazily materialize the (tiny) sketch relation so the self-join's
    # two sides — and the optional bucket-size pass — read it once
    # instead of re-running the signature aggregate per reference; the
    # 100 TB twin is writing the sketch table once and joining on it.
    # Blocks live until the caller releases them (bench.py sweeps
    # persisted RDDs between queries)
    keys = minhash_band_keys(docs).localCheckpoint(eager=False)
    if max_bucket is not None:
        sizes = keys.groupBy("band", "band_key").agg(F.count("*").alias("_n"))
        keys = keys.join(
            sizes.where(F.col("_n") <= max_bucket), ["band", "band_key"]
        ).drop("_n")
    a, b = keys.alias("a"), keys.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").cast("int").alias("n_bands"))
    )


# truncation percentages for the recall measurement: variant = first
# pct% of the words, so exact Jaccard is controlled ((k-4)/(n-4) for k
# of n words kept) and the measured buckets span ~0.3..1.0
RECALL_PCTS = (40, 55, 70, 78, 82, 86, 90, 94, 98)


def minhash_banded_recall(docs: DataFrame) -> DataFrame:
    """Recall of the banded LSH vs exact shingle Jaccard, by Jaccard
    decile. Self-contained quality gate (like ivf_recall): for each
    sampled doc and truncation pct, the (original, variant) pair's
    exact Jaccard and whether the two band-key sets overlap — all
    expression-level on a single row, no join. Returns
    (j_bucket, n_pairs, n_caught, recall)."""
    w = F.split("text", " ")
    d = (
        _spread(docs).where(F.col("doc_id") % 5 == 0)
        .select("doc_id", w.alias("w"))
        .where(F.size("w") >= 25)
        .select(
            "doc_id",
            "w",
            F.explode(F.array(*[F.lit(p) for p in RECALL_PCTS])).alias("pct"),
        )
        .withColumn(
            "wv",
            F.expr(
                # explicit floor: Spark's double->int cast truncates but
                # DuckDB's rounds, so the oracle-parallel form is floor()
                "slice(w, 1, greatest(cast(floor(size(w) * pct / 100) as int), 5))"
            ),
        )
    )
    # every expensive derivation is a single self-contained expression
    # (see _band_keys_sql on why staging columns does NOT help here)
    jac = F.round(
        F.size(
            F.array_intersect(
                F.expr(_shingles_sql("w")), F.expr(_shingles_sql("wv"))
            )
        )
        / F.size(
            F.array_union(F.expr(_shingles_sql("w")), F.expr(_shingles_sql("wv")))
        ),
        6,
    )
    caught = F.arrays_overlap(
        F.expr(_band_keys_sql("w")), F.expr(_band_keys_sql("wv"))
    )
    pairs = d.select(jac.alias("j"), caught.alias("caught"))
    return (
        pairs.groupBy(F.floor(F.col("j") * 10).cast("int").alias("j_bucket"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("caught").cast("int")).alias("n_caught"),
        )
        .select(
            "j_bucket",
            "n_pairs",
            "n_caught",
            F.round(F.col("n_caught") / F.col("n_pairs"), 6).alias("recall"),
        )
    )


# -- exact n-gram Jaccard verification ------------------------------------


def jaccard_pairs(
    docs: DataFrame, candidates: DataFrame | None = None
) -> DataFrame:
    """Exact word-shingle Jaccard for MinHash candidate pairs.

    Stage 2 of the dedup funnel: the (cheap, recall-oriented) LSH
    bucket join proposes candidates; this verifies each with the exact
    set overlap. Only candidate doc_ids rejoin the shingle relation, so
    the expensive sets are materialized for the candidate subset only —
    at scale that is the difference between |corpus|^2 and |candidates|.
    Jaccard is rounded to 6 decimals (order-independent across engines).

    ``candidates``: (doc_a, doc_b) relation; default is the single-band
    ``near_dup_pairs`` (the oracle-locked demo). Pass
    ``minhash_banded_pairs(docs)`` for the production funnel
    (``jaccard_banded_pairs`` does exactly that)."""
    w = F.split("text", " ")
    shingles = F.expr(
        f"array_distinct(transform(sequence(0, size(w) - {SHINGLE}), "
        f"i -> md5(concat_ws(' ', slice(w, i + 1, {SHINGLE})))))"
    )
    sh = (
        docs.select("doc_id", w.alias("w"))
        .where(F.size("w") >= SHINGLE)
        .select("doc_id", shingles.alias("sh"))
    )
    if candidates is None:
        candidates = near_dup_pairs(docs)
    cand = candidates.select("doc_a", "doc_b")
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.round(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b")),
        6,
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


def jaccard_banded_pairs(docs: DataFrame) -> DataFrame:
    """The full production dedup funnel: banded LSH candidates
    (recall-oriented, 1-(1-J^4)^16 collision curve) verified with the
    exact shingle Jaccard — the precision stage that turns candidate
    pairs into dedup decisions. Returns (doc_a, doc_b, jaccard)."""
    return jaccard_pairs(docs, candidates=minhash_banded_pairs(docs))


# -- duplicate clusters (connected components) -----------------------------


def dup_clusters(
    docs: DataFrame,
    max_iters: int = 20,
    pairs: DataFrame | None = None,
    check_every: int = 2,
) -> DataFrame:
    """Connected components over the near-duplicate candidate graph:
    every doc that shares a candidate edge with another gets a
    cluster_id = the minimum doc_id reachable through candidate edges.

    Distributed min-label propagation (the scalable CC algorithm for
    graphs that don't fit one machine — unlike the intra-document
    union-find in layout.build_forests, which never needs to leave one
    kernel): each round joins labels across edges and keeps the
    minimum; converges in <= graph-diameter rounds. Scale hygiene:

    - each round's labels are ``localCheckpoint``-ed, so the plan/
      lineage stays one join deep no matter how many rounds run (a
      20-round cached-only loop builds a plan tree that stresses the
      optimizer at real scale);
    - the convergence check is folded into the SAME materialization: a
      ``_changed`` flag is computed during the round and counted on the
      already-checkpointed partitions — no second join-and-count job;
    - the count itself only fires every ``check_every`` rounds (and on
      the last): on high-diameter graphs almost every round is
      non-final, so a per-round count is a pure job-launch tax; the
      price is at most ``check_every - 1`` extra propagation rounds
      after convergence, each a join over already-stable label rows.
      Min-label propagation is monotone, so "one round with zero
      changes" remains a sound convergence witness whenever sampled;
    - if the loop exhausts ``max_iters`` with changes pending (graph
      diameter > max_iters — possible once banded LSH edges feed in),
      it RAISES instead of silently returning non-converged labels,
      because the documented semantics (and the DuckDB oracle) are
      true connected components.

    ``pairs``: optional (doc_a, doc_b) candidate-edge relation; default
    is the single-minhash ``near_dup_pairs`` (the oracle-locked
    configuration). Pass ``minhash_banded_pairs(docs)`` for the
    production LSH graph. Returns (doc_id, cluster_id)."""
    if pairs is None:
        pairs = near_dup_pairs(docs)
    pairs = pairs.select("doc_a", "doc_b")
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).localCheckpoint()
    labels = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    changed = -1
    prev_ckpt = labels  # the checkpointed frame backing `labels`
    for rnd in range(max_iters):
        neigh = (
            edges.join(labels, edges["doc_b"] == labels["doc_id"])
            .groupBy("doc_a")
            .agg(F.min("label").alias("nlabel"))
        )
        updated = (
            labels.join(neigh, labels["doc_id"] == neigh["doc_a"], "left")
            .select(
                labels["doc_id"],
                F.least(
                    labels["label"], F.coalesce("nlabel", labels["label"])
                ).alias("label"),
                (F.coalesce("nlabel", labels["label"]) < labels["label"]).alias(
                    "_changed"
                ),
            )
            .localCheckpoint()  # eager: materializes this round, truncates lineage
        )
        # this round is materialized: the previous round's blocks are
        # superseded — free them or the loop retains every round's
        # label relation in executor storage for the session
        release_local_checkpoint(prev_ckpt)
        prev_ckpt = updated
        labels = updated.drop("_changed")
        if rnd % check_every == check_every - 1 or rnd == max_iters - 1:
            # scan of checkpointed rows only
            changed = updated.where("_changed").count()
            if changed == 0:
                break
    release_local_checkpoint(edges)  # labels carry the answer; edges are done
    if changed != 0:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iters} rounds "
            f"({changed} labels still changing); raise max_iters — the "
            f"candidate graph's diameter exceeds it"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


# -- deduplicated-corpus materialization ------------------------------------


def dedup_keep_list(
    docs: DataFrame, pairs: DataFrame | None = None, max_iters: int = 20
) -> DataFrame:
    """The keep/drop decision for EVERY document: (doc_id, cluster_id,
    keep). Docs on the candidate graph get their connected-component
    label (``dup_clusters``); singletons are their own cluster. The
    keeper of a cluster is its minimum doc_id — which IS the propagated
    label, so keep = (cluster_id == doc_id) with no extra aggregation.
    ``keep`` is int (1/0) so engines hash it identically.

    Scale shape: dup_clusters' label relation holds only docs WITH
    edges (a small fraction of the corpus); the left join back to the
    full doc-id relation is a broadcast at typical duplicate rates."""
    clusters = dup_clusters(docs, max_iters=max_iters, pairs=pairs)
    cluster_id = F.coalesce("cluster_id", F.col("doc_id"))
    return (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            cluster_id.alias("cluster_id"),
            (cluster_id == F.col("doc_id")).cast("int").alias("keep"),
        )
    )


def dedupped_corpus(
    docs: DataFrame, pairs: DataFrame | None = None, max_iters: int = 20
) -> DataFrame:
    """The deduplicated documents table — the step every real pipeline
    ends with: docs minus non-keeper cluster members, all original
    columns intact. Implemented as a left-anti join against the (small)
    drop list, so the corpus is scanned once and never shuffled."""
    drop = (
        dedup_keep_list(docs, pairs=pairs, max_iters=max_iters)
        .where(F.col("keep") == 0)
        .select("doc_id")
    )
    return docs.join(drop, "doc_id", "left_anti")


def dedup_summary(
    docs: DataFrame, pairs: DataFrame | None = None, max_iters: int = 20
) -> DataFrame:
    """One-row accounting of the dedup pass: (n_docs_in, n_docs_out,
    n_removed, n_dup_clusters) — the numbers an operator checks before
    swapping the cleaned table in."""
    keep = dedup_keep_list(docs, pairs=pairs, max_iters=max_iters)
    return keep.agg(
        F.count("*").alias("n_docs_in"),
        F.sum("keep").cast("bigint").alias("n_docs_out"),
        F.sum(1 - F.col("keep")).cast("bigint").alias("n_removed"),
        F.count_distinct(
            F.when(F.col("keep") == 0, F.col("cluster_id"))
        ).alias("n_dup_clusters"),
    )


# ------------------------- benchmark decontamination -------------------------

DECON_N = 13  # word n-gram width — the GPT-3 decontamination setting


def _ngram_hashes(words, n: int):
    """Distinct md5 hashes of the word n-grams of a words-array column
    (codegen expression — same idiom as the 5-gram dedup shingles)."""
    return F.expr(
        f"array_distinct(transform(sequence(0, size({words}) - {n}), "
        f"i -> md5(concat_ws(' ', slice({words}, i + 1, {n})))))"
    )


# Broadcast budget for the benchmark gram set: 2M distinct 32-char md5
# keys ~ 64 MB of raw key bytes per executor (plus hash-relation
# overhead) — comfortably inside a production executor's broadcast
# headroom, far above any real eval suite (open-bench suites are
# 10^4-10^6 items; GPT-3's decontamination set was ~10^6 13-grams per
# benchmark). Beyond it the join falls back to a shuffled hash
# semi-join: the corpus grams pay one exchange, but no executor ever
# materializes the oversized gram set whole.
DECON_BROADCAST_GRAMS = 2_000_000


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = DECON_N,
    max_broadcast_grams: int = DECON_BROADCAST_GRAMS,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing any word
    ``n``-gram with a held-out evaluation set -> (doc_id,
    n_contaminated_ngrams). The step every training-data pipeline runs
    before a model train so eval questions leaking into the corpus
    don't inflate benchmark scores.

    100 TB shape: the benchmark side is SMALL (eval suites are MBs
    against a PB corpus), so its distinct n-gram hash set is
    broadcast; the corpus side is a map-only explode + broadcast hash
    semi-join — corpus n-grams are never shuffled, and only the
    (rare) hits reach the per-doc count's exchange. Both inputs are
    (doc_id, text); docs shorter than ``n`` words cannot contaminate
    and drop out before the explode.

    The broadcast is BUDGETED: one cheap count over the (small) gram
    set decides, and a set larger than ``max_broadcast_grams`` falls
    back to a shuffled hash semi-join instead of broadcasting —
    an oversized eval split degrades to one corpus-gram exchange
    rather than OOMing every executor (pinned by
    tests/test_dedup_lsh.py: identical rows, no BroadcastHashJoin in
    the fallback plan)."""
    def grams(df: DataFrame) -> DataFrame:
        d = df.select("doc_id", F.split("text", " ").alias("w"))
        return (
            d.where(F.size("w") >= n)
            .select("doc_id", F.explode(_ngram_hashes("w", n)).alias("g"))
        )

    bench_grams = grams(benchmark).select("g").distinct()
    corpus_grams = grams(_spread(corpus))
    # one bounded job over the SMALL side (MBs by construction) buys
    # the budget decision; the corpus side stays untouched either way
    if bench_grams.count() <= max_broadcast_grams:
        joined = corpus_grams.join(F.broadcast(bench_grams), "g")
    else:
        joined = corpus_grams.join(bench_grams.hint("shuffle_hash"), "g")
    return (
        joined
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_contaminated_ngrams"))
    )


def contamination_check(docs: DataFrame, modulus: int = 20, n: int = DECON_N) -> DataFrame:
    """Self-contained decontamination query over one documents table:
    every ``modulus``-th doc_id plays the held-out benchmark, the rest
    the training corpus (this is exactly how real contamination
    happens — eval items drawn from the same web crawl). Planted
    duplicate documents make the overlap non-trivial at every SF."""
    is_bench = (F.col("doc_id") % modulus) == 0
    return contamination_hits(
        docs.where(~is_bench), docs.where(is_bench), n=n
    )


def dedup_against_corpus(new: DataFrame, ref: DataFrame) -> DataFrame:
    """Incremental cross-corpus dedup — the 'new crawl vs the existing
    snapshot' pass every periodic ingest needs: drop from ``new``
    every document that exactly duplicates (md5 of text) or nearly
    duplicates (shares >= 1 of the 16 minhash band keys with) any
    document already in ``ref``. Unlike ``dedupped_corpus`` there is
    no connected-components step: the reference side is immutable, so
    membership against it is a pure semi-join question.

    Scale shape: both sides reduce to sketch relations before any
    join — 16-byte md5 fingerprints and the 16-rows/doc band-key
    relation — so document text never crosses an exchange; in
    production ``ref``'s sketches are the precomputed tables the
    snapshot build already wrote (``minhash_band_keys`` output), and
    this pass only computes sketches for the (small) new batch. The
    membership checks are LEFT SEMI equi-joins (first match wins —
    a boilerplate mega-bucket on the reference side cannot explode
    the join the way a self-join's quadratic bucket does), and the
    final drop is ONE left-anti join against the new batch, which is
    scanned exactly once. Returns the surviving rows of ``new`` with
    all original columns."""
    ref_fp = _spread(ref).select(F.md5("text").alias("fp"))
    exact_drop = (
        _spread(new)
        .select("doc_id", F.md5("text").alias("fp"))
        .join(ref_fp, "fp", "left_semi")
        .select("doc_id")
    )
    near_drop = (
        minhash_band_keys(new)
        .join(
            minhash_band_keys(ref).select("band", "band_key"),
            ["band", "band_key"],
            "left_semi",
        )
        .select("doc_id")
    )
    return new.join(
        exact_drop.union(near_drop), "doc_id", "left_anti"
    )


def decontaminated_corpus(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = DECON_N,
    max_hits: int = 0,
) -> DataFrame:
    """Execute the decontamination (the planning/execution split of
    contamination_hits, mirroring dedup_summary vs dedupped_corpus):
    drop from ``corpus`` every document sharing more than ``max_hits``
    distinct word ``n``-grams with the held-out benchmark — the GPT-3
    appendix-C step every release pipeline runs before training.

    Shape at scale: the hit relation is tiny by construction
    (contamination is rare — only docs with at least one benchmark
    n-gram reach it), so the drop is ONE left-anti join against a
    small relation and the corpus is scanned once beyond the gram
    pass contamination_hits already prices. ``max_hits > 0``
    tolerates incidental single-gram collisions (common-phrase noise)
    while still dropping wholesale leaks. Returns the surviving rows
    of ``corpus`` with all original columns."""
    drop = (
        contamination_hits(corpus, benchmark, n=n)
        .where(F.col("n_contaminated_ngrams") > max_hits)
        .select("doc_id")
    )
    return corpus.join(drop, "doc_id", "left_anti")
