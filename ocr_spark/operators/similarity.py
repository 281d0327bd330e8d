"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k as the baseline: the (small) query set is
broadcast against the corpus, the dot product runs as an expression
fold (zip_with + aggregate — JVM-side, no Python). Scale path at
100 TB: the same kernel after an LSH/IVF bucket join restricts each
query to one bucket's candidates; the broadcast shape is unchanged.

Scores are rounded to 6 decimals before ranking with a vec_id
tie-break, so ordering is stable across engines and summation orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def knn_cosine_topk(emb: DataFrame, every: int = 500, k: int = 10) -> DataFrame:
    """Top-k cosine neighbors for every `every`-th vector.

    Returns (query_id, rank, neighbor_id)."""
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = e.where(F.col("vec_id") % every == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    pairs = e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    cos = F.round(_dot("qv", "v") / (_norm("qv") * _norm("v")), 6)
    scored = pairs.select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id")
    )


# -- IVF (coarse-quantized) scale path ------------------------------------

CENTROID_STRIDE = 100  # every 100th vector acts as a codebook entry
QUERY_EVERY = 50
CELL_CAP = 40  # cluster_balanced_sample's per-cell member cap


def _codebook(e: DataFrame, stride: int) -> DataFrame:
    """The coarse codebook: every ``stride``-th vector. Guarded: if no
    vec_id is divisible by ``stride`` (ids not starting at 0, or fewer
    than ``stride`` rows) the codebook is empty and every downstream
    IVF query would silently return zero rows — fail loudly instead.
    The isEmpty probe short-circuits after the first matching row."""
    cents = e.where(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("cv")
    )
    if cents.isEmpty():
        raise ValueError(
            f"IVF codebook is empty: no vec_id divisible by stride={stride}; "
            f"lower the stride or use knn_cosine_topk (brute force)"
        )
    return cents


def kmeans_codebook(
    emb: DataFrame,
    stride: int = CENTROID_STRIDE,
    iters: int = 2,
    sample_every: int = 2,
    max_sample: int = 200,
) -> DataFrame:
    """Lloyd-refined coarse codebook: ``iters`` deterministic k-means
    iterations over a bounded sample — every ``sample_every``-th
    vector, capped at an ABSOLUTE ``max_sample`` rows (the first
    ``max_sample`` qualifying vec_ids, a deterministic id-range
    predicate) — seeded from the stride subsample, so the exact
    centroids are replayable by the DuckDB oracle (and by any engine):

    - assignment uses the same round(6)-cosine + min-cell-id tie-break
      as ivf_assign (boundary decisions cannot drift);
    - the new centroid means are DECIMAL(20,10) elementwise sums
      (exact, order-independent) divided once in double and rounded to
      9 — identical arrays on every engine and partitioning;
    - a centroid that loses all sample members disappears (standard
      Lloyd degeneracy), deterministically on both sides.

    Scale shape: the sample is bounded by ``max_sample`` ROWS, not a
    corpus fraction — each iteration is one broadcast-join + one
    (cell, dim)-keyed aggregation over at most that many vectors, the
    corpus is never touched; at 100 TB ``max_sample`` is the knob and
    its default keeps the refine step constant-cost at any SF.
    Returns (cell_id, cv)."""
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    sample = e.where(
        (F.col("vec_id") % sample_every == 0)
        & (F.col("vec_id") < max_sample * sample_every)
    )
    cents = _codebook(e, stride)
    for _ in range(iters):
        cos = F.round(_dot("v", "cv") / (_norm("v") * _norm("cv")), 6)
        assigned = (
            sample.join(F.broadcast(cents))
            .select("vec_id", "v", "cell_id", cos.alias("cos"))
            .groupBy("vec_id")
            .agg(
                F.max_by(
                    "cell_id", F.struct(F.col("cos"), -F.col("cell_id"))
                ).alias("cell_id"),
                F.first("v").alias("v"),  # constant within the group
            )
        )
        dims = assigned.select(
            "cell_id", F.posexplode("v").alias("pos", "val")
        )
        means = dims.groupBy("cell_id", "pos").agg(
            F.round(
                F.sum(F.col("val").cast("decimal(20,10)")).cast("double")
                / F.count("*"),
                9,
            ).alias("m")
        )
        cents = means.groupBy("cell_id").agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, m))), s -> s.m)"
            ).alias("cv")
        )
    # lazily materialize: consumers (assign + recall arms) read the
    # refined codebook several times; the 100 TB twin writes the
    # codebook table once and broadcasts it. Blocks live until the
    # caller releases them (plans.session.release_local_checkpoint /
    # bench.py's between-query sweep)
    return cents.localCheckpoint(eager=False)


def ivf_assign(
    emb: DataFrame,
    stride: int = CENTROID_STRIDE,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Assign every vector to its nearest coarse centroid.

    The default codebook is a deterministic subsample (every
    ``stride``-th vector) so the assignment is reproducible across
    engines; pass ``codebook=kmeans_codebook(emb)`` for the
    Lloyd-refined production codebook (same plan shape: broadcast the
    (tiny) codebook, one pass over the corpus, argmax by cosine with
    centroid-id tie-break, NO corpus-sized shuffle).
    Returns (vec_id, cell_id)."""
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = codebook if codebook is not None else _codebook(e, stride)
    cos = F.round(_dot("v", "cv") / (_norm("v") * _norm("cv")), 6)
    # argmax via map-side max_by aggregation instead of a sort window:
    # the (vectors x codebook) relation never hits a full sort, and the
    # partial agg combines inside the scan stage. Tie-break = lowest
    # cell_id, encoded as max of (cos, -cell_id) — identical result to
    # ORDER BY cos DESC, cell_id ASC.
    return (
        e.join(F.broadcast(cents))
        .select("vec_id", "cell_id", cos.alias("cos"))
        .groupBy("vec_id")
        .agg(F.max_by("cell_id", F.struct(F.col("cos"), -F.col("cell_id"))).alias("cell_id"))
    )


def knn_cosine_ivf(
    emb: DataFrame,
    every: int = QUERY_EVERY,
    k: int = 10,
    stride: int = CENTROID_STRIDE,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k: each query searches only its own IVF cell.

    This is the 100 TB path for knn_cosine_topk: the candidate set per
    query shrinks from |corpus| to |cell| (~corpus/stride), the join is
    an equi-join on cell_id (shuffle on a low-cardinality key after
    the broadcast assignment pass), and the scoring kernel is the same
    JVM-side zip_with/aggregate fold. nprobe=1 here; raising nprobe =
    keeping the top-n cells from the assignment window instead of 1.
    Returns (query_id, rank, neighbor_id, cos)."""
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    assign = ivf_assign(emb, stride, codebook=codebook)
    ev = e.join(assign, "vec_id")
    q = ev.where(F.col("vec_id") % every == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("cell_id").alias("qcell"),
    )
    pairs = ev.join(
        F.broadcast(q),
        (F.col("cell_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    )
    cos = F.round(_dot("qv", "v") / (_norm("qv") * _norm("v")), 6)
    scored = pairs.select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def embedding_near_dup_pairs(
    emb: DataFrame, threshold: float = 0.25, stride: int = CENTROID_STRIDE
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, restricted to IVF cells.

    The dedup-by-embedding stage of a training-data pipeline: pairs
    above ``threshold`` cosine are duplicate candidates. Blocking by
    IVF cell makes the self-join |cell|^2 instead of |corpus|^2; the
    threshold filter runs inside the join (Catalyst pushes it into the
    sort-merge/broadcast join condition evaluation), so only surviving
    pairs materialize. Returns (vec_id_a, vec_id_b, cos)."""
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    ev = e.join(ivf_assign(emb, stride), "vec_id")
    a = ev.select(
        F.col("vec_id").alias("vec_id_a"), F.col("v").alias("va"), F.col("cell_id").alias("ca")
    )
    b = ev.select(
        F.col("vec_id").alias("vec_id_b"), F.col("v").alias("vb"), F.col("cell_id").alias("cb")
    )
    cos = F.round(_dot("va", "vb") / (_norm("va") * _norm("vb")), 6)
    return (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("vec_id_a") < F.col("vec_id_b")))
        .select("vec_id_a", "vec_id_b", cos.alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def _cells(emb: DataFrame, stride: int, nprobe: int) -> DataFrame:
    """Top-``nprobe`` nearest codebook cells per vector
    (vec_id, cell_id, probe_rank)."""
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cents = _codebook(e, stride)
    cos = F.round(_dot("v", "cv") / (_norm("v") * _norm("cv")), 6)
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cell_id"))
    return (
        e.join(F.broadcast(cents))
        .select("vec_id", "cell_id", cos.alias("cos"))
        .withColumn("probe_rank", F.row_number().over(w))
        .where(F.col("probe_rank") <= nprobe)
        .select("vec_id", "cell_id", "probe_rank")
    )


def knn_cosine_ivf_nprobe(
    emb: DataFrame,
    every: int = QUERY_EVERY,
    k: int = 10,
    stride: int = CENTROID_STRIDE,
    nprobe: int = 2,
) -> DataFrame:
    """ANN top-k with multi-cell probing: the corpus stays indexed by
    its top-1 cell; each QUERY fans out to its ``nprobe`` nearest
    cells, recovering most of the recall the nprobe=1 cut loses for
    queries near cell boundaries. Cost model at scale: candidates per
    query grow linearly in nprobe while the corpus-side index join is
    unchanged — the standard IVF recall/latency dial.
    Returns (query_id, rank, neighbor_id, cos)."""
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    ev = e.join(ivf_assign(emb, stride), "vec_id")
    probes = _cells(emb, stride, nprobe).where(F.col("vec_id") % every == 0)
    q = probes.join(e, "vec_id").select(
        F.col("vec_id").alias("query_id"),
        F.col("cell_id").alias("qcell"),
        F.col("v").alias("qv"),
    )
    pairs = ev.join(
        F.broadcast(q),
        (F.col("cell_id") == F.col("qcell")) & (F.col("vec_id") != F.col("query_id")),
    )
    cos = F.round(_dot("qv", "v") / (_norm("qv") * _norm("v")), 6)
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos")
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cos")
    )


def ivf_recall(
    emb: DataFrame,
    every: int = QUERY_EVERY,
    k: int = 10,
    stride: int = CENTROID_STRIDE,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of the IVF (nprobe=1) path against brute force — the
    ANN quality dial an operator watches when tuning stride/nprobe.
    One row: (n_queries, avg_recall). Exact arithmetic: recall is a
    ratio of integer overlap counts, so engines cannot drift."""
    brute = knn_cosine_topk(emb, every=every, k=k).select(
        "query_id", F.col("neighbor_id").alias("nb")
    )
    approx = knn_cosine_ivf(emb, every=every, k=k, stride=stride, codebook=codebook).select(
        "query_id", F.col("neighbor_id").alias("na")
    )
    overlap = (
        brute.join(
            approx,
            (brute["query_id"] == approx["query_id"]) & (F.col("nb") == F.col("na")),
        )
        .groupBy(brute["query_id"])
        .agg(F.count("*").alias("n_hit"))
    )
    per_query = (
        brute.select("query_id")
        .distinct()
        .join(overlap, "query_id", "left")
        .select(F.coalesce("n_hit", F.lit(0)).alias("n_hit"))
    )
    return per_query.agg(
        F.count("*").alias("n_queries"),
        F.round(F.sum("n_hit") / (F.count("*") * k), 6).alias("avg_recall"),
    )


# -- semantic dedup (SemDeDup) ---------------------------------------------


def semdedup_corpus(
    emb: DataFrame,
    threshold: float = 0.25,
    stride: int = CENTROID_STRIDE,
    max_iters: int = 20,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): drop semantic
    near-duplicates, keeping one representative per duplicate cluster.

    The composition every embedding-aware pipeline ends with, built
    entirely from gated pieces: ``embedding_near_dup_pairs`` supplies
    the candidate edges (cosine >= ``threshold``, blocked by IVF cell
    so the self-join is |cell|^2, never |corpus|^2), ``dedup.
    dedup_keep_list`` runs distributed min-label connected components
    over them (per-round localCheckpoint + superseded-block release),
    and the survivors materialize as ONE left-anti join against the
    (small) drop list — the corpus is scanned once and never shuffled,
    exactly the ``dedupped_corpus`` contract. The keeper of a cluster
    is its minimum vec_id (the propagated label), so the output is
    partition-invariant by construction. Returns the surviving rows of
    ``emb`` with all original columns intact."""
    from ocr_spark.operators.dedup import dedup_keep_list  # noqa: PLC0415

    edges = embedding_near_dup_pairs(emb, threshold, stride).select(
        F.col("vec_id_a").alias("doc_a"), F.col("vec_id_b").alias("doc_b")
    )
    drop = (
        dedup_keep_list(
            emb.select(F.col("vec_id").alias("doc_id")),
            pairs=edges,
            max_iters=max_iters,
        )
        .where(F.col("keep") == 0)
        .select(F.col("doc_id").alias("vec_id"))
    )
    return emb.join(drop, "vec_id", "left_anti")


def cluster_balanced_sample(
    emb: DataFrame,
    cap: int = CELL_CAP,
    stride: int = CENTROID_STRIDE,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Cluster-balanced selection (the MetaCLIP / DataComp curation
    move): assign every embedding to its nearest codebook cell, then
    keep at most ``cap`` vectors per cell — flattening over-crowded
    head clusters (near-duplicate web boilerplate) while preserving
    every tail cluster in full, so the selected corpus covers the
    embedding space instead of its mode.

    Within a cell the kept ``cap`` are chosen by a content-addressed
    md5 rank (key = md5('cbs:' || vec_id), vec_id tie-break) — a
    deterministic uniform draw, reproducible at any cluster size and
    replayable by the DuckDB oracle; a re-run with a smaller ``cap``
    keeps a strict subset. The default codebook is the Lloyd-refined
    ``kmeans_codebook`` (broadcast, one corpus pass, map-side argmax
    — no corpus-sized shuffle in assignment).

    The per-cell rank is a window sort partitioned by cell_id — the
    ``topk_per_group`` shape. Cells are ~corpus/stride members by
    construction; a degenerate mega-cell (one centroid swallowing the
    corpus) is the codebook's pathology to fix, and AQE's skew
    handling splits the sort partition in the meantime. Returns every
    vector as (vec_id, cell_id, cell_rank, kept)."""
    cents = codebook if codebook is not None else kmeans_codebook(emb)
    assign = ivf_assign(emb, stride, codebook=cents)
    key = F.md5(F.concat(F.lit("cbs:"), F.col("vec_id").cast("string")))
    w = Window.partitionBy("cell_id").orderBy(key.asc(), F.col("vec_id").asc())
    return (
        assign.withColumn("cell_rank", F.row_number().over(w))
        .select(
            "vec_id",
            "cell_id",
            "cell_rank",
            (F.col("cell_rank") <= F.lit(int(cap))).alias("kept"),
        )
    )
