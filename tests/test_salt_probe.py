"""Layout-skew probe gating the light-path salt (plans/extract.py).

The salted repartition is insurance against cost-clustered layouts
(ingest order correlating with media density). BENCH/NOTES_r4.md §13:
on a hash-uniform layout the shuffle is pure cost in an idle window
(nosalt 12.9-13.3 s vs salted 15.3-16.0 s at local[32]), while on the
sorted adversarial layout it is an 11x win (15.3 s vs 173 s). The
probe reads a bounded per-partition prefix and fires the salt only
when the layout actually clusters cost."""

import pytest
from pyspark.sql import functions as F

from ocr_spark.plans.extract import (
    _PROBE_CLUSTER_RATIO,
    corpus_df,
    extract,
    layout_skew_probe,
    media_span_count,
)

N_DOCS = 2000
PARTS = 12  # >= local[4] cores but < 4 waves => the probe branch is live


@pytest.fixture(scope="module")
def corpora(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("salt_probe")
    rnd, srt = str(tmp / "random"), str(tmp / "sorted")
    corpus_df(spark, N_DOCS, partitions=PARTS).write.parquet(rnd)
    (
        spark.read.parquet(rnd)
        .withColumn("_m", media_span_count())
        .repartitionByRange(PARTS, F.desc("_m"))
        .drop("_m")
        .write.parquet(srt)
    )
    return rnd, srt


def test_probe_low_on_uniform_layout(spark, corpora):
    rnd, _ = corpora
    ratio = layout_skew_probe(spark.read.parquet(rnd))
    assert ratio < _PROBE_CLUSTER_RATIO, ratio


def test_probe_high_on_clustered_layout(spark, corpora):
    _, srt = corpora
    ratio = layout_skew_probe(spark.read.parquet(srt))
    assert ratio >= _PROBE_CLUSTER_RATIO, ratio


def _light_path_plan(df):
    # benign exact stats branch-drop the heavy path, so the ONLY
    # possible Exchange in the plan is the salt repartition
    out = extract(df, media_stats=(2.5, 8.0))
    return out._jdf.queryExecution().executedPlan().toString()


def test_auto_salt_declines_on_uniform_layout(spark, corpora):
    rnd, _ = corpora
    assert "Exchange" not in _light_path_plan(spark.read.parquet(rnd))


def test_auto_salt_fires_on_clustered_layout(spark, corpora):
    _, srt = corpora
    assert "Exchange" in _light_path_plan(spark.read.parquet(srt))


def test_auto_salt_forced_on_underparallel_scan(spark, corpora):
    """scan partitions < cores: cores sit idle regardless of layout —
    the salt fires unconditionally (no probe)."""
    rnd, _ = corpora
    plan_str = extract(
        spark.read.parquet(rnd),
        media_stats=(2.5, 8.0),
        scan_partitions=2,  # < 4 cores in the test session
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan_str


def test_auto_salt_skipped_at_many_waves(spark, corpora):
    """>= 4 waves/core: the probe never runs and the salt never fires,
    even on the clustered layout (the scheduler absorbs the variance —
    forced salt measured ~9% WORSE there, NOTES_r4 §12). This is the
    production regime: scan partitions >> 4x cluster cores."""
    _, srt = corpora
    plan_str = extract(
        spark.read.parquet(srt),
        media_stats=(2.5, 8.0),
        scan_partitions=1000,
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan_str


def test_salted_output_matches_unsalted(spark, corpora):
    """Salting is a pure performance knob: identical rows either way."""
    _, srt = corpora
    docs = spark.read.parquet(srt).limit(60)
    a = sorted(
        map(tuple, extract(docs, salt=True, media_stats=(2.5, 8.0)).collect())
    )
    b = sorted(
        map(tuple, extract(docs, salt=False, media_stats=(2.5, 8.0)).collect())
    )
    assert a == b


def test_head_stats_paths_agree(spark, corpora, monkeypatch):
    """The driver-threadpool and executor-reduced head-stats paths must
    return identical statistics (same reduction semantics, different
    physical execution) — forced here by dropping the local-path file
    bound to 0."""
    import ocr_spark.plans.extract as px

    rnd, srt = corpora
    for path in (rnd, srt):
        files = spark.read.parquet(path).inputFiles()
        local = px._file_head_stats(spark, files)
        monkeypatch.setattr(px, "_LOCAL_HEAD_FILES", 0)
        dist = px._file_head_stats(spark, files)
        monkeypatch.undo()
        assert local == dist, (path, local, dist)


def test_sample_stats_share_the_probe_pass(spark, corpora):
    """media_stats='sample' + in-band salt='auto' on a file-backed
    source must not leave TWO pre-plan jobs' worth of machinery: the
    memoized head stats feed both. Verified behaviorally — the auto
    plan equals the plan built from the head pass's own statistics."""
    import ocr_spark.plans.extract as px

    rnd, _ = corpora
    docs = spark.read.parquet(rnd)
    hs = px._file_head_stats(spark, docs.inputFiles())
    auto = extract(docs)  # sample stats + probe, one shared pass
    explicit = extract(docs, media_stats=(hs["mean"], hs["mx"]))
    a = auto._jdf.queryExecution().executedPlan().toString()
    b = explicit._jdf.queryExecution().executedPlan().toString()
    # same salt decision; same heavy threshold decision modulo the
    # sample-mode branch-drop rule (exact stats may drop the branch)
    assert ("Exchange" in a) == ("Exchange" in b)


def test_salted_light_path_fills_every_bucket(spark):
    """The salt spreads documents over all of its buckets: hashing
    pmod(xxhash64(doc_id), buckets) a second time left 12 of 32 empty."""
    buckets = 32
    out = extract(corpus_df(spark, 1000), buckets=buckets, salt=True, media_stats=(2.5, 8.0))
    parts = out.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert sorted(r["p"] for r in parts) == list(range(buckets))
