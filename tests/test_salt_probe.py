"""The two fixed plan rules of extract() (plans/extract.py).

Salt: the light path repartitions on doc_id exactly when the source is
file-backed with fewer than 4 files per core (local[4] here: fewer than
16 files). Heavy split: the heavy arm leaves the plan only under a
known bound ``max_media <= heavy_threshold``. Neither rule reads data,
so building the plan starts no Spark job."""

import pytest
from pyspark.sql import functions as F

from ocr_spark.plans.extract import corpus_df, extract, media_span_count

N_DOCS = 96


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    """The same documents as 2 files, 16 files (4 per core) and 12 files
    sorted by media count (cost clustered into the first files)."""
    tmp = tmp_path_factory.mktemp("salt_rule")
    paths = {n: str(tmp / f"files{n}") for n in (2, 16)}
    for n, path in paths.items():
        corpus_df(spark, N_DOCS, partitions=n).write.parquet(path)
    paths["sorted"] = str(tmp / "sorted")
    (
        spark.read.parquet(paths[16])
        .withColumn("_m", media_span_count())
        .repartitionByRange(12, F.desc("_m"), "doc_id")
        .drop("_m")
        .write.parquet(paths["sorted"])
    )
    for key, n in ((2, 2), (16, 16), ("sorted", 12)):
        assert len(spark.read.parquet(paths[key]).inputFiles()) == n
    return paths


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _light_exchanges(df) -> int:
    # max_media=8 drops the heavy arm, so the only possible Exchange
    # is the light path's salt
    return _plan(extract(df, max_media=8)).count("Exchange hashpartitioning(doc_id")


def test_auto_salt_forced_on_underparallel_scan(spark, layouts):
    """2 files on 4 cores: one hash Exchange on the light path."""
    assert _light_exchanges(spark.read.parquet(layouts[2])) == 1


def test_auto_salt_skipped_at_many_waves(spark, layouts):
    """4 files per core: the scheduler absorbs per-partition variance,
    no salt (forced salt measured ~9% worse, NOTES_r4 §12)."""
    assert _light_exchanges(spark.read.parquet(layouts[16])) == 0


def test_auto_salt_fires_on_clustered_layout(spark, layouts):
    """3 files per core, cost-sorted: the salt is the insurance (11x on
    a cost-sorted layout, NOTES_r4 §13), taken without a layout probe."""
    assert _light_exchanges(spark.read.parquet(layouts["sorted"])) == 1


def test_salted_output_matches_unsalted(spark, layouts):
    """Salting is a pure performance choice: identical rows either way."""
    salted, unsalted = (
        sorted(map(tuple, extract(spark.read.parquet(layouts[n])).collect()))
        for n in (2, 16)
    )
    assert len(salted) > N_DOCS
    assert salted == unsalted


def test_extract_starts_no_spark_job(spark, layouts):
    """Building (and physically planning) the extraction starts no Spark
    job, on a file-backed source and on a generated one."""
    tracker = spark.sparkContext.statusTracker()
    for docs in (spark.read.parquet(layouts[2]), corpus_df(spark, N_DOCS)):
        before = set(tracker.getJobIdsForGroup())
        _plan(extract(docs))
        assert set(tracker.getJobIdsForGroup()) <= before


def test_max_media_drops_heavy_arm(spark, layouts):
    """A known bound at or under the threshold gives a single-scan plan;
    without one the heavy arm keeps its second scan."""
    docs = spark.read.parquet(layouts[16])
    assert _plan(extract(docs, max_media=8)).count("FileScan parquet") == 1
    assert _plan(extract(docs)).count("FileScan parquet") == 2


def test_salted_light_path_fills_every_bucket(spark, tmp_path):
    """The salt spreads documents over all of its buckets: hashing
    pmod(xxhash64(doc_id), buckets) a second time left 12 of 32 empty."""
    buckets = spark.sparkContext.defaultParallelism * 8
    corpus_df(spark, 1000).write.parquet(str(tmp_path / "docs"))
    out = extract(spark.read.parquet(str(tmp_path / "docs")), max_media=8)
    parts = out.groupBy(F.spark_partition_id().alias("p")).count().collect()
    assert sorted(r["p"] for r in parts) == list(range(buckets))
