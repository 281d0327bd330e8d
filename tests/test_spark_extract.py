"""End-to-end Spark extraction vs frozen fixtures, plus light/heavy
path equivalence through the real plan (both arms mapInArrow, the
heavy one re-ordered by a window) and the plan's shape."""

import contextlib
import io
import os
import re

import pyarrow.parquet as pq
import pytest

from ocr_spark.plans.extract import DOCS_SCHEMA, corpus_df, extract

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures", "expected_spans.parquet")

KEY = ["doc_id", "order"]
COLS = ["doc_id", "order", "kind", "text", "media_ref"]


@pytest.fixture(scope="module")
def expected():
    return (
        pq.read_table(FIXTURES)
        .to_pandas()
        .sort_values(KEY, ignore_index=True)
        .astype({"order": "int32"})
    )


def _run(spark, threshold):
    docs = corpus_df(spark, 400, partitions=8)
    out = extract(docs, heavy_threshold=threshold).toPandas()
    return out.sort_values(KEY, ignore_index=True)[COLS].astype({"order": "int32"})


def test_spark_extract_matches_fixtures(spark, expected):
    out = _run(spark, threshold=16)
    assert len(out) == len(expected)
    for col in COLS:
        assert (out[col] == expected[col]).all(), f"mismatch in {col}"


def test_heavy_path_equivalence(spark, expected):
    """Force most documents through the span-exploded heavy path —
    results must be identical to the fixtures."""
    out = _run(spark, threshold=2)
    assert len(out) == len(expected)
    for col in COLS:
        assert (out[col] == expected[col]).all(), f"mismatch in {col}"


def test_invariants_doc_accounting_is_load_bearing(spark):
    """unaccounted_docs must be 0 on the real output, and must flag a
    silently dropped document (the round-3 gap: the doc count was a
    pass-through literal the oracle reproduced by construction)."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.extract import extract_invariants

    docs = corpus_df(spark, 200, partitions=8)
    out = extract(docs)
    good = extract_invariants(out, docs).first()
    assert good["n_docs_in"] == 200
    assert good["unaccounted_docs"] == 0

    # drop one doc that must emit output: it has a surviving text span
    kept = out.where(F.col("kind") == "text").select("doc_id").first()["doc_id"]
    broken = out.where(F.col("doc_id") != kept)
    bad = extract_invariants(broken, docs).first()
    assert bad["unaccounted_docs"] == 1


# a CJK boilerplate text span plus one page whose boxes are all dropped:
# correct output has no row for it
EMPTY_DOC = "doc-73627082"


def test_invariants_accept_a_doc_whose_pages_emit_nothing(spark):
    from ocr_spark.plans.extract import extract_invariants
    from ocr_spark.sources.corpus import doc_spans

    empty = spark.createDataFrame([(EMPTY_DOC, doc_spans(EMPTY_DOC))], DOCS_SCHEMA)
    docs = corpus_df(spark, 20).unionByName(empty)
    out = extract(docs)
    assert out.where(out.doc_id == EMPTY_DOC).count() == 0
    inv = extract_invariants(out, docs).first()
    assert inv["n_docs_in"] == 21
    assert inv["unaccounted_docs"] == 0


def test_invariants_flag_an_output_doc_not_in_the_input(spark):
    from pyspark.sql import functions as F

    from ocr_spark.plans.extract import extract_invariants

    docs = corpus_df(spark, 20)
    out = extract(docs)
    invented = out.where(out.order == 0).limit(1).withColumn("doc_id", F.lit("doc-invented"))
    inv = extract_invariants(out.unionByName(invented), docs).first()
    assert inv["unaccounted_docs"] == 1


def test_corpus_schema(spark):
    docs = corpus_df(spark, 10, partitions=2)
    schema = docs.schema.simpleString()
    assert (
        schema
        == "struct<doc_id:string,spans:array<struct<kind:string,text:string,media_ref:string,offset:int>>>"
    )


@pytest.mark.parametrize("source", ["local", "parquet"])
def test_plan_runs_one_arrow_kernel_per_arm(spark, tmp_path, source):
    """With the heavy arm in the plan, extract() runs the Arrow kernel
    once per arm (two MapInArrow nodes) and no pandas kernel. The
    source is not corpus_df, which is itself a mapInPandas."""
    rows = [("d0", [("text", "1+1=2", "", 0), ("media", "", "m-000000000001", 1)])]
    docs = spark.createDataFrame(rows, DOCS_SCHEMA)
    if source == "parquet":
        docs.write.parquet(str(tmp_path / "docs"))
        docs = spark.read.parquet(str(tmp_path / "docs"))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        extract(docs).explain("formatted")
    plan = buf.getvalue()
    # plan-tree nodes only ("+- MapInArrow (4)"), not the details section
    assert len(re.findall(r"MapInArrow \(\d+\)\s*$", plan, flags=re.M)) == 2, plan
    assert "MapInPandas" not in plan, plan
