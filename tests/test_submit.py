"""The literal launch form: dist zip + spark-submit --py-files.

The north rule's deployment sentence is "run via spark-submit
--py-files on a multi-executor cluster" — these tests pin the two
halves: the artifact builder (deterministic, package-only zip) and an
actual cold ``spark-submit --master local-cluster --py-files`` launch
of the production job, jobs/extract.py, copied to a scratch directory
where the zip is the only possible source of the package."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from tools.make_pyfiles import build_zip  # noqa: E402

SPARK_SUBMIT = os.environ.get(
    "SPARK_SUBMIT", shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
)


def test_zip_contains_exactly_the_package(tmp_path):
    path = build_zip(str(tmp_path / "ocr_spark.zip"))
    names = zipfile.ZipFile(path).namelist()
    assert names, "empty artifact"
    assert all(n.startswith("ocr_spark/") and n.endswith(".py") for n in names)
    assert "ocr_spark/__init__.py" in names
    assert "ocr_spark/plans/extract.py" in names
    assert not any("__pycache__" in n or "test" in n.split("/")[-1] for n in names)


def test_zip_is_deterministic(tmp_path):
    a = build_zip(str(tmp_path / "a.zip"))
    b = build_zip(str(tmp_path / "b.zip"))
    with open(a, "rb") as fa, open(b, "rb") as fb:
        assert fa.read() == fb.read()


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_pyfiles_launch(spark, tmp_path):
    """Cold spark-submit of jobs/extract.py, 1 executor x 2 cores,
    zip-only imports: the committed snapshot holds the in-process
    engine's doc set."""
    from ocr_spark.plans.extract import corpus_df, extract
    from ocr_spark.plans.io import SnapshotStore

    corpus = str(tmp_path / "corpus")
    corpus_df(spark, 64, partitions=4).write.parquet(corpus)
    expected = {
        r["doc_id"]
        for r in extract(corpus_df(spark, 64, partitions=4))
        .select("doc_id").distinct().collect()
    }

    zip_path = build_zip(str(tmp_path / "ocr_spark.zip"))
    scratch = tmp_path / "launch"
    scratch.mkdir()
    # the job's sys.path.insert resolves to tmp_path, which holds no
    # ocr_spark/ directory: imports come from the zip only
    shutil.copy(os.path.join(REPO, "jobs", "extract.py"), scratch)
    out = str(tmp_path / "out")
    p = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local-cluster[1,2,2048]",
            "--driver-memory", "2g",
            "--py-files", zip_path,
            "--conf", "spark.ui.enabled=false",
            str(scratch / "extract.py"),
            "--input", corpus, "--output", out,
            "--buckets", "4", "--group-size", "4",
        ],
        capture_output=True, text=True, cwd=scratch,
        env={**os.environ, "PYTHONPATH": ""},
        timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    # the summary line precedes the per-bucket metrics table
    (line,) = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    r = json.loads(line)
    assert r["committed_buckets"] == 4
    assert r["n_docs"] == 64
    got = {
        row["doc_id"]
        for row in SnapshotStore(out).read(spark).select("doc_id").distinct().collect()
    }
    assert got == expected
