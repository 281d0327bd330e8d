"""OpenBLAS kernel selection (ocr_spark/blaskernel.py): the core chosen
from the CPU's flags, set before numpy loads, inherited by the Spark
workers, and without effect on the extracted spans."""

import json
import os
import subprocess
import sys

import pytest

from ocr_spark import blaskernel

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TESTS = os.path.join(REPO, "tests")

SSE = "fpu sse sse2 ssse3 sse4_1 sse4_2 popcnt".split()
AVX2 = SSE + "avx avx2 fma bmi1 bmi2".split()
AVX512 = AVX2 + "avx512f avx512dq avx512cd avx512bw avx512vl".split()

HOST_CORE = blaskernel.core_for(blaskernel.cpu_flags() or ())


def test_core_for_flag_sets():
    assert blaskernel.core_for(AVX512) == "SkylakeX"
    assert blaskernel.core_for(AVX2) == "Haswell"
    assert blaskernel.core_for(SSE) is None
    assert blaskernel.core_for([]) is None
    # AVX-512 without one of the five required subsets: AVX2 kernels
    assert blaskernel.core_for([f for f in AVX512 if f != "avx512cd"]) == "Haswell"
    # AVX2 without FMA: OpenBLAS's own choice
    assert blaskernel.core_for([f for f in AVX2 if f != "fma"]) is None


def test_cpu_flags_reads_the_flags_line(tmp_path):
    info = tmp_path / "cpuinfo"
    info.write_text("processor\t: 0\nmodel\t\t: 207\nflags\t\t: fpu avx2 fma\n\n")
    assert blaskernel.cpu_flags(str(info)) == ["fpu", "avx2", "fma"]
    assert blaskernel.cpu_flags(str(tmp_path / "missing")) is None


def _child(code: str, core: str | None = None) -> dict:
    """Run ``code`` in a fresh interpreter; its last stdout line is JSON.
    ``core`` sets OPENBLAS_CORETYPE, None leaves it unset."""
    env = {k: v for k, v in os.environ.items() if k != "OPENBLAS_CORETYPE"}
    if core is not None:
        env["OPENBLAS_CORETYPE"] = core
    env["PYTHONPATH"] = os.pathsep.join([REPO, env.get("PYTHONPATH", "")])
    p = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=REPO,
        capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


_REPORT = (
    "import json, os\n"
    "from ocr_spark import blaskernel\n"
    "print(json.dumps([os.environ.get('OPENBLAS_CORETYPE'), blaskernel.corename()]))\n"
)


def test_import_selects_the_host_core():
    env_core, running = _child("import ocr_spark\n" + _REPORT)
    assert env_core == HOST_CORE
    if running is None:
        pytest.skip("numpy's OpenBLAS does not report its core")
    if HOST_CORE is not None:
        assert running == HOST_CORE


def test_user_value_is_kept():
    env_core, running = _child("import ocr_spark\n" + _REPORT, core="Sandybridge")
    assert env_core == "Sandybridge"
    assert running in (None, "Sandybridge")


def test_pin_threads_sets_one_thread_and_keeps_a_user_value(monkeypatch):
    for var in blaskernel.THREAD_VARS:
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("OMP_NUM_THREADS", "3")
    blaskernel.pin_threads()
    assert os.environ["OMP_NUM_THREADS"] == "3"
    assert all(os.environ[v] == "1" for v in blaskernel.THREAD_VARS[1:])


def test_numpy_loaded_first_leaves_the_variable_unset():
    env_core, _ = _child("import numpy\nimport ocr_spark\n" + _REPORT)
    assert env_core is None


def test_spark_worker_runs_the_driver_core(spark):
    def report(_):
        from ocr_spark import blaskernel

        return blaskernel.corename()

    workers = set(spark.sparkContext.parallelize(range(4), 4).map(report).collect())
    assert workers == {blaskernel.corename()}


_FIXTURE_RUN = f"""
import json, sys
sys.path[:0] = [{REPO!r}, {TESTS!r}]
import pyarrow.parquet as pq
from ocr_spark import blaskernel
from ocr_spark.sources.corpus import doc_ids, doc_spans
import test_extraction as te

ids = doc_ids(400)
out = te._doc_kernel((ids, [doc_spans(d) for d in ids]))
exp = pq.read_table(te.FIXTURES).to_pandas().sort_values(te.KEY, ignore_index=True)
same = len(out) == len(exp) and all(
    (out[c].astype(str) == exp[c].astype(str)).all() for c in te.COLS
)
print(json.dumps([blaskernel.corename(), len(out), len(exp), bool(same)]))
"""


@pytest.mark.parametrize("core", sorted({"Prescott", HOST_CORE or "Prescott"}))
def test_kernel_choice_keeps_fixtures(core):
    """The weights build and the 400 frozen fixture documents through
    extract_doc_batch_arrow, in a fresh process on the SSE3 fallback
    kernels and on the core this host selects: both equal the
    fixtures."""
    running, n_out, n_exp, same = _child(_FIXTURE_RUN, core=core)
    assert running in (None, core)
    assert (n_out, same) == (n_exp, True)
