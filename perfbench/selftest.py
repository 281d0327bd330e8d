"""Tests of the benchmark's own parts.

    python3 -m pytest perfbench/selftest.py -q

The file name keeps it out of a plain ``pytest`` run of the repository,
so the engine's tests never share a JVM or a ``sys.path`` with it. The
Spark-backed tests start one small local session (about 20 s).
"""

from __future__ import annotations

import dataclasses
import json
import os
import sys
import time
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import eventlog  # noqa: E402
import procfs  # noqa: E402
import run  # noqa: E402
import verify  # noqa: E402
import workloads  # noqa: E402
from trace_spans import Tracer, self_times  # noqa: E402

# -- verifier ---------------------------------------------------------------


def _fixture_rows(n_docs: int = 12) -> list[dict]:
    ids = workloads.fixture_doc_ids()[:n_docs]
    t = pq.read_table(verify.FIXTURES, columns=verify.COLUMNS)
    t = t.filter(pa.compute.is_in(t.column("doc_id"), pa.array(ids)))
    return t.to_pylist()


def test_verifier_passes_unmodified_rows_in_any_row_order():
    rows = _fixture_rows()
    ids = {r["doc_id"] for r in rows}
    expected = verify.expected_fixture_rows(ids)
    assert verify.mismatched(expected, verify.rows_by_doc(rows[::-1]), ids) == set()


def test_verifier_flags_dropped_document():
    rows = _fixture_rows()
    ids = {r["doc_id"] for r in rows}
    dropped = rows[0]["doc_id"]
    got = verify.rows_by_doc(r for r in rows if r["doc_id"] != dropped)
    assert verify.mismatched(verify.expected_fixture_rows(ids), got, ids) == {dropped}


def test_verifier_flags_swapped_order():
    rows = [dict(r) for r in _fixture_rows()]
    doc = next(d for d in {r["doc_id"] for r in rows} if sum(r["doc_id"] == d for r in rows) > 1)
    a, b = [r for r in rows if r["doc_id"] == doc][:2]
    a["order"], b["order"] = b["order"], a["order"]
    ids = {r["doc_id"] for r in rows}
    got = verify.rows_by_doc(rows)
    assert verify.mismatched(verify.expected_fixture_rows(ids), got, ids) == {doc}


def test_verifier_flags_changed_text():
    rows = [dict(r) for r in _fixture_rows()]
    rows[3]["text"] += "x"
    ids = {r["doc_id"] for r in rows}
    got = verify.rows_by_doc(rows)
    assert verify.mismatched(verify.expected_fixture_rows(ids), got, ids) == {rows[3]["doc_id"]}


def test_invariant_counters_count_failures():
    inv = dict.fromkeys(verify.INVARIANT_COUNTERS, 0) | {"n_docs_in": 9, "has_output": 1}
    assert verify.invariant_failures(inv) == 0
    inv["bad_order_docs"] = 2
    assert verify.invariant_failures(inv) == 2


# -- spans and self time ----------------------------------------------------


def test_self_time_on_nested_spans():
    spans = [
        ["root", 0.0, 10.0, -1],
        ["a", 1.0, 4.0, 0],
        ["leaf", 2.0, 3.0, 1],
        ["b", 5.0, 9.0, 0],
        ["a", 6.0, 7.0, 3],  # same name again, under b
    ]
    assert self_times(spans) == {"root": 3.0, "a": 3.0, "leaf": 1.0, "b": 3.0}


def test_self_time_counts_overlapping_children_once():
    spans = [["p", 0.0, 10.0, -1], ["c", 1.0, 5.0, 0], ["c", 3.0, 7.0, 0]]
    assert self_times(spans)["p"] == pytest.approx(4.0)


def test_tracer_wraps_nested_calls_and_restores():
    mod = types.SimpleNamespace()
    mod.inner = lambda x: x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    orig_inner = mod.inner
    tr = Tracer("t")
    tr.wrap(mod, "inner", "inner", lambda c, a, out: c.update({"inner.args": a[0]}))
    tr.wrap(mod, "outer", "outer")
    assert mod.outer(3) == 8
    names = [(s[0], s[3]) for s in tr.spans]
    assert names == [("outer", -1), ("inner", 0)]
    assert tr.counts["inner.args"] == 3
    st = tr.self_times()
    assert st["outer"] + st["inner"] == pytest.approx(tr.spans[0][2] - tr.spans[0][1])
    tr.restore()
    assert mod.inner is orig_inner


def test_kernel_probes_book_ocr_glue_outside_the_arrow_layer():
    import kernel  # noqa: PLC0415

    from ocr_spark.sources.weights import default_weights  # noqa: PLC0415

    ids = [d for d in workloads.fixture_doc_ids()[:40] if not workloads._is_heavy(workloads._spans(d))]
    batches = kernel.batches_of(workloads._corpus_table(ids[:6]))
    tr = Tracer("k")
    kernel.install_probes(tr)
    try:
        _, traced = kernel.kernel_pass(batches, default_weights(), tr)
    finally:
        tr.restore()
    assert traced.equals(kernel.kernel_pass(batches, default_weights())[1])
    by_name = {s[0]: i for i, s in enumerate(tr.spans)}
    parent = lambda name: tr.spans[tr.spans[by_name[name]][3]][0]  # noqa: E731
    assert parent(kernel.GLUE) == "operators.extract_batch.extract_doc_batch_arrow"
    assert parent("sources.media.box_probs_batch") == kernel.GLUE
    assert tr.counts["box_probs_batch.crops"] > 0


# -- seeded inputs ----------------------------------------------------------

# the mixed generator at a size that builds in a second
SMALL_MIXED = dataclasses.replace(workloads.WORKLOADS["mixed"], pass_docs=160, fixture_docs=150)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_digest_other_seed_other_documents(name):
    w = workloads.WORKLOADS[name]
    a = workloads.build_passes(w, 5, 2)
    b = workloads.build_passes(w, 5, 2)
    c = workloads.build_passes(w, 6, 2)
    tables = lambda d: [d["warmup"], *d["passes"]]  # noqa: E731
    assert workloads.table_digest(tables(a)) == workloads.table_digest(tables(b))
    ids = lambda d: {x for t in tables(d) for x in t.column("doc_id").to_pylist()}  # noqa: E731
    fixtures = set(workloads.fixture_doc_ids())
    assert ids(a) - fixtures and not (ids(a) - fixtures) & (ids(c) - fixtures)


def test_passes_hold_disjoint_documents_and_stratified_heavy_docs():
    w = SMALL_MIXED
    d = workloads.build_passes(w, 9, 3)
    tables = [d["warmup"], *d["passes"]]
    ids = [t.column("doc_id").to_pylist() for t in tables]
    assert sum(map(len, ids)) == len(set().union(*ids))
    assert set(d["fixture_ids"]) <= set().union(*ids[1:])
    heavy = [sum(workloads._is_heavy(s) for s in t.column("spans").to_pylist()) for t in tables]
    assert heavy[0] == round(workloads.HEAVY_FRAC * w.pass_docs)
    assert max(heavy[1:]) - min(heavy[1:]) <= 1


def test_mixed_passes_hold_every_fixture_document():
    w = workloads.WORKLOADS["mixed"]
    d = workloads.build_passes(w, 3, 1)
    got = set(d["passes"][0].column("doc_id").to_pylist())
    assert len(got) == w.pass_docs and set(workloads.fixture_doc_ids()) <= got
    assert workloads.media_spans(d["passes"][0]) > 2 * w.pass_docs


def test_stage_caches_by_workload_seed_and_size(tmp_path):
    w = SMALL_MIXED
    a = workloads.stage(w, 4, 1, str(tmp_path))
    mtime = os.path.getmtime(os.path.join(a.root, "manifest.json"))
    b = workloads.stage(w, 4, 1, str(tmp_path))
    assert a.digest == b.digest
    assert os.path.getmtime(os.path.join(b.root, "manifest.json")) == mtime
    got = pq.read_table(a.passes[0])
    assert sorted(got.column("doc_id").to_pylist()) == sorted(a.pass_ids[0])
    assert a.pass_media == [workloads.media_spans(got)]


# -- /proc readings ---------------------------------------------------------


def test_tree_cpu_counts_exited_children():
    import subprocess  # noqa: PLC0415

    before = procfs.tree_cpu_s()
    subprocess.run(
        [sys.executable, "-c", "import time\nt=time.process_time()\nwhile time.process_time()-t<0.3: pass"],
        check=True,
    )
    assert procfs.tree_cpu_s() - before >= 0.25
    assert procfs.process_age_s() > 0


# -- BENCHMARK.json ---------------------------------------------------------


def test_benchmark_json_matches_what_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


# -- Spark: event log and whole-output verification -------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    root = tmp_path_factory.mktemp("spark")
    log_dir = root / "eventlog"
    log_dir.mkdir()
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    from ocr_spark.plans.session import build_session  # noqa: PLC0415

    s = build_session(
        master="local[2]",
        app_name="perfbench_tests",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(root),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + str(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    s.log_dir = str(log_dir)
    yield s
    s.stop()


def test_whole_output_verification_flags_one_corrupted_row(spark, tmp_path):
    from ocr_spark.plans.extract import extract  # noqa: PLC0415

    ids = workloads.fixture_doc_ids()[:30]
    pq.write_table(workloads._corpus_table(ids), str(tmp_path / "docs.parquet"))
    docs = spark.read.parquet(str(tmp_path / "docs.parquet"))
    extract(docs).write.parquet(str(tmp_path / "out"))

    from ocr_spark.sources.weights import default_weights  # noqa: PLC0415

    def failed_frac(out_dir):
        out_df = spark.read.parquet(out_dir)
        failed, inv_fail, _ = verify.verify(
            out_df, docs, [out_dir], [str(tmp_path / "docs.parquet")], ids, {}, default_weights()
        )
        return (len(failed) + inv_fail) / len(ids), failed

    assert failed_frac(str(tmp_path / "out")) == (0.0, set())
    rows = pq.read_table(str(tmp_path / "out")).to_pylist()
    victim = next(r for r in rows if r["kind"] == "text")
    victim["text"] += "1"
    os.makedirs(tmp_path / "bad")
    pq.write_table(pa.Table.from_pylist(rows), str(tmp_path / "bad" / "part-0.parquet"))
    frac, failed = failed_frac(str(tmp_path / "bad"))
    assert failed == {victim["doc_id"]} and frac > 0


# runs last: it stops the session to finish the event log file
def test_event_log_parser_reads_a_tiny_job(spark):
    sc = spark.sparkContext
    sc.setJobGroup("narrow", "one stage")
    t0 = int(time.time() * 1000)
    assert sc.parallelize(range(100), 3).map(lambda x: x + 1).count() == 100
    t1 = int(time.time() * 1000)
    sc.setJobGroup("shuffle", "two stages")
    got = sc.parallelize(range(100), 3).map(lambda x: (x % 4, 1)).reduceByKey(
        lambda a, b: a + b, 2
    ).collect()
    assert sorted(got) == [(0, 25), (1, 25), (2, 25), (3, 25)]
    sc.setJobGroup("", "")
    spark.stop()  # finishes the event log file
    log = eventlog.parse(eventlog.find_log(spark.log_dir))

    narrow = eventlog.group_metrics(log, "narrow", (t0, t1), cores=2)
    assert narrow["spark.stages"] == 1
    assert narrow["spark.tasks"] == 3
    assert narrow["spark.shuffle_write_mb"] == 0
    assert narrow["spark.executor_run_s"] > 0
    assert 0 <= narrow["spark.no_task_s"] <= (t1 - t0) / 1e3
    assert narrow["spark.kernel_stage.task_skew"] >= 1

    shuffled = eventlog.group_metrics(log, "shuffle", (t1, t1 + 1), cores=2)
    assert shuffled["spark.stages"] == 2
    assert shuffled["spark.tasks"] == 5
    assert shuffled["spark.shuffle_write_mb"] > 0
    assert shuffled["spark.shuffle_read_mb"] > 0
