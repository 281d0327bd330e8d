"""Extraction benchmark: docs/s, CPU per doc, set-up time and worker
memory of the read -> extract -> write job, with a traced per-layer
split (OCR kernel, Arrow/text kernel, Spark stages, driver serial term).

Usage, from the repository root:

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 16 --trace 0

A run stages a seeded input (cached under perfbench/_work/inputs),
starts a ``local[k]`` session (k = min(4, cores)), runs an untimed
full-size warm-up pass, measures the host normaliser, runs the timed
passes (each over documents the session has not seen), verifies every
output and prints one JSON object as its last stdout line. With
``--trace 1`` the session also writes a Spark event log, the Spark-driver
calls are wrapped, and a no-Spark kernel pass over a seeded sample is
traced; the printed metrics are then the per-layer ones. See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
DEADLINE_S = 170  # a run must end within 180 s
BLAS_VARS = (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
)
OVERHEAD_PASS_S = 2.0  # shortest kernel pass that times the tracing overhead

END_TO_END = {
    "docs_per_s": "1/s",
    "cpu_s_per_1k_docs": "s",
    "setup_s": "s",
    "worker_peak_rss_mb": "MiB",
}

# Printed with --trace 1, in this order. Self times, calls and counts
# of the kernel layers come from the no-Spark kernel pass over the
# seeded sample; Spark and driver metrics are per timed pass (median
# over passes for the event-log ones, mean for the driver spans).
PER_LAYER = {
    # OCR kernel
    "sources.media.build_page.self_s": "s",
    "operators.detect.detect_page.self_s": "s",
    "operators.detect.detect_page.boxes": "count",
    "operators.layout.self_s": "s",
    "sources.media.box_probs_batch.self_s": "s",
    "sources.media.box_probs_batch.crops": "count",
    "functions.ctc.greedy_decode_batch.self_s": "s",
    "functions.ctc.beam_decode_texts.self_s": "s",
    "functions.ctc.beam_decode_texts.calls": "count",
    "functions.ctc.beam_decode_texts.ms_per_call": "ms",
    "operators.postprocess.route_nodes.beam_rescue_frac": "ratio",
    "operators.postprocess.route_nodes.self_s": "s",
    "operators.postprocess.splice_vertical.self_s": "s",
    "functions.arith.eval_verdict.self_s": "s",
    "functions.arith.eval_verdict.calls": "count",
    "functions.arith.eval_verdict.cache_hit_frac": "ratio",
    "operators.postprocess.state_right": "count",
    "operators.postprocess.state_error": "count",
    "operators.postprocess.state_problem": "count",
    "operators.extract_batch.extract_media_spans_batch.self_s": "s",
    "kernel.ceiling_crops_per_s": "1/s",
    "kernel.timed_pass_share": "ratio",
    "kernel.sample_docs": "count",
    "kernel.pass_wall_s": "s",
    "kernel.self_sum_frac": "ratio",
    "trace.overhead_frac": "ratio",
    # Arrow/text kernel
    "operators.extract_batch.extract_doc_batch_arrow.self_s": "s",
    "operators.extract_batch.extract_doc_batch_arrow.rows_in": "count",
    "operators.extract_batch.extract_doc_batch_arrow.rows_out": "count",
    "functions.text_clean.clean_text_series.self_s": "s",
    "functions.text_clean.clean_text_series.spans": "count",
    "operators.extract_batch.clean_text_spans.keep_frac": "ratio",
    # Spark stages (event log)
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.shuffle_write_mb": "MiB",
    "spark.shuffle_read_mb": "MiB",
    "spark.spill_mb": "MiB",
    "spark.kernel_stage.task_skew": "ratio",
    "spark.kernel_stage.core_idle_frac": "ratio",
    "spark.no_task_s": "s",
    "spark.write_s": "s",
    # driver serial term
    "plans.extract.extract.calls": "count",
    "plans.extract.extract.self_s": "s",
    "sources.weights.default_weights.cold_s": "s",
}


class RunTimeout(Exception):
    pass


def _alarm(signum, frame):
    raise RunTimeout(f"run exceeded {DEADLINE_S} s")


def _session(k: int, run_dir: str, trace: bool):
    from ocr_spark.plans.session import build_session  # noqa: PLC0415

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # keep every file Spark, the JVM and the workers write in the checkout
    os.environ.update(
        {
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(k),
        }
    )
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = build_session(master=f"local[{k}]", app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and its JVM, then wait for every child process."""
    import procfs  # noqa: PLC0415

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — it must not outlive the run
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline and len(procfs.descendants(os.getpid())) > 1:
        time.sleep(0.1)
    for pid in procfs.descendants(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _run_pass(spark, in_path: str, out_path: str, tracer=None) -> None:
    from ocr_spark.plans import extract as xp  # noqa: PLC0415

    out = xp.extract(spark.read.parquet(in_path))  # the tracer may wrap it
    idx = tracer.open("spark.write") if tracer else None
    out.write.mode("overwrite").parquet(out_path)
    if tracer:
        tracer.close(idx)


def _sample(w, staged, seed: int) -> list[str]:
    """Seeded sample of the timed documents: checked against the no-Spark
    kernel, and the input of the traced kernel pass."""
    import numpy as np  # noqa: PLC0415

    timed = sorted(d for ids in staged.pass_ids for d in ids)
    rng = np.random.default_rng([seed, 7])
    size = min(w.sample_docs, len(timed))
    return sorted(rng.choice(timed, size=size, replace=False).tolist())


def run(args) -> dict:
    import kernel  # noqa: PLC0415
    import procfs  # noqa: PLC0415
    import verify  # noqa: PLC0415
    from trace_spans import Tracer  # noqa: PLC0415
    from workloads import WORKLOADS, stage  # noqa: PLC0415

    w = WORKLOADS[args.workload]
    k = min(4, os.cpu_count() or 1)
    info: dict = {"workload": w.name, "seed": args.seed, "cores": k}
    info["loadavg_start"] = [round(x, 2) for x in os.getloadavg()]

    t = time.perf_counter()
    staged = stage(w, args.seed, w.n_passes(args.seconds), os.path.join(WORK, "inputs"))
    info["staging_s"] = time.perf_counter() - t
    info["input_digest"] = staged.digest
    attempted = staged.n_docs
    result = {"correct": False, "attempted": attempted, "failed": attempted, "metrics": {}}

    run_dir = os.path.join(WORK, "runs", f"{w.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tracer = Tracer(f"{w.name}-{args.seed}-spark") if args.trace else None
    spark = None
    try:
        spark = _session(k, run_dir, bool(args.trace))
        sc = spark.sparkContext
        from ocr_spark.sources.weights import default_weights  # noqa: PLC0415

        t = time.perf_counter()
        weights = default_weights()  # first call in the process: cold
        cold_weights_s = time.perf_counter() - t
        sc.setJobGroup("warmup", "untimed full-size warm-up")
        t = time.perf_counter()
        _run_pass(spark, staged.warmup, os.path.join(run_dir, "warmup"))
        info["warmup_s"] = time.perf_counter() - t
        setup_s = procfs.process_age_s() - info["staging_s"]
        phase = {"setup": setup_s}
        t = time.perf_counter()
        info["ceiling_crops_per_s"], refs_per_s = kernel.ceiling(kernel.ceiling_refs(), weights)
        phase["ceiling"] = time.perf_counter() - t
        if tracer:
            from ocr_spark.plans import extract as xp  # noqa: PLC0415

            tracer.wrap(xp, "extract", "plans.extract.extract")
        t = time.perf_counter()
        walls, cpus, intervals, outs = [], [], [], []
        steal0 = procfs.steal_s()
        for i, path in enumerate(staged.passes):
            outs.append(os.path.join(run_dir, f"pass-{i:02d}"))
            sc.setJobGroup(f"pass-{i:02d}", "timed pass")
            cpu0, t0 = procfs.tree_cpu_s(), time.time()
            _run_pass(spark, path, outs[-1], tracer)
            t1, cpu1 = time.time(), procfs.tree_cpu_s()
            walls.append(t1 - t0)
            cpus.append(cpu1 - cpu0)
            intervals.append((int(t0 * 1000), int(t1 * 1000)))
        # CPU time stolen by other guests stretches wall time, not CPU time
        info["steal_s"] = procfs.steal_s() - steal0
        # the OCR kernel's share of the timed window: its media spans at
        # the single-process normaliser's speed over all k cores (a
        # lower bound: a core runs slower when all k are busy)
        info["kernel_share"] = sum(staged.pass_media) / refs_per_s / (k * sum(walls))
        rss = max(procfs.vm_hwm_mb(p) for p in procfs.python_worker_pids())
        if tracer:
            tracer.restore()

        phase["timed"] = time.perf_counter() - t
        t = time.perf_counter()
        sc.setJobGroup("verify", "output verification")
        sample = _sample(w, staged, args.seed)
        sample_batches = kernel.batches_of(verify.read_ids(staged.passes, sample))
        plain_wall, plain_out = kernel.kernel_pass(sample_batches, weights)
        reference = verify.as_reference(sample, plain_out)
        failed_ids, inv_fail, inv = verify.verify(
            spark.read.parquet(*outs),
            spark.read.parquet(*staged.passes),
            outs,
            staged.passes,
            staged.fixture_ids,
            reference,
            weights,
        )

        phase["verify"] = time.perf_counter() - t
        t = time.perf_counter()
        layer = {}
        if args.trace:
            layer, kernel_tracer = _kernel_layers(
                sample_batches, plain_wall, plain_out, weights, tracer.run_id
            )
            layer["kernel.ceiling_crops_per_s"] = info["ceiling_crops_per_s"]
            layer["kernel.timed_pass_share"] = info["kernel_share"]
            layer["sources.weights.default_weights.cold_s"] = cold_weights_s
            tot, n = tracer.totals(), len(outs)
            layer["plans.extract.extract.calls"] = tracer.calls("plans.extract.extract") / n
            layer["plans.extract.extract.self_s"] = tot["plans.extract.extract"] / n
            layer["spark.write_s"] = tot["spark.write"] / n
        phase["trace"] = time.perf_counter() - t
        t = time.perf_counter()
        _stop(spark)
        spark = None
        phase["stop"] = time.perf_counter() - t
        if args.trace:
            import eventlog  # noqa: PLC0415

            log = eventlog.parse(eventlog.find_log(os.path.join(run_dir, "eventlog")))
            per_pass = [
                eventlog.group_metrics(log, f"pass-{i:02d}", iv, k)
                for i, iv in enumerate(intervals)
            ]
            for key in per_pass[0]:
                layer[key] = statistics.median(p[key] for p in per_pass)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            for tr in (tracer, kernel_tracer):
                tr.dump(os.path.join(WORK, "traces", f"{tr.run_id}.jsonl"))

        failed = min(attempted, len(failed_ids) + inv_fail)
        # totals over the timed window, not a median of passes: a shared
        # host's speed drifts by tens of percent, and a window average
        # damps the drift
        e2e = {
            "docs_per_s": attempted / sum(walls),
            "cpu_s_per_1k_docs": sum(cpus) / attempted * 1000,
            "setup_s": setup_s,
            "worker_peak_rss_mb": rss,
        }
        info.update(
            docs_failed_frac=failed / attempted,
            failed_docs=sorted(failed_ids)[:20],
            invariants=inv,
            docs_per_s_passes=[len(ids) / t for ids, t in zip(staged.pass_ids, walls)],
            e2e=e2e,
            phase_s=phase,
        )
        metrics, units = (layer, PER_LAYER) if args.trace else (e2e, END_TO_END)
        if set(metrics) != set(units):
            raise RuntimeError(f"metric set mismatch: {sorted(set(metrics) ^ set(units))}")
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m: {"value": metrics[m], "unit": u} for m, u in units.items()},
        }
    except Exception:  # noqa: BLE001 — a run that raises counts every document failed
        traceback.print_exc()
    finally:
        signal.alarm(0)
        if spark is not None:
            _stop(spark)
        info["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        print(json.dumps({"info": info}, default=str), flush=True)
        shutil.rmtree(run_dir, ignore_errors=True)
    return result


def _kernel_layers(batches, plain_wall, plain_out, weights, run_id):
    """Traced kernel pass over the seeded sample; ``plain_*`` is the
    untraced pass over the same batches. Returns (metrics, tracer)."""
    import kernel  # noqa: PLC0415
    from trace_spans import Tracer  # noqa: PLC0415

    from ocr_spark.functions.arith import eval_verdict  # noqa: PLC0415

    def traced_pass(tracer, batches):
        kernel.install_probes(tracer)
        try:
            root = tracer.open("kernel.pass")
            wall, out = kernel.kernel_pass(batches, weights, tracer)
            tracer.close(root)
            return wall, out, eval_verdict.cache_info()  # kernel_pass cleared it first
        finally:
            tracer.restore()

    kt = Tracer(run_id.replace("-spark", "-kernel"))
    wall, out, cache = traced_pass(kt, batches)
    # tracing overhead: the sample repeated to at least OVERHEAD_PASS_S,
    # each batch run untraced and traced back to back, in alternating
    # order, so that the host's speed drift cancels
    long = batches * math.ceil(OVERHEAD_PASS_S / min(plain_wall, wall))
    plain_s = traced_s = 0.0
    for i, b in enumerate(long):
        for traced in (False, True) if i % 2 == 0 else (True, False):
            if traced:
                traced_s += traced_pass(Tracer("overhead"), [b])[0]
            else:
                plain_s += kernel.kernel_pass([b], weights)[0]
    st, c = kt.self_times(), kt.counts
    layout = sum(st.get(f"operators.layout.{f}", 0.0) for f in kernel.LAYOUT_FUNCS)
    beam_calls = kt.calls("functions.ctc.beam_decode_texts")
    ev_calls = kt.calls("functions.arith.eval_verdict")
    lookups = cache.hits + cache.misses
    states = {"right": 0, "error": 0, "problem": 0}
    if out is not None:
        for kind, text in zip(out.column("kind").to_pylist(), out.column("text").to_pylist()):
            if kind == "media":
                states[text.split(":", 1)[0]] += 1
    # the named layer functions' self times; the pass loop and the OCR
    # chain's own body (GLUE) are the untraced residual
    layer_self = sum(v for name, v in st.items() if name not in ("kernel.pass", kernel.GLUE))
    m = {
        "kernel.sample_docs": sum(b.num_rows for b in batches),
        "kernel.pass_wall_s": wall,
        "kernel.self_sum_frac": layer_self / wall,
        "trace.overhead_frac": 1 - plain_s / traced_s,
        "operators.extract_batch.extract_media_spans_batch.self_s": st.get(kernel.GLUE, 0.0),
        "sources.media.build_page.self_s": st.get("sources.media.build_page", 0.0),
        "operators.detect.detect_page.self_s": st.get("operators.detect.detect_page", 0.0),
        "operators.detect.detect_page.boxes": c["detect_page.boxes"],
        "operators.layout.self_s": layout,
        "sources.media.box_probs_batch.self_s": st.get("sources.media.box_probs_batch", 0.0),
        "sources.media.box_probs_batch.crops": c["box_probs_batch.crops"],
        "functions.ctc.greedy_decode_batch.self_s": st.get(
            "functions.ctc.greedy_decode_batch", 0.0
        ),
        "functions.ctc.beam_decode_texts.self_s": st.get("functions.ctc.beam_decode_texts", 0.0),
        "functions.ctc.beam_decode_texts.calls": beam_calls,
        "functions.ctc.beam_decode_texts.ms_per_call": (
            1e3 * st.get("functions.ctc.beam_decode_texts", 0.0) / beam_calls if beam_calls else 0.0
        ),
        "operators.postprocess.route_nodes.beam_rescue_frac": (
            c["route_nodes.rescued"] / c["route_nodes.retries"] if c["route_nodes.retries"] else 0.0
        ),
        "operators.postprocess.route_nodes.self_s": st.get("operators.postprocess.route_nodes", 0.0),
        "operators.postprocess.splice_vertical.self_s": st.get(
            "operators.postprocess.splice_vertical", 0.0
        ),
        "functions.arith.eval_verdict.self_s": st.get("functions.arith.eval_verdict", 0.0),
        "functions.arith.eval_verdict.calls": ev_calls,
        "functions.arith.eval_verdict.cache_hit_frac": (
            cache.hits / lookups if lookups else 0.0
        ),
        "operators.postprocess.state_right": states["right"],
        "operators.postprocess.state_error": states["error"],
        "operators.postprocess.state_problem": states["problem"],
        "operators.extract_batch.extract_doc_batch_arrow.self_s": st.get(
            "operators.extract_batch.extract_doc_batch_arrow", 0.0
        ),
        "operators.extract_batch.extract_doc_batch_arrow.rows_in": c[
            "extract_doc_batch_arrow.rows_in"
        ],
        "operators.extract_batch.extract_doc_batch_arrow.rows_out": c[
            "extract_doc_batch_arrow.rows_out"
        ],
        "functions.text_clean.clean_text_series.self_s": st.get(
            "functions.text_clean.clean_text_series", 0.0
        ),
        "functions.text_clean.clean_text_series.spans": c["clean_text_series.spans"],
        "operators.extract_batch.clean_text_spans.keep_frac": (
            c["clean_text_spans.kept"] / c["clean_text_spans.spans"]
            if c["clean_text_spans.spans"]
            else 0.0
        ),
    }
    if (plain_out is None) != (out is None) or (out is not None and not plain_out.equals(out)):
        raise RuntimeError("traced kernel pass output differs from the untraced one")
    return m, kt


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # one BLAS thread per process, set before numpy is first imported
    # here or in any Python worker (workers inherit this environment):
    # task parallelism comes from Spark
    os.environ.update(dict.fromkeys(BLAS_VARS, "1"))
    sys.path.insert(0, ROOT)
    try:
        import ocr_spark.plans.extract  # noqa: F401, PLC0415
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS  # noqa: PLC0415

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(DEADLINE_S)
    result = run(args)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
