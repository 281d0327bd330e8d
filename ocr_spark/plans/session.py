"""SparkSession builder with the engine's tuned defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ocr_spark.blaskernel import pin_threads


def release_local_checkpoint(df) -> None:
    """Free the cached blocks behind a ``localCheckpoint``-ed DataFrame.

    localCheckpoint truncates lineage, so the cached blocks ARE the
    data: only call this once nothing will read ``df`` again (a
    superseded iteration of a loop, or an operator's internal sketch
    relation after the consuming action). Without this, iterative
    operators retain every round's blocks for the session — a real
    memory leak at 20 rounds x 100 TB labels. Best-effort: silently a
    no-op if the plan isn't the expected LogicalRDD shape."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def build_session(
    master: str | None = None,
    app_name: str = "ocr_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Session tuned for the extraction workload.

    - AQE on (runtime coalesce + skew-join splitting);
    - Arrow on, with a bounded records-per-batch so one Arrow batch of
      media-heavy rows cannot balloon a single python worker;
    - shuffle partitions default to 2x cores (short tasks smooth skew).
    """
    # one BLAS thread per python worker: task parallelism comes from
    # Spark, not from numpy. Without this, K concurrent workers each
    # spawning cpu_count() BLAS threads oversubscribe the box K-fold —
    # measured 5x slowdown at local[32] on the extraction kernels.
    pin_threads()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        local_n = cpus if "local" in master else 200
        shuffle_partitions = max(2 * local_n, 8)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    b = _tuned_conf(b, shuffle_partitions)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def _tuned_conf(b, shuffle_partitions: int):
    """The engine's workload conf, shared by both launch forms."""
    return (
        b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        # cluster deployments: pin worker-side BLAS the same way (local
        # mode inherits the driver env set above)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )


def build_submit_session(
    app_name: str = "ocr_spark",
    shuffle_partitions: int = 64,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Session for jobs launched via ``spark-submit``: master, deploy
    mode, ``--py-files`` and driver memory come from the spark-submit
    command line and MUST NOT be set here (a builder ``.master()``
    would silently override the launcher's), while the workload conf
    (AQE, Arrow batching, shuffle width, executor BLAS pinning) is the
    same tuned set as :func:`build_session`. Driver-side BLAS pinning
    cannot happen here: OpenBLAS reads its thread env once, when numpy
    loads, and the job's ``ocr_spark`` imports have loaded it by the
    time this runs. A submitted script pins it with
    ``blaskernel.pin_threads()`` before numpy loads, as
    ``jobs/extract.py`` does.

    OpenBLAS's kernel choice (``OPENBLAS_CORETYPE``, set from the CPU's
    flags by ``ocr_spark/blaskernel.py`` when the package is imported)
    reaches the Python driver only: under spark-submit the JVM and its
    Python workers start before it, and on a cluster the executors'
    CPUs need not be the driver's. There the launcher has to carry it
    (``OPENBLAS_CORETYPE=SkylakeX spark-submit ...`` in local mode,
    ``--conf spark.executorEnv.OPENBLAS_CORETYPE=SkylakeX`` for AVX-512
    executors), or the workers run whatever OpenBLAS picks from their
    CPU model id."""
    b = _tuned_conf(SparkSession.builder.appName(app_name), shuffle_partitions)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
