"""Choose OpenBLAS's compute kernel from the CPU's feature flags.

numpy's bundled OpenBLAS is a ``DYNAMIC_ARCH`` build: when it loads it
picks one of its kernel sets from the CPU's family and model id. A CPU
newer than the build is not in its table, and OpenBLAS then falls back
to the SSE3 ``Prescott`` kernels, whatever the CPU can do: OpenBLAS
0.3.23 (numpy 1.26.4) runs Prescott on a family 6, model 207 Xeon that
has AVX-512. ``OPENBLAS_CORETYPE`` overrides that choice, and OpenBLAS
reads it once, when the library loads.

:func:`select` sets it from the ``flags`` line of ``/proc/cpuinfo``
before numpy first loads in this process. The package ``__init__``
calls it, so a driver that imports ``ocr_spark`` before numpy runs the
AVX-512 (or AVX2) kernels, and so do the JVM and the local Python
workers that ``build_session`` starts: they inherit the driver's
environment. A value already set wins, and once numpy is loaded the
environment is left alone, so a process never runs a different kernel
from the one it hands its children.

Under ``spark-submit`` the JVM and its workers start before the Python
driver, and on a cluster the executors' CPUs need not be the driver's:
there the launcher has to carry ``OPENBLAS_CORETYPE`` (its own
environment in local mode, ``spark.executorEnv.OPENBLAS_CORETYPE`` for
executors).

:func:`pin_threads` is the other half of a driver's BLAS set-up: one
thread per process, since Spark supplies the parallelism.
"""

from __future__ import annotations

import ctypes
import os
import sys

_AVX512 = frozenset(("avx512f", "avx512vl", "avx512bw", "avx512dq", "avx512cd"))
_AVX2 = frozenset(("avx2", "fma"))
THREAD_VARS = (
    "OMP_NUM_THREADS",
    "OPENBLAS_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
    "VECLIB_MAXIMUM_THREADS",
)


def core_for(flags) -> str | None:
    """The OpenBLAS core for a CPU with these feature flags: the
    AVX-512 kernels (``SkylakeX``) need F/VL/BW/DQ/CD, the AVX2 ones
    (``Haswell``) AVX2 and FMA; otherwise None (OpenBLAS's own choice)."""
    flags = set(flags)
    if _AVX512 <= flags:
        return "SkylakeX"
    if _AVX2 <= flags:
        return "Haswell"
    return None


def cpu_flags(cpuinfo: str = "/proc/cpuinfo") -> list[str] | None:
    """The first ``flags`` line of ``cpuinfo``, or None if there is none."""
    try:
        with open(cpuinfo) as f:
            for line in f:
                if line.startswith("flags"):
                    return line.split(":", 1)[1].split()
    except OSError:
        pass
    return None


def select() -> None:
    """Set ``OPENBLAS_CORETYPE`` from the CPU's flags, unless numpy is
    already loaded or the variable is already set."""
    if "numpy" in sys.modules or "OPENBLAS_CORETYPE" in os.environ:
        return
    core = core_for(cpu_flags() or ())
    if core is not None:
        os.environ["OPENBLAS_CORETYPE"] = core


def pin_threads() -> None:
    """One BLAS thread per process, unless a value is already set: task
    parallelism comes from Spark, not from numpy. OpenBLAS reads its
    thread count once, when numpy loads, so a driver calls this before
    its first numpy import; later, it still reaches the local JVM and
    Python workers a session starts, which inherit the environment."""
    for var in THREAD_VARS:
        os.environ.setdefault(var, "1")


def corename() -> str | None:
    """The kernel set the OpenBLAS behind numpy runs (e.g. ``SkylakeX``),
    or None when numpy is not linked to an OpenBLAS that can say.
    Imports numpy."""
    import numpy  # noqa: F401  (loads the library the maps below name)

    try:
        with open("/proc/self/maps") as f:
            libs = {
                line.split()[-1]
                for line in f
                if os.path.basename(line.split()[-1]).startswith("libopenblas")
            }
    except OSError:
        return None
    for path in sorted(libs):
        lib = ctypes.CDLL(path)
        for sym in ("openblas_get_corename64_", "openblas_get_corename"):
            fn = getattr(lib, sym, None)
            if fn is not None:
                fn.restype = ctypes.c_char_p
                return fn().decode()
    return None
