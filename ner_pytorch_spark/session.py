"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]`` (one JVM); the same settings are
what we would ship to a multi-executor cluster via ``spark-submit
--py-files`` — AQE for runtime re-planning (skew-join splitting, dynamic
partition coalescing), Arrow for the pandas-UDF inference stage, and a
shuffle-partition count sized to the core count rather than the 200
default.

This module imports neither pyspark nor numpy at load time, so a script
can call :func:`pin_blas` before numpy (and with it OpenBLAS) loads.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

# OpenBLAS kernel family per CPU feature set, best first. numpy's bundled
# OpenBLAS falls back to its generic SSE3 ("Prescott") kernels on CPUs its
# model table does not know, at about a fifth of the sgemm rate the
# AVX2/AVX-512 kernels reach; OPENBLAS_CORETYPE names the family instead.
_CORETYPES = ((("avx512f",), "SkylakeX"), (("avx2", "fma"), "Haswell"))


def _openblas_coretype() -> str | None:
    """The OpenBLAS core this CPU's feature flags support, or None."""
    try:
        with open("/proc/cpuinfo") as fh:
            flags = next((set(line.split(":", 1)[1].split()) for line in fh
                          if line.startswith("flags")), set())
    except OSError:
        return None
    return next((core for need, core in _CORETYPES
                 if flags.issuperset(need)), None)


def pin_blas() -> None:
    """Per-process BLAS settings, as ``setdefault``s on the environment.

    Takes effect in processes that load OpenBLAS after the call: the
    Python workers of a ``local[N]`` session started afterwards, or this
    process if numpy is not imported yet.
    """
    # One BLAS thread per python worker: N workers × M BLAS threads
    # oversubscribes the box and DESTROYS scaling of the UDF stage.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS"):
        os.environ.setdefault(var, "1")
    core = _openblas_coretype()
    if core is not None:
        os.environ.setdefault("OPENBLAS_CORETYPE", core)


def get_spark(
    app_name: str = "ner_pytorch_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver convention) or
    all local cores. ``shuffle_partitions`` defaults to ``cores`` —
    at cluster scale this would instead be sized from input bytes /
    target partition size; AQE coalesces the excess either way.
    """
    from pyspark.sql import SparkSession

    # before the JVM starts, so the Python workers inherit it
    pin_blas()

    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)

    # Scan split size (guide §6): scale-dependent, so env-parameterised.
    # The local default (16m) exists because driver testdata ships as
    # ONE file per table with few row groups — a 128m split reads the
    # whole 126 MB lineitem serially in one task. On a real cluster with
    # many-file inputs set SPARK_GRAFT_MAX_PARTITION_BYTES to 128m-1g
    # (large sequential scans want FEWER, larger splits; §2.2/§6).
    max_split = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m")

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.maxPartitionBytes", max_split)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Inference-stage batch sizing: bounds peak memory of the
        # pandas-UDF tagger (padded [B, L] tensors) independently of
        # partition row counts (SURVEY §4: explicit partition sizing
        # for the inference stage).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
