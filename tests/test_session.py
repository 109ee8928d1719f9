"""Session factory: the OpenBLAS core pin and its reach into the Python
workers of a ``local[N]`` session."""

import os

import pytest

from ner_pytorch_spark.session import pin_blas

# OpenBLAS core names without AVX2 kernels
PRE_AVX2_CORES = {
    "unknown", "katmai", "coppermine", "northwood", "prescott", "banias",
    "atom", "core2", "penryn", "dunnington", "nehalem", "athlon", "opteron",
    "opteron_sse3", "barcelona", "nano", "sandybridge", "bobcat",
    "bulldozer", "piledriver", "steamroller"}


def _numpy_cpu_features() -> dict:
    from numpy.core._multiarray_umath import __cpu_features__
    return __cpu_features__


def _expected_coretype() -> str | None:
    f = _numpy_cpu_features()
    if f.get("AVX512F"):
        return "SkylakeX"
    if f.get("AVX2") and f.get("FMA3"):
        return "Haswell"
    return None


def test_preset_coretype_wins(monkeypatch):
    monkeypatch.setenv("OPENBLAS_CORETYPE", "Prescott")
    pin_blas()
    assert os.environ["OPENBLAS_CORETYPE"] == "Prescott"


@pytest.mark.skipif(not os.path.exists("/proc/cpuinfo"),
                    reason="CPU flags are read from /proc/cpuinfo")
def test_coretype_matches_numpy_cpu_features(monkeypatch):
    monkeypatch.delenv("OPENBLAS_CORETYPE", raising=False)
    pin_blas()
    assert os.environ.get("OPENBLAS_CORETYPE") == _expected_coretype()


def test_workers_inherit_coretype(spark):
    def probe(batches):
        import pandas as pd

        from tools.blas_core import openblas_core
        for _ in batches:
            yield pd.DataFrame({
                "coretype": [os.environ.get("OPENBLAS_CORETYPE")],
                "core": [openblas_core()]})

    row = spark.range(1, numPartitions=1).mapInPandas(
        probe, "coretype string, core string").collect()[0]
    assert row.coretype == os.environ.get("OPENBLAS_CORETYPE")
    # the core check needs the core-name symbol, and the pin's own value
    # (a preset OPENBLAS_CORETYPE may name any core)
    if (row.core is not None and _numpy_cpu_features().get("AVX2")
            and row.coretype == _expected_coretype()):
        assert row.core.lower() not in PRE_AVX2_CORES, row.core
