"""Report the OpenBLAS kernel core numpy runs on.

Used by ``tools/profile_neural.py`` and the session tests to check that
the ``OPENBLAS_CORETYPE`` pin set by ``ner_pytorch_spark.session`` took
effect in the process that calls it.
"""

from __future__ import annotations

import ctypes
import glob
import os


def openblas_core() -> str | None:
    """The kernel core numpy's OpenBLAS runs on (e.g. ``"SkylakeX"``), or
    None when no OpenBLAS core-name symbol can be resolved."""
    import numpy as np

    libdir = os.path.join(os.path.dirname(np.__file__), os.pardir,
                          "numpy.libs")
    for path in glob.glob(os.path.join(libdir, "libopenblas*")):
        lib = ctypes.CDLL(path)
        for sym in ("openblas_get_corename64_", "openblas_get_corename"):
            fn = getattr(lib, sym, None)
            if fn is not None:
                fn.argtypes, fn.restype = [], ctypes.c_char_p
                return fn().decode()
    return None
