"""Bootstrap for ``transformWithState``'s protobuf dependency.

PySpark 4's arbitrary-state-v2 Python client (`transformWithState` /
`transformWithStateInPandas`) talks to the JVM state server through
protobuf messages and therefore imports ``google.protobuf`` — a wheel this
environment cannot install.  ``vendor/google/protobuf`` is a minimal
clean-room pure-Python runtime (public wire format; see its package
docstring for exact scope) that satisfies that import.

``ensure_protobuf`` makes the runtime importable in BOTH interpreters that
need it:

* the driver: ``sys.path`` insertion (only when the real wheel is absent);
* Spark's Python workers: prepend the providing directory to ``PYTHONPATH``
  in ``os.environ`` (inherited by worker daemons of sessions created later)
  AND in ``spark.sparkContext.environment`` (captured per-UDF at creation
  time, so it also reaches workers of an ALREADY-RUNNING session we didn't
  create — the driver-contract case).
"""

from __future__ import annotations

import os
import sys


def vendor_dir() -> str:
    return os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "vendor")


def ensure_protobuf(spark=None) -> bool:
    """Make ``google.protobuf`` importable driver- and worker-side.
    Returns False when neither the real wheel nor the vendored shim is
    available (engine auto-selection then falls back to ``exact``)."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        v = vendor_dir()
        if os.path.isdir(os.path.join(v, "google", "protobuf")) and v not in sys.path:
            sys.path.insert(0, v)
        try:
            import google.protobuf  # noqa: F401
        except ImportError:
            return False
    import google.protobuf as _gp

    # three levels up from .../google/protobuf/__init__.py = the sys.path
    # entry providing the package.  Computed from the SUBPACKAGE file because
    # the real wheel ships `google` as a namespace package (__file__ None).
    provider = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(_gp.__file__)))
    )

    def _prepend(env: dict, key: str) -> None:
        cur = env.get(key, "")
        if provider not in cur.split(os.pathsep):
            env[key] = provider + (os.pathsep + cur if cur else "")

    _prepend(os.environ, "PYTHONPATH")
    if spark is not None:
        _prepend(spark.sparkContext.environment, "PYTHONPATH")
    return True
