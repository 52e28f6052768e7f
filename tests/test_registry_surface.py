"""Pin the registry surface the grading driver sees, byte for byte.

"Same behaviour" for a refactor means the driver sees the same keys in
the same order with the same oracle SQL. ``test_oracle.py`` checks that
``_SWEEP_PRIORITY`` covers the registry as a set; this test also pins
the order of ``queries()``, every ``(key, SQL)`` pair of ``oracle_sql()``
and the ``_SWEEP_PRIORITY`` list, hashed into one constant.

If a change means to alter the surface (a new key, an edited oracle, a
sweep rotation), re-pin with:
    python -c "from tests.test_registry_surface import surface_digest; print(surface_digest())"
"""

from __future__ import annotations

import hashlib
import json

SURFACE_SHA256 = "b3bdd7f2305b0a892a2af0adb4669535bef9d69f64bd4fe1526c55c909f26a04"


def surface_digest() -> str:
    import __spark_entry__ as e
    from trireme_spark.queries import _SWEEP_PRIORITY

    surface = [
        list(e.queries()),
        list(e.oracle_sql().items()),
        list(_SWEEP_PRIORITY),
    ]
    blob = json.dumps(surface, separators=(",", ":"), ensure_ascii=False)
    return hashlib.sha256(blob.encode()).hexdigest()


def test_registry_surface_is_pinned():
    assert surface_digest() == SURFACE_SHA256, (
        "the driver-visible registry surface changed: key order, oracle "
        "SQL or _SWEEP_PRIORITY. Re-pin SURFACE_SHA256 only if the change "
        "is intended (see the module docstring)."
    )
