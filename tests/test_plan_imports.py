"""Every plans module imports cleanly as the FIRST import of a fresh
interpreter. parity imports all query families at its end, so a family
imported first is half-initialized while the others load; any family
that imports another family's names at load time breaks this."""

from __future__ import annotations

import os
import pkgutil
import subprocess
import sys

import pytest

import realtime_voting_system_spark.plans as plans

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_MODULES = sorted(m.name for m in pkgutil.iter_modules(plans.__path__))


@pytest.mark.parametrize("module", _MODULES)
def test_plans_module_imports_first(module):
    name = f"realtime_voting_system_spark.plans.{module}"
    out = subprocess.run(
        [sys.executable, "-c", f"import {name}"],
        cwd=_REPO, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
