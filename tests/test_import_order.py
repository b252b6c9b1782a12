"""Circular-import guard: every package module must import cleanly as
the FIRST import of a fresh interpreter.

The operators↔oracles topology is deliberately cyclic at module scope
(operators import shared constants from oracles — their canonical
home — while oracle builders import operator modules for plan
constants). That cycle is safe only under an ordering discipline:
constants used by operators must be defined in oracles.py BEFORE the
first oracle builder that imports an operator module back. Two past
regressions (NEG_K, PCA_ROUNDS) broke direct `import textops` /
`import similarity` while every aggregate entrypoint still worked —
exactly the failure mode only a module-first import catches. The
module list is generated from the package, so a new module is guarded
from the start.
"""

from __future__ import annotations

import pkgutil
import subprocess
import sys

import pytest

import cs422pp_mapreduce_spark

MODULES = sorted(
    m.name
    for m in pkgutil.walk_packages(
        cs422pp_mapreduce_spark.__path__, "cs422pp_mapreduce_spark."
    )
)


@pytest.mark.parametrize("mod", MODULES)
def test_module_imports_first(mod):
    r = subprocess.run(
        [sys.executable, "-c", f"import {mod}"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert r.returncode == 0, f"{mod} failed as first import:\n{r.stderr[-2000:]}"
