"""The benchmark's import contract: every name ``perfbench/`` imports
from the engine (``cost_of_living_data_etl_spark``) or from ``tools``
must resolve. The benchmark runs the committed tree of two commits
side by side, so a rename or move in the engine that leaves
``perfbench/`` behind would break the comparison rather than a test;
this check catches it in the engine's own suite. Parsed with ``ast``,
so the benchmark's modules are never executed here.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PERFBENCH = REPO / "perfbench"
ROOTS = ("cost_of_living_data_etl_spark", "tools")


def _engine_imports() -> list[tuple[str, str, str]]:
    out = []
    for path in sorted(PERFBENCH.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module.split(".")[0] in ROOTS
            ):
                out.extend((path.name, node.module, a.name) for a in node.names)
    return sorted(set(out))


IMPORTS = _engine_imports()


def test_scan_finds_the_dedup_chain_import():
    """Guards the parser itself: an empty scan would pass vacuously."""
    names = {(m, n) for f, m, n in IMPORTS if f == "workloads.py"}
    assert (
        "cost_of_living_data_etl_spark.operators.dedup",
        "neardup_pairs_from_sigs",
    ) in names


@pytest.mark.parametrize(
    "module,name", [(m, n) for _f, m, n in IMPORTS], ids=[
        f"{f}:{m}.{n}" for f, m, n in IMPORTS
    ]
)
def test_perfbench_import_resolves(module, name):
    mod = importlib.import_module(module)
    assert hasattr(mod, name), f"{module} has no {name}"
