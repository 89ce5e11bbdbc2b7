"""The tools under ``tools/``: importing any of them has no side effect."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
TOOLS = sorted(p.stem for p in (ROOT / "tools").glob("*.py") if not p.stem.startswith("_"))

# imports the tool, then fails unless that left no SparkContext behind
_IMPORT_CHECK = (
    "import importlib, sys\n"
    "importlib.import_module('tools.' + sys.argv[1])\n"
    "from pyspark import SparkContext\n"
    "sys.exit(3 if SparkContext._active_spark_context is not None else 0)\n"
)


@pytest.mark.parametrize("tool", TOOLS)
def test_tool_import_has_no_side_effects(tool):
    """Tests and other tools import these modules, so importing one
    must not start Spark, run its workload or read files that only
    exist on some machines: all of that lives in ``main()``."""
    p = subprocess.run(
        [sys.executable, "-c", _IMPORT_CHECK, tool],
        cwd=ROOT,
        env={**os.environ, "PYTHONPATH": str(ROOT)},
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert p.returncode == 0, (p.returncode, p.stdout[-2000:], p.stderr[-2000:])
