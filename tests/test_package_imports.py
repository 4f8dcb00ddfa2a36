"""Import-graph guards: every package module imports first in a fresh
interpreter (no import cycle depends on which module loads first), and the
extract and streaming entry points load none of the analytics modules."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "salesforce_plugin_spark"

#: modules an extract, a load or a streaming upsert never calls
ANALYTICS = (
    "operators.analytics",
    "operators.timeseries",
    "functions.graph",
    "functions.vector",
    "functions.dedup",
    "functions.sketch",
)


def _python(code: str) -> str:
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr
    return out.stdout


def _package_modules() -> list[str]:
    names = []
    for path in sorted((ROOT / PKG).rglob("*.py")):
        parts = path.relative_to(ROOT).with_suffix("").parts
        names.append(".".join(parts[:-1] if parts[-1] == "__init__" else parts))
    return names


def test_entry_points_load_no_analytics_module():
    loaded = _python(
        "import sys\n"
        f"import {PKG}.sources.io, {PKG}.operators.elt, {PKG}.streaming.upsert\n"
        "print('\\n'.join(sys.modules))"
    ).split()
    assert [m for m in ANALYTICS if f"{PKG}.{m}" in loaded] == []


def test_every_package_module_imports_first():
    modules = _package_modules()
    assert len(modules) > 40
    failed = _python(
        "import importlib, sys\n"
        f"for name in {modules!r}:\n"
        f"    for key in [k for k in sys.modules if k.startswith({PKG!r})]:\n"
        "        del sys.modules[key]\n"
        "    try:\n"
        "        importlib.import_module(name)\n"
        "    except Exception as exc:\n"
        "        print(f'{name}: {exc!r}')\n"
    )
    assert failed == ""
