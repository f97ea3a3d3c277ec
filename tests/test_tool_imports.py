"""Every name that the scripts outside the package import from it exists.

The tools, the benchmark, ``bench.py``, ``job.py`` and ``__spark_entry__.py``
import most package names inside functions, so a deleted or renamed name
only fails when that code path runs, possibly long after the change. This
test reads their imports with ``ast`` (nothing is executed) and checks each
``from ch_pdf_parse_spark... import X`` against the package.
"""

import ast
import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ch_pdf_parse_spark"


def _scripts() -> list[str]:
    files = [os.path.join(ROOT, f)
             for f in ("bench.py", "job.py", "__spark_entry__.py")]
    for d in ("tools", "perfbench"):
        files += sorted(glob.glob(os.path.join(ROOT, d, "*.py")))
    return files


def _package_imports(path: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for each package import in ``path``; ``name``
    is None for a plain ``import module``."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and \
                node.module and node.module.split(".")[0] == PKG:
            out += [(node.lineno, node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [(node.lineno, a.name, None) for a in node.names
                    if a.name.split(".")[0] == PKG]
    return out


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:  # `from package import submodule`
        importlib.import_module(f"{module}.{name}")
        return True
    except ImportError:
        return False


@pytest.mark.parametrize("path", _scripts(),
                         ids=lambda p: os.path.relpath(p, ROOT))
def test_package_names_imported_by_scripts_exist(path):
    missing = [f"{os.path.relpath(path, ROOT)}:{line}: {module}"
               + (f".{name}" if name else "")
               for line, module, name in _package_imports(path)
               if not _resolves(module, name)]
    assert not missing, missing


def test_scripts_import_the_package():
    # the scan is not vacuous: the scripts do import package names
    assert sum(len(_package_imports(p)) for p in _scripts()) > 20
