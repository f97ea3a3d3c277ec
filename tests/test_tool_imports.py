"""Every name imported from the package exists.

The tools, the benchmark, ``bench.py``, ``job.py`` and ``__spark_entry__.py``
import most package names inside functions, and so do the package's own
modules (``from ..x import y``), so a deleted or renamed name only fails
when that code path runs, possibly long after the change. This test reads
the imports with ``ast`` (nothing is executed) and checks each
``from ch_pdf_parse_spark... import X``, relative ones resolved against the
importing module's package, against the package.
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


def _package_files() -> list[str]:
    return sorted(glob.glob(os.path.join(ROOT, PKG, "**", "*.py"),
                            recursive=True))


def _absolute(path: str, node: ast.ImportFrom) -> str | None:
    """The absolute module an ``ImportFrom`` in ``path`` names."""
    if not node.level:
        return node.module
    parts = os.path.relpath(os.path.dirname(path), ROOT).split(os.sep)
    parts = parts[:len(parts) - node.level + 1]
    return ".".join(parts + ([node.module] if node.module else []))


def _package_imports(path: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for each package import in ``path``; ``name``
    is None for a plain ``import module``."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            module = _absolute(path, node)
            if module and module.split(".")[0] == PKG:
                out += [(node.lineno, module, a.name) for a in node.names]
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


def test_package_internal_imports_exist():
    missing = [f"{os.path.relpath(path, ROOT)}:{line}: {module}"
               + (f".{name}" if name else "")
               for path in _package_files()
               for line, module, name in _package_imports(path)
               if not _resolves(module, name)]
    assert not missing, missing


def test_scripts_import_the_package():
    # the scan is not vacuous: the scripts do import package names
    assert sum(len(_package_imports(p)) for p in _scripts()) > 20
    # nor for the package's own modules, most of whose imports are relative
    assert sum(len(_package_imports(p)) for p in _package_files()) > 100
