"""Every module-level private name in the package is referenced somewhere.

Pure ``ast`` (no lint tool, no Spark): a private name is a module-level
def, class or assignment target with a leading underscore (dunders
excluded). It counts as referenced when a name load, an attribute or an
import names it anywhere in the package, ``tests/``, ``jobs/``, ``tools/``,
``bench.py`` or ``__spark_entry__.py``. A private name nothing references
is a left-over form of code that moved on.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "metadatadocumentparser_spark"


def _sources() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for sub in ("metadatadocumentparser_spark", "tests", "jobs", "tools"):
        files += sorted((ROOT / sub).rglob("*.py"))
    return files


def private_defs(source: str) -> list[tuple[int, str]]:
    """(line, name) of the module-level private defs, classes and assignment
    targets of one module."""
    out = []
    for node in ast.parse(source).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
        else:
            continue
        out += [
            (node.lineno, n) for n in names
            if n.startswith("_") and not (n.startswith("__") and n.endswith("__"))
        ]
    return out


def references(source: str) -> set[str]:
    """Every name the module loads, reads as an attribute or imports."""
    refs = set()
    for n in ast.walk(ast.parse(source)):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            refs.add(n.id)
        elif isinstance(n, ast.Attribute):
            refs.add(n.attr)
        elif isinstance(n, ast.alias):
            refs.add(n.name.split(".")[-1])
    return refs


def test_private_name_detector():
    src = (
        "import m\n"
        "from k import _imported\n"
        "_USED = 1\n"
        "_UNUSED: int = 2\n"
        "__all__ = []\n"
        "def _f():\n    return _USED + m._attr\n"
        "def _g():\n    pass\n"
        "class _C:\n    pass\n"
        "_h = _f\n"
    )
    refs = references(src)
    assert {"_USED", "_f", "_attr", "_imported"} <= refs
    assert [d for d in private_defs(src) if d[1] not in refs] == [
        (4, "_UNUSED"), (8, "_g"), (10, "_C"), (12, "_h")
    ]


def test_no_unreferenced_private_names():
    refs = set()
    for path in _sources():
        refs |= references(path.read_text())
    found = sorted(
        f"{path.relative_to(ROOT)}:{line} {name}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for line, name in private_defs(path.read_text())
        if name not in refs
    )
    assert not found, found
