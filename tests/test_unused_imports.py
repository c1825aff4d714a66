"""Every imported name in the package, jobs/, tools/ and bench.py is used.

Pure ``ast`` (no lint tool, no Spark): a module's imported names are
compared with the names it references. ``__init__`` modules are skipped
(they import to re-export), as are ``from __future__`` imports and any
import line marked ``# noqa``.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _modules() -> list[Path]:
    files = [ROOT / "bench.py"]
    for sub in ("metadatadocumentparser_spark", "jobs", "tools"):
        files += sorted((ROOT / sub).rglob("*.py"))
    return [f for f in files if f.name != "__init__.py"]


def unused_imports(source: str) -> list[tuple[int, str]]:
    """(line, name) of every imported name the module never references."""
    tree = ast.parse(source)
    lines = source.splitlines()
    imported = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        stmt = "\n".join(lines[node.lineno - 1 : node.end_lineno])
        if "# noqa" in stmt:
            continue
        for a in node.names:
            name = a.asname or a.name.split(".")[0]
            imported.setdefault(name, node.lineno)
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    # names a module exports through __all__ count as used
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used |= {
                c.value for c in ast.walk(node.value) if isinstance(c, ast.Constant)
            }
    return sorted((line, n) for n, line in imported.items() if n not in used)


def test_unused_imports_detector():
    src = (
        "from __future__ import annotations\n"
        "import os\n"
        "import os.path as osp\n"
        "from a import b, c as d  # noqa: F401\n"
        "from e import (\n    f,  # noqa\n    g,\n)\n"
        "from h import i, j\n"
        "print(j)\n"
    )
    assert unused_imports(src) == [(2, "os"), (3, "osp"), (9, "i")]


def test_no_unused_imports():
    found = {
        f"{path.relative_to(ROOT)}:{line} {name}"
        for path in _modules()
        for line, name in unused_imports(path.read_text())
    }
    assert not found, sorted(found)
