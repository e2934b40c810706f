"""No module in the package, the tests or the scripts imports a name it
never reads. Package ``__init__.py`` files re-export on purpose and are
skipped, as is any import statement carrying a ``# noqa`` comment (an
availability probe, a deliberate re-export)."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED = ("osm_pg_etl_spark", "tests", "scripts")


def _unused_imports(path):
    src = path.read_text()
    lines = src.splitlines()
    tree = ast.parse(src, filename=str(path))
    read = {n.id for n in ast.walk(tree)
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store)}
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if any("# noqa" in line
               for line in lines[node.lineno - 1:node.end_lineno]):
            continue
        for alias in node.names:
            name = alias.asname or alias.name.split(".")[0]
            if name != "*" and name not in read:
                found.append(f"{path.relative_to(ROOT)}:{node.lineno}: "
                             f"{name}")
    return found


def test_no_unused_imports():
    files = sorted(p for d in SCANNED for p in (ROOT / d).rglob("*.py")
                   if p.name != "__init__.py")
    assert len(files) > 50
    unused = [u for p in files for u in _unused_imports(p)]
    assert not unused, "imported and never read:\n" + "\n".join(unused)
