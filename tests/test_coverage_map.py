"""The coverage map names real code: every `path.py:name` reference in
COVERAGE.md resolves to a top-level def, class or assignment in a file of
that name under stellar_etl_spark/. Spark-free."""

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "stellar_etl_spark"
REF = re.compile(r"`([\w/]+\.py):(\w+)`")


def _top_level_names(path: Path) -> set[str]:
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            names.update(t.id for t in node.targets if isinstance(t, ast.Name))
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.add(node.target.id)
    return names


def test_coverage_references_resolve():
    refs = set(REF.findall((REPO / "COVERAGE.md").read_text()))
    assert refs, "no `path.py:name` references found in COVERAGE.md"
    files = sorted(PKG.rglob("*.py"))
    unresolved = []
    for rel, name in sorted(refs):
        # a bare `dedup.py` matches every dedup.py in the package; any match counts
        matches = [f for f in files if f.as_posix().endswith("/" + rel)]
        if not any(name in _top_level_names(f) for f in matches):
            unresolved.append(f"{rel}:{name} (files: {[str(f.relative_to(REPO)) for f in matches]})")
    assert not unresolved, unresolved
