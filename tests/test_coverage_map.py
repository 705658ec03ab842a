"""The coverage map names real code: every `path.py:name` reference in
COVERAGE.md resolves to a top-level def, class or assignment in a file of
that name under stellar_etl_spark/; and every top-level def and class in
the package has a caller outside the tests. Spark-free."""

import ast
import re
from collections import Counter
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


# Package definitions that no query, export job or benchmark calls, kept on
# purpose. Every other top-level def and class needs a non-test caller.
KEEP_UNCALLED = {
    "IcebergMergeSink": "the only write path for Iceberg tables, the production table format",
    "synthetic_toid": "C18 synthetic-id tag of the toid bit layout, checked in test_toid.py",
    "toid_range_start": "first toid of a conversation (LedgerRangeInclusive analog), checked in test_toid.py",
    "toid_range_end": "exclusive toid bound of a conversation, checked in test_toid.py",
    "unpack": "the inverse that test_pack_unpack_roundtrip checks toid against",
    "read_range": "bounded time-range read whose pushed-down plan test_plans.py pins",
    "write_transcripts_bucketed": "bucketed writer whose shuffle-free read plan test_plans.py pins",
    "read_transcripts": "called from the script that bench_scaling.py generates",
    "synth_media_df": "input of test_media_features_deterministic",
}


def _references(tree: ast.AST) -> Counter:
    """Names used in ``tree`` as a Name, an Attribute or an import alias."""
    names = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names[node.id] += 1
        elif isinstance(node, ast.Attribute):
            names[node.attr] += 1
        elif isinstance(node, ast.alias):
            names[node.name.split(".")[-1]] += 1
    return names


def _uncalled() -> set[str]:
    """Top-level defs and classes of the package that no non-test module
    refers to outside their own body. ``__init__.py`` re-exports do not
    count as callers."""
    files = [*PKG.rglob("*.py"), *(REPO / "perfbench").rglob("*.py"), *REPO.glob("*.py")]
    trees = {f: ast.parse(f.read_text()) for f in files if f.name != "__init__.py"}
    used = sum((_references(t) for t in trees.values()), Counter())
    return {
        node.name
        for f, tree in trees.items()
        if f.is_relative_to(PKG)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and used[node.name] == _references(node)[node.name]
    }


def test_package_defs_have_a_caller():
    assert len(KEEP_UNCALLED) <= 9
    uncalled = _uncalled()
    assert not uncalled - KEEP_UNCALLED.keys(), (
        f"no caller outside tests: {sorted(uncalled - KEEP_UNCALLED.keys())}"
    )
    # a kept name that gained a caller (or is gone) leaves the keep-list
    assert not KEEP_UNCALLED.keys() - uncalled, sorted(KEEP_UNCALLED.keys() - uncalled)
