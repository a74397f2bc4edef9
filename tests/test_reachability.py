"""Every top-level function and class of the library has a caller.

A top-level ``def`` or ``class`` under ``rdflib_r2r_spark/`` must be named
somewhere in the program other than by its own definition: in another
program file, or elsewhere in its own module.  Program files are the
repo's ``.py`` files outside ``tests`` directories (``perfbench/``,
``scripts/``, ``bench.py`` and ``__spark_entry__.py`` included).  A name
counts when it appears as an identifier, an attribute, an imported name or
an identifier-shaped string constant; docstrings and comments that merely
mention it do not.

Oracles and conformance helpers that only tests call are pinned below.
Code that nothing reaches fails this test: delete it, or give it a caller.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "rdflib_r2r_spark"

# modules that exist to check the program: independent Python/DuckDB
# oracles, the R2RML conformance harness and the graph comparison
ORACLE_MODULES = {"reference_impl", "oracle", "rdb2rdf", "isomorphism"}
# (module, name) that only tests call, with why each stays
TEST_ONLY = {
    # renders the engine's term encoding as N-Triples for test messages
    ("terms", "term_to_nt"),
    # the bucketed triple table's subject lookup (the read side of
    # storage.bucket_of's layout); the pipeline only writes the table
    ("storage", "read_bucket"),
}


def _program_files() -> list[Path]:
    return [
        p for p in ROOT.rglob("*.py")
        if not any(part == "tests" or part.startswith(".") or part == "__pycache__"
                   for part in p.relative_to(ROOT).parts[:-1])
    ]


def _names(nodes) -> set[str]:
    out: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.add(node.name.rsplit(".", 1)[-1])
            elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
                  and node.value.isidentifier()):
                out.add(node.value)
    return out


def _module_name(path: Path) -> str:
    return path.relative_to(PACKAGE).with_suffix("").as_posix().replace("/", ".")


def unreached() -> list[str]:
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _program_files()}
    names = {p: _names(t.body) for p, t in trees.items()}
    out = []
    for path, tree in trees.items():
        if PACKAGE not in path.parents:
            continue
        module = _module_name(path)
        if module in ORACLE_MODULES:
            continue
        elsewhere = set().union(*(ns for p, ns in names.items() if p != path))
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if (module, node.name) in TEST_ONLY or node.name in elsewhere:
                continue
            if node.name not in _names(n for n in tree.body if n is not node):
                out.append(f"{module}.{node.name}")
    return sorted(out)


def test_every_library_definition_has_a_caller():
    assert unreached() == []


def test_allowlist_names_live_definitions():
    # a pinned name that was deleted or renamed must leave the allowlist
    modules = {_module_name(p) for p in PACKAGE.rglob("*.py")}
    assert ORACLE_MODULES <= modules
    for module, name in TEST_ONLY:
        tree = ast.parse((PACKAGE / f"{module}.py").read_text())
        assert any(getattr(n, "name", None) == name for n in tree.body), (module, name)
