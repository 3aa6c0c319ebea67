"""Every module-level function and class in the package is reached by a
program: the package itself, main.py, bench.py, __spark_entry__.py,
tools/ or perfbench/. Tests do not count, so code that only a test calls
fails here and is deleted rather than kept as a second definition.

A name counts as reached when some program file references it as a
`Name`, an `Attribute` or an import alias, outside its own body (a
recursive call does not reach itself). Pure AST; no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "rsmetacheck_spark"

# Public entry points that no program calls, each kept on purpose.
ALLOWED = {
    # the audit for an empty dd03 output, named in dd03's docstring
    ("queries", "dd03_drop_stats"),
    # the reference-corpus summary documented in MIGRATION.md; it needs
    # the reference data, so no program here can run it
    ("somef_parity", "real_summary"),
}


def _program_files() -> list[Path]:
    files = list(PACKAGE.rglob("*.py"))
    files += [ROOT / n for n in ("main.py", "bench.py", "__spark_entry__.py")]
    files += list((ROOT / "tools").rglob("*.py"))
    files += [p for p in (ROOT / "perfbench").rglob("*.py")
              if "tests" not in p.relative_to(ROOT / "perfbench").parts]
    return [p for p in files if p.is_file()]


def _references(tree: ast.Module) -> list[tuple[str | None, str]]:
    """(enclosing top-level def or None, referenced name) pairs."""
    out = []
    for top in tree.body:
        owner = top.name if isinstance(
            top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) else None
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.append((owner, node.id))
            elif isinstance(node, ast.Attribute):
                out.append((owner, node.attr))
            elif isinstance(node, ast.alias):
                out.append((owner, node.name.rsplit(".", 1)[-1]))
    return out


def _uncalled() -> list[str]:
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _program_files()}
    refs = {p: _references(t) for p, t in trees.items()}
    defined, missing = set(), []
    for path in sorted(PACKAGE.rglob("*.py")):
        for top in trees[path].body:
            if not isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            defined.add((path.stem, top.name))
            if (path.stem, top.name) in ALLOWED:
                continue
            reached = any(
                name == top.name and not (p == path and owner == top.name)
                for p, pairs in refs.items() for owner, name in pairs
            )
            if not reached:
                missing.append(f"{path.relative_to(ROOT)}:{top.lineno} {top.name}")
    # a stale allowlist entry would hide nothing and mislead the reader
    missing += [f"allowlisted but not defined: {m}.{n}" for m, n in sorted(ALLOWED - defined)]
    return missing


def test_every_library_def_is_reached_by_a_program():
    missing = _uncalled()
    assert not missing, "defined but reached by no program:\n" + "\n".join(missing)
