"""COVERAGE.md guard: every `module.symbol` that a ✅ row cites must
resolve in pydoxtools_spark, and something that runs — a test, a query
in __spark_entry__.py or a perfbench workload — must reach it.  A row
that cites deleted or never-exercised code then fails here."""
import ast
import importlib
import re
from pathlib import Path

import pydoxtools_spark

ROOT = Path(__file__).resolve().parents[1]
PKG = Path(pydoxtools_spark.__file__).parent

# `head.symbol` with one dot: head a module path (`pipeline`,
# `sources/loaders`), symbol an identifier.  Calls (`corpus.count()`),
# chains (`df.write.json`) and paths with more dots do not match.
_CITATION = re.compile(r"`((?:\w+/)*\w+)\.(\w+)`")


def _modules() -> dict[str, list[str]]:
    """Module path -> dotted names of the package modules it names: a
    module by its path (`sources/loaders`) or its name (`loaders`), and
    a package (`plans`) by the modules under it."""
    out: dict[str, list[str]] = {}
    for f in PKG.rglob("*.py"):
        parts = f.relative_to(PKG).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        if not parts:
            continue
        dotted = ".".join(("pydoxtools_spark",) + parts)
        keys = {"/".join(parts), parts[-1]}
        keys.update("/".join(parts[:i]) for i in range(1, len(parts)))
        for key in keys:
            out.setdefault(key, []).append(dotted)
    return out


def _citations() -> list[tuple[str, str]]:
    """(head, symbol) of every code citation in a ✅ row.  A head that
    names no package module is not this package's code (a stock Spark
    call, a file such as `seg.png`); a `.py` suffix is a file name."""
    modules = _modules()
    found = []
    for line in (ROOT / "COVERAGE.md").read_text().splitlines():
        if not re.search(r"\|\s*✅\s*\|", line):
            continue
        for head, symbol in _CITATION.findall(line):
            if head in modules and symbol != "py":
                found.append((head, symbol))
    return sorted(set(found))


def _exercised() -> set[str]:
    """Names that something which runs reaches: the words of the tests
    (this one excepted), __spark_entry__.py and perfbench, plus every
    top-level package function or class those words name, and what
    those call in turn, through the package's own call graph by name."""
    files = [ROOT / "__spark_entry__.py",
             *(ROOT / "tests").rglob("*.py"),
             *(ROOT / "perfbench").rglob("*.py")]
    words = set()
    for f in files:
        if f.resolve() != Path(__file__).resolve():
            words.update(re.findall(r"\w+", f.read_text()))
    calls: dict[str, set[str]] = {}
    for f in PKG.rglob("*.py"):
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                calls.setdefault(node.name, set()).update(
                    n.id if isinstance(n, ast.Name) else n.attr
                    for n in ast.walk(node)
                    if isinstance(n, (ast.Name, ast.Attribute)))
    todo = [name for name in calls if name in words]
    reached = set(todo)
    while todo:
        for name in calls[todo.pop()]:
            if name in calls and name not in reached:
                reached.add(name)
                todo.append(name)
    return words | reached


def test_coverage_citations_resolve_and_are_exercised():
    modules = _modules()
    cites = _citations()
    assert len(cites) > 50  # the parser still reads the table
    exercised = _exercised()
    unresolved = [f"{head}.{symbol}" for head, symbol in cites
                  if not any(hasattr(importlib.import_module(m), symbol)
                             for m in modules[head])]
    assert not unresolved, f"COVERAGE cites missing code: {unresolved}"
    unexercised = [f"{head}.{symbol}" for head, symbol in cites
                   if symbol not in exercised]
    assert not unexercised, \
        f"COVERAGE cites code nothing exercises: {unexercised}"
