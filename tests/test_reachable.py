"""Every top-level def under ``pdf_parser_spark/`` is reached from
something that runs: the CLI, the driver registry, the package's own
module-level statements, ``bench.py``, ``__spark_entry__.py``, ``tools/``
or ``perfbench/``.  Code only ``tests/`` call fails here.  ``oracle/`` is
exempt, because it is the reference the tests compare against; so are
dunder names such as ``__version__``.

Pure ``ast``, no Spark.  Names resolve by identifier, so a def counts as
reached when any reached code names it (over-approximate, never a false
alarm); root files also reach a def through a string (perfbench wraps
entry points by name)."""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "pdf_parser_spark"
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node, strings=False):
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif strings and isinstance(n, ast.Constant) and isinstance(
            n.value, str
        ) and n.value.isidentifier():
            yield n.value


def _targets(stmt):
    """The names a module-level def or plain-name assignment binds."""
    if isinstance(stmt, DEFS):
        return [stmt.name]
    if not isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        return []
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
    if all(isinstance(t, ast.Name) for t in targets):
        return [t.id for t in targets]
    return []


def unreached():
    defs, roots = {}, set()  # name -> [(where, node)]
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(REPO)
        if "oracle" in rel.parts:
            continue
        for stmt in ast.parse(path.read_text()).body:
            names = _targets(stmt)
            for name in names:
                defs.setdefault(name, []).append((f"{rel}:{name}", stmt))
            if (rel.name == "driver_queries.py" and isinstance(stmt, DEFS)) or (
                rel.name == "__main__.py" and names == ["main"]
            ):
                roots.update(names)
            elif not names and not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                roots.update(_names(stmt))
    for path in [REPO / "bench.py", REPO / "__spark_entry__.py",
                 *(REPO / "tools").glob("*.py"),
                 *(REPO / "perfbench").glob("*.py")]:
        roots.update(_names(ast.parse(path.read_text()), strings=True))
    seen, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, stmt in defs.get(name, ()):
            todo.extend(_names(stmt))
    return sorted(
        w for n, ds in defs.items()
        if n not in seen and not n.startswith("__") for w, _ in ds
    )


def test_every_package_def_is_reached():
    missing = unreached()
    assert not missing, "reached only from tests/: " + ", ".join(missing)
