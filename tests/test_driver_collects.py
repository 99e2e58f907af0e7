"""Driver memory does not grow with the corpus: every call that brings
rows back to the driver (``collect``, ``toPandas``, ``toLocalIterator``,
``take``, ``tail``) under ``pdf_parser_spark/`` is one of a fixed list,
each bounded by config or by the catalog, as its docstring states.
``driver_queries.py`` (the driver contract's result frames), ``oracle/``
and ``fixtures/`` are exempt.  A new collect site fails here until its
bound is argued and it is added below.

Pure ``ast``, no Spark."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "pdf_parser_spark"
COLLECTS = {"collect", "toPandas", "toLocalIterator", "take", "tail"}
EXEMPT = ("driver_queries.py", "oracle", "fixtures")

#: (module, enclosing top-level def): the bound its docstring states
ALLOWED = {
    # one row per done bucket: at most n_buckets
    ("streaming/lineage.py", "completed_buckets"),
    # at most MAX_LITERAL_MEGA_IDS + 1 ids with salt_buckets - 1 cuts each
    ("operators/pages.py", "span_sequence_skew_df"),
    # SHOW TABLES: one row per table of the namespace
    ("sources/tables.py", "drop_tree"),
}


def collect_sites():
    sites = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG)
        if rel.parts[0] in EXEMPT:
            continue
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in COLLECTS):
                    name = getattr(top, "name", f"<line {top.lineno}>")
                    sites.append((rel.as_posix(), name))
    return sites


def test_driver_collects_are_the_bounded_three():
    sites = collect_sites()
    assert sorted(sites) == sorted(ALLOWED), sites


def test_each_collect_site_states_its_bound():
    for rel, name in ALLOWED:
        tree = ast.parse((PKG / rel).read_text())
        (fn,) = [n for n in tree.body
                 if isinstance(n, ast.FunctionDef) and n.name == name]
        assert "Driver bound:" in ast.get_docstring(fn), (rel, name)
