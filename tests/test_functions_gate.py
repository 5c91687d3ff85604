"""A structural gate on ``datasketches_cpp_spark/functions/``: no module
goes back to a pandas UDF. Every per-row pass over a sketch table runs
through ``_twostage.map_rows`` and every two-stage aggregate through
``_twostage.fold_partials`` and ``_twostage.merge_groups``, whose finals
take and return Arrow rows. PySpark's pandas serializer is reached only
through ``_twostage._serializer``, which only ``fold_partials`` (to read
item columns by the ``_items`` rule) and ``map_rows`` call."""

import ast
import pathlib

FUNCTIONS = pathlib.Path(__file__).resolve().parent.parent / "datasketches_cpp_spark" / "functions"
BANNED = {"applyInPandas", "mapInPandas", "pandas_udf", "GroupPandasUDFSerializer"}


def _names(node):
    """Every identifier ``node`` uses: names, attributes and imports."""
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            yield n.id
        elif isinstance(n, ast.Attribute):
            yield n.attr
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1]


def _modules():
    paths = sorted(FUNCTIONS.glob("*.py"))
    assert len(paths) > 20
    return {p.stem: ast.parse(p.read_text()) for p in paths}


def test_no_pandas_udf_in_functions():
    uses = {}
    for stem, tree in _modules().items():
        for fn in [tree] + [n for n in tree.body if isinstance(n, ast.FunctionDef)]:
            if fn is tree:  # module level, outside any top-level function
                body = [n for n in tree.body if not isinstance(n, ast.FunctionDef)]
                names = {x for n in body for x in _names(n)}
                where = stem
            else:
                names = set(_names(fn))
                where = f"{stem}.{fn.name}"
            for name in names & BANNED:
                uses.setdefault(name, []).append(where)
    assert uses == {"GroupPandasUDFSerializer": ["_twostage._serializer"]}


def test_pandas_serializer_only_reads_items_and_maps_rows():
    callers = []
    for stem, tree in _modules().items():
        for fn in (n for n in tree.body if isinstance(n, ast.FunctionDef)):
            if "_serializer" in _names(fn) and fn.name != "_serializer":
                callers.append(f"{stem}.{fn.name}")
    assert sorted(callers) == ["_twostage.fold_partials", "_twostage.map_rows"]
