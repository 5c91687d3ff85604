"""A structural gate on ``datasketches_cpp_spark/functions/``: no module
goes back to a pandas UDF or to PySpark's pandas serializer. Every per-row
pass over a sketch table runs through ``_twostage.map_rows`` and every
two-stage aggregate through ``_twostage.fold_partials`` and
``_twostage.merge_groups``, which read Arrow columns with
``_twostage.column_values`` and write them with ``_twostage.to_arrow``;
``_twostage`` itself does not import pandas."""

import ast
import pathlib

FUNCTIONS = pathlib.Path(__file__).resolve().parent.parent / "datasketches_cpp_spark" / "functions"
BANNED = {
    "applyInPandas", "mapInPandas", "pandas_udf",
    "GroupPandasUDFSerializer", "arrow_to_pandas", "_create_array",
}


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
    uses = {
        stem: sorted(set(_names(tree)) & BANNED) for stem, tree in _modules().items()
    }
    assert {stem: names for stem, names in uses.items() if names} == {}


def test_twostage_imports_no_pandas():
    tree = _modules()["_twostage"]
    imported = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            imported |= {a.name.split(".")[0] for a in n.names}
        elif isinstance(n, ast.ImportFrom):
            imported.add((n.module or "").split(".")[0])
    assert "pandas" not in imported and "pyarrow" in imported
