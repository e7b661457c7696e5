"""One kernel convention, pinned: row kernels are Arrow batch in, Arrow
batch out (``kernel.map_arrow``), and pandas appears only where a
grouped map or the streaming sessionizer is the point."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "agentic_doc_spark"

#: the only module that may call mapInPandas: the streaming sessionizer's
#: batch replay is a vectorized pandas groupby over timestamps
_MAP_IN_PANDAS_OK = {"streaming/sessionize.py"}
#: modules that may import pandas: the sessionizer and similarity's
#: grouped SemDeDup map (applyInPandas)
_PANDAS_OK = {"streaming/sessionize.py", "operators/similarity.py"}
#: modules that may import pandas for annotations only (TYPE_CHECKING)
_PANDAS_ANNOTATION_OK = {"functions/classify.py"}


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        yield rel, ast.parse(path.read_text(), filename=str(path))


def _type_checking_nodes(tree: ast.Module) -> set[int]:
    """ids of every node under an ``if TYPE_CHECKING:`` block."""
    out: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.If) and getattr(node.test, "id", "") == "TYPE_CHECKING":
            out.update(id(n) for stmt in node.body for n in ast.walk(stmt))
    return out


def _imports_pandas(node: ast.AST) -> bool:
    if isinstance(node, ast.Import):
        return any(a.name.split(".")[0] == "pandas" for a in node.names)
    if isinstance(node, ast.ImportFrom):
        return (node.module or "").split(".")[0] == "pandas"
    return False


def test_map_in_pandas_only_in_sessionize():
    bad = [
        f"{rel}:{node.lineno}"
        for rel, tree in _modules()
        if rel not in _MAP_IN_PANDAS_OK
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "mapInPandas"
    ]
    assert not bad, f"row kernels must run through kernel.map_arrow: {bad}"


def test_pandas_imported_only_by_grouped_maps():
    bad = []
    for rel, tree in _modules():
        if rel in _PANDAS_OK:
            continue
        annotation_only = (
            _type_checking_nodes(tree) if rel in _PANDAS_ANNOTATION_OK else set()
        )
        bad += [
            f"{rel}:{node.lineno}"
            for node in ast.walk(tree)
            if _imports_pandas(node) and id(node) not in annotation_only
        ]
    assert not bad, f"pandas outside grouped maps and sessionize: {bad}"
