"""Layout guards (Spark-free, AST/grep only).

The BM25 saturation formula lives in one kernel, ``index/codec.py:bm25``;
the brute-force oracle ``query/bm25.py`` is an independent reference and
keeps its own copy. Index versions are opened through ``index/reader.py``,
so no module reaches into the engine for the reader's old private helpers.
"""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "es_indexer_spark"
READER_HELPERS = {"_dict_df", "_dict_lookup", "_tomb_mode", "_postings_df", "_load_blocks"}


def _modules():
    return sorted(PKG.rglob("*.py"))


def _is_k1_plus_1(node: ast.AST) -> bool:
    """``k1 + 1`` / ``k1 + 1.0`` — the saturation numerator's factor."""
    return (
        isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add)
        and isinstance(node.left, ast.Name) and node.left.id == "k1"
        and isinstance(node.right, ast.Constant) and node.right.value == 1
    )


def test_saturation_formula_only_in_kernel_and_oracle():
    hits = {}
    for path in _modules():
        for node in ast.walk(ast.parse(path.read_text())):
            if _is_k1_plus_1(node):
                hits.setdefault(path.relative_to(PKG).as_posix(), []).append(node.lineno)
    assert set(hits) <= {"index/codec.py", "query/bm25.py"}, hits
    codec = PKG / "index" / "codec.py"
    tree = ast.parse(codec.read_text())
    (kernel,) = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "bm25"]
    assert all(kernel.lineno <= i <= kernel.end_lineno for i in hits["index/codec.py"])


def test_no_private_reader_imports_from_engine():
    bad = []
    for path in _modules():
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").endswith("query.engine"):
                bad += [(path.name, node.lineno, a.name) for a in node.names
                        if a.name in READER_HELPERS]
            elif isinstance(node, ast.Attribute) and node.attr in READER_HELPERS:
                bad.append((path.name, node.lineno, node.attr))
    assert not bad, bad
    engine = ast.parse((PKG / "query" / "engine.py").read_text())
    defined = {n.name for n in engine.body if isinstance(n, ast.FunctionDef)}
    assert not defined & READER_HELPERS
