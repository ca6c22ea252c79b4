"""The package caches intermediates one way: ``functions.util.stage``.
A static scan (no Spark) fails on any other ``.persist(`` / ``.cache(``
call under the package."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "books2scrape_etl_spark"
ALLOWED = PKG / "functions" / "util.py"


def test_no_persist_or_cache_outside_stage():
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        if path == ALLOWED:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "cache")
            ):
                hits.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    assert not hits, "cache through functions.util.stage instead: " + ", ".join(hits)
