"""The package caches intermediates one way, ``functions.util.stage``,
and changes session confs temporarily one way,
``functions.util.conf_guard``. Static scans (no Spark) fail on any
other ``.persist(`` / ``.cache(`` or ``conf.unset(`` call under the
package."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "books2scrape_etl_spark"
ALLOWED = PKG / "functions" / "util.py"


def _calls_outside_util(match):
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        if path == ALLOWED:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and match(node.func)
            ):
                hits.append(f"{path.relative_to(PKG.parent)}:{node.lineno}")
    return hits


def test_no_persist_or_cache_outside_stage():
    hits = _calls_outside_util(lambda f: f.attr in ("persist", "cache"))
    assert not hits, "cache through functions.util.stage instead: " + ", ".join(hits)


def test_no_conf_unset_outside_conf_guard():
    # restoring a temporary conf is conf_guard's job; permanent pins
    # (session timeZone, nanosAsLong) only ever set
    hits = _calls_outside_util(
        lambda f: f.attr == "unset"
        and isinstance(f.value, ast.Attribute)
        and f.value.attr == "conf"
    )
    assert not hits, "change confs through functions.util.conf_guard: " + ", ".join(hits)
