"""The package caches intermediates one way, ``functions.util.stage``,
changes session confs temporarily one way, ``functions.util.conf_guard``,
and lands scratch data one way, ``functions.util.land_once``. Static
scans (no Spark) fail on any other ``.persist(`` / ``.cache(``,
``conf.unset(``, ``import atexit``, ``tempfile.gettempdir(``,
``mkdtemp(`` or scratch-root literal under the package or in the
driver contract module, on any ``mkdtemp(`` / ``gettempdir(`` in a test
module, and on any underscore-prefixed package name that a script
imports."""

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "books2scrape_etl_spark"
ALLOWED = PKG / "functions" / "util.py"


def _nodes(paths, match):
    hits = []
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if match(node):
                hits.append(f"{path.relative_to(REPO)}:{node.lineno}")
    return hits


def _nodes_outside_util(match):
    return _nodes((p for p in sorted(PKG.rglob("*.py")) if p != ALLOWED), match)


def _calls_outside_util(match):
    return _nodes_outside_util(
        lambda n: isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and match(n.func)
    )


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


def _is_temp_dir_call(node):
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
    return name in ("gettempdir", "mkdtemp")


def _is_landing(node):
    if isinstance(node, ast.Import):
        return any(a.name == "atexit" for a in node.names)
    if isinstance(node, ast.ImportFrom):
        return node.module == "atexit"
    return _is_temp_dir_call(node) or (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "/tmp/spark_graft_scratch" in node.value
    )


def test_no_scratch_landing_outside_land_once():
    # tempfile.TemporaryDirectory stays allowed: its with-scope cleans up;
    # tests take pytest's tmp_path, which pytest removes
    hits = (
        _nodes_outside_util(_is_landing)
        + _nodes([REPO / "__spark_entry__.py"], _is_landing)
        + _nodes(sorted((REPO / "tests").glob("*.py")), _is_temp_dir_call)
    )
    assert not hits, (
        "land scratch data through functions.util.land_once (in tests, pytest's tmp_path): "
        + ", ".join(hits)
    )


def test_scripts_import_public_names_only():
    # a script that reaches a private name breaks on every refactor of it
    hits = []
    for path in sorted((REPO / "scripts").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").split(".")[0] == "books2scrape_etl_spark"
            ):
                hits += [
                    f"{path.relative_to(REPO)}:{node.lineno} {a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
    assert not hits, "import public package names in scripts: " + ", ".join(hits)
