"""The package caches intermediates one way, ``functions.util.stage``,
changes session confs temporarily one way, ``functions.util.conf_guard``,
and lands scratch data one way, ``functions.util.land_once``. An eager
``localCheckpoint`` runs only inside a ``with`` block whose exit ends
what the frame depends on: a ``conf_guard`` /
``sized_shuffle_partitions`` block (a conf value or an iterative
round's width ends) or a ``tempfile.TemporaryDirectory`` (the files it
read are deleted). Static scans (no Spark) fail on any other
``.persist(`` / ``.cache(``, ``conf.unset(``, ``localCheckpoint(``,
``import atexit``, ``tempfile.gettempdir(``, ``mkdtemp(`` or
scratch-root literal under the package or in the driver contract
module, on any ``mkdtemp(`` / ``gettempdir(`` in a test module, and on
any underscore-prefixed package name that a script imports. Neither
the package nor the driver contract module names anything in the
session catalog: a scan fails on any ``createOrReplaceTempView(``,
``createTempView(``, ``createGlobalTempView(``,
``createOrReplaceGlobalTempView(``, ``registerTempTable(`` or
``udtf.register(`` call there (SQL binds its inputs as DataFrame
arguments, ``io.sql_over_tables``)."""

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "books2scrape_etl_spark"
ALLOWED = PKG / "functions" / "util.py"


def _nodes(paths, match):
    # every node gets a ``parent`` link, so a match can test its scope
    hits = []
    for path in paths:
        tree = ast.parse(path.read_text(), str(path))
        for node in ast.walk(tree):
            for child in ast.iter_child_nodes(node):
                child.parent = node
        for node in ast.walk(tree):
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


def _call_name(node):
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _ends_dependency(item):
    # leaving the block resets a conf or an iterative round's width, or
    # deletes the files the frame was read from
    expr = item.context_expr
    name = (_call_name(expr) or "") if isinstance(expr, ast.Call) else ""
    return name in ("conf_guard", "TemporaryDirectory") or name.endswith(
        "sized_shuffle_partitions"
    )


def _unguarded_local_checkpoint(node):
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
    ):
        return False
    child = node
    while hasattr(child, "parent"):
        scope = child.parent
        if (
            isinstance(scope, ast.With)
            and child in scope.body
            and any(_ends_dependency(i) for i in scope.items)
        ):
            return False
        child = scope
    return True


def test_local_checkpoint_only_inside_guard_blocks():
    # elsewhere the frame is read more than once (stage it) or once
    # (leave it lazy): an eager pin there runs a job at build time,
    # has no cap and is never released
    hits = _nodes(sorted(PKG.rglob("*.py")), _unguarded_local_checkpoint)
    assert not hits, (
        "localCheckpoint outside a conf_guard / sized_shuffle_partitions / "
        "TemporaryDirectory block; use functions.util.stage or a lazy frame: "
        + ", ".join(hits)
    )


_CATALOG_NAMING = (
    "createOrReplaceTempView",
    "createTempView",
    "createGlobalTempView",
    "createOrReplaceGlobalTempView",
    "registerTempTable",
)


def _names_catalog_entry(node):
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
        return False
    f = node.func
    return f.attr in _CATALOG_NAMING or (
        f.attr == "register" and isinstance(f.value, ast.Attribute) and f.value.attr == "udtf"
    )


def test_no_session_catalog_names():
    # a named view or function replaces whatever a caller registered
    # under that name and outlives the query that made it
    hits = _nodes(
        [*sorted(PKG.rglob("*.py")), REPO / "__spark_entry__.py"], _names_catalog_entry
    )
    assert not hits, (
        "bind frames as spark.sql DataFrame arguments (io.sql_over_tables) and call "
        "UDTFs through DataFrame.lateralJoin: " + ", ".join(hits)
    )


def _is_temp_dir_call(node):
    return isinstance(node, ast.Call) and _call_name(node) in ("gettempdir", "mkdtemp")


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
