"""Packing-suite tests, parametrized over every suite in
``suites.SUITES``: each maps only slots its width declares, packs only
oracle-paired singles, and carries exactly each single's rows in its
section. A static scan (no Spark) keeps ``suites.register_suite`` the
one way to build a suite: no ``query_defs*`` module may call a
registered qname through ``QUERIES[...]`` except stream_windows_suite,
whose drains run concurrently and whose sections mostly have no
single."""

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

from books2scrape_etl_spark.queries import ORACLE_SQL, QUERIES
from books2scrape_etl_spark.suites import SUITES

PKG = pathlib.Path(__file__).resolve().parent.parent / "books2scrape_etl_spark"
ALLOWED_FN = "q_stream_windows_suite"


def test_queries_indexed_only_through_register_suite():
    hits = []
    for path in sorted(PKG.glob("query_defs*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for top in tree.body:
            if isinstance(top, ast.FunctionDef) and top.name == ALLOWED_FN:
                continue
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Subscript)
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "QUERIES"
                ):
                    hits.append(f"{path.name}:{node.lineno}")
    assert not hits, "declare suites with suites.register_suite: " + ", ".join(hits)


@pytest.mark.parametrize("suite", list(SUITES))
def test_suite_width_covers_sections(suite):
    """Every slot a section maps must exist in the suite width (a typo
    would silently project NULLs on both sides), and every section
    must be an oracle-paired single."""
    width, sections = SUITES[suite]
    slots = {s for s, _ in width}
    for name, mapping in sections.items():
        assert name in ORACLE_SQL, (suite, name)
        missing = set(mapping) - slots
        assert not missing, (suite, name, missing)


@pytest.mark.parametrize("suite", list(SUITES))
def test_suite_sections_match_single_counts(spark, sf_dir, suite):
    got = {
        r["sec"]: r["n"]
        for r in QUERIES[suite](spark, sf_dir)
        .groupBy("sec")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    _, sections = SUITES[suite]
    assert set(got) <= set(sections), (suite, got)
    for name in sections:
        want = QUERIES[name](spark, sf_dir).count()
        assert got.get(name, 0) == want, (suite, name, got.get(name), want)
