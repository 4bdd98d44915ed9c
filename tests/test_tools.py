"""The command-line tools around the engine: the scripts under scripts/
compile, and bench.py's HEADLINE roster (which the bench, solo_anchor.py
and capture_plans.py all run) names registered queries once each. Also a
static guard that every package function has a caller. No Spark
session."""

from __future__ import annotations

import ast
import importlib.util
import py_compile
import re
from collections import defaultdict
from pathlib import Path

import pytest

from building_a_rag_pipeline_with_airflow_spark.queries import REGISTRY

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((REPO / "scripts").glob("*.py"))
PACKAGE = REPO / "building_a_rag_pipeline_with_airflow_spark"


@pytest.mark.parametrize("script", SCRIPTS, ids=[p.name for p in SCRIPTS])
def test_script_compiles(script, tmp_path):
    py_compile.compile(
        str(script), cfile=str(tmp_path / "out.pyc"), doraise=True
    )


def test_headline_names_registered_queries_once():
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    headline = bench.HEADLINE
    assert len(headline) == len(set(headline)), "duplicate HEADLINE names"
    missing = [n for n in headline if n not in REGISTRY]
    assert not missing, f"HEADLINE names not in REGISTRY: {missing}"


def _source_files() -> "list[Path]":
    roots = (PACKAGE, REPO / "tests", REPO / "scripts", REPO / "perfbench")
    return sorted(REPO.glob("*.py")) + sorted(
        p for root in roots for p in root.rglob("*.py")
    )


def test_every_package_function_is_referenced():
    """Each top-level ``def`` in the package must be named, as a word,
    somewhere in the repo's Python sources other than on its own ``def``
    line: an uncalled function is dead surface. Registry queries
    (``@q``) are reached through REGISTRY and are exempt."""
    where = defaultdict(set)  # word -> {(file, line number)}
    defs = []
    for path in _source_files():
        text = path.read_text()
        for i, line in enumerate(text.splitlines(), 1):
            for word in re.findall(r"[A-Za-z_]\w*", line):
                where[word].add((path, i))
        if PACKAGE in path.parents:
            defs += [
                (path, node)
                for node in ast.parse(text).body
                if isinstance(node, ast.FunctionDef)
                and not any(
                    ast.unparse(d).split("(")[0] == "q" for d in node.decorator_list
                )
            ]
    unreferenced = sorted(
        f"{path.relative_to(REPO)}:{node.name}"
        for path, node in defs
        if not where[node.name] - {(path, node.lineno)}
    )
    assert not unreferenced, f"functions nothing references: {unreferenced}"
