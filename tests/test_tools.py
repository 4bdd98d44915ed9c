"""The command-line tools around the engine: the scripts under scripts/
compile, and bench.py's HEADLINE roster (which the bench, solo_anchor.py
and capture_plans.py all run) names registered queries once each. No
Spark session."""

from __future__ import annotations

import importlib.util
import py_compile
from pathlib import Path

import pytest

from building_a_rag_pipeline_with_airflow_spark.queries import REGISTRY

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((REPO / "scripts").glob("*.py"))


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
