"""The command-line tools around the engine: the scripts under scripts/
compile, and bench.py's HEADLINE roster (which the bench, solo_anchor.py
and capture_plans.py all run) names registered queries once each. Also
static guards that every package function has a caller, that
queries.py's rows keep their session fixtures in its fixture helpers,
that every cosine divides through the zero-vector rule, that a vector
becomes a literal in one place and that per-batch partials are folded in
one place. No Spark session."""

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


def _code_references(tree) -> "list[tuple[str, int]]":
    """(name, line) of every name the code USES: ``ast.Name`` loads,
    attribute names and imported names — including the expressions
    inside f-strings, never a word in a docstring, comment or string."""
    refs = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            refs.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            refs.append((node.attr, node.lineno))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            refs += [(a.name.split(".")[-1], node.lineno) for a in node.names]
    return refs


def _top_level_names(tree) -> "list[tuple[str, ast.stmt]]":
    """The package module's own top-level definitions: ``def``s (minus
    ``@q`` registry rows, reached through REGISTRY) and assigned names
    (minus dunders such as ``__all__``)."""
    out = []
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            if not any(
                ast.unparse(d).split("(")[0] == "q" for d in node.decorator_list
            ):
                out.append((node.name, node))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out += [
                (t.id, node)
                for t in targets
                if isinstance(t, ast.Name) and not t.id.startswith("__")
            ]
    return out


def test_every_package_function_is_referenced():
    """Each top-level ``def`` and module-level assignment in the package
    must be used by code somewhere in the repo's Python sources outside
    its own definition: an unused name is dead surface. A name that only
    a docstring, comment or SQL string mentions does not count."""
    where = defaultdict(set)  # name -> {(file, line number)}
    defs = []
    for path in _source_files():
        tree = ast.parse(path.read_text())
        for name, line in _code_references(tree):
            where[name].add((path, line))
        if PACKAGE in path.parents:
            defs += [(path, name, node) for name, node in _top_level_names(tree)]
    unreferenced = sorted(
        f"{path.relative_to(REPO)}:{name}"
        for path, name, node in defs
        if not {
            (p, line)
            for p, line in where[name]
            if p != path or not node.lineno <= line <= node.end_lineno
        }
    )
    assert not unreferenced, f"names nothing references: {unreferenced}"


def test_queries_keep_session_fixtures_in_their_helpers():
    """queries.py builds durable artifacts only through its fixture
    helpers: no module-level dict cache besides REGISTRY and the one
    ``_ARTIFACTS`` store, no ``tempfile.mkdtemp`` outside
    ``_session_artifact`` and ``_release_cycle``, and no
    ``.awaitTermination(`` outside ``_drain``, the drain that fails on a
    timeout instead of caching half-written state."""
    allowed = {
        "mkdtemp": {"_session_artifact", "_release_cycle"},
        "awaitTermination": {"_drain"},
    }
    tree = ast.parse((PACKAGE / "queries.py").read_text())
    found = []
    for node in tree.body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            value = node.value
            if isinstance(value, ast.Dict) or (
                isinstance(value, ast.Call)
                and ast.unparse(value.func) in ("dict", "defaultdict")
            ):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                found += [
                    f"module-level dict {ast.unparse(t)} (line {node.lineno})"
                    for t in targets
                    if ast.unparse(t) not in ("REGISTRY", "_ARTIFACTS")
                ]
        owner = getattr(node, "name", "<module>")
        found += [
            f"{sub.attr} in {owner} (line {sub.lineno})"
            for sub in ast.walk(node)
            if isinstance(sub, ast.Attribute)
            and sub.attr in allowed
            and owner not in allowed[sub.attr]
        ]
    assert not found, f"session fixtures outside their helpers: {found}"


def test_every_streaming_gate_freezes_through_the_core():
    """Each public ``streaming_*`` in ingest.py that keeps a
    ``state_path`` freezes its constants through ``_freeze_state``, and
    no other function probes for state that may not exist yet — only
    ``_freeze_state`` reads an optional meta row, and only the partial
    reader and the compactor read an optional subdir — so no gate
    hand-rolls its own freeze-or-check."""
    allowed = {
        "read_meta_or_none": {"_freeze_state"},
        "_read_or_none": {"_read_partials", "compact_gate_state"},
    }
    tree = ast.parse((PACKAGE / "streaming" / "ingest.py").read_text())
    found = []
    for node in tree.body:
        if not isinstance(node, ast.FunctionDef):
            continue
        called = {
            ast.unparse(sub.func).split(".")[-1]
            for sub in ast.walk(node)
            if isinstance(sub, ast.Call)
        }
        args = {a.arg for a in node.args.args + node.args.kwonlyargs}
        if node.name.startswith("streaming_") and "state_path" in args:
            if "_freeze_state" not in called:
                found.append(f"{node.name} does not call _freeze_state")
        found += [
            f"{name} in {node.name}"
            for name in sorted(called & set(allowed))
            if node.name not in allowed[name]
        ]
    assert not found, f"gate state probed outside the freeze core: {found}"


def test_cosines_divide_through_the_zero_rule():
    """No package code divides a ``dot_product(...)`` by hand: every
    cosine goes through ``vectors.cosine_or_zero`` (or a helper built on
    it), so an all-zero vector scores 0.0 instead of raising
    DIVIDE_BY_ZERO under ANSI. Only ``functions/vectors.py``, which
    defines the rule, is exempt."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == PACKAGE / "functions" / "vectors.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.BinOp)
                and isinstance(node.op, ast.Div)
                and isinstance(node.left, ast.Call)
                and ast.unparse(node.left.func).split(".")[-1] == "dot_product"
            ):
                found.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert not found, f"raw dot_product divisions: {found}"


def test_vector_literals_are_built_in_one_place():
    """An ``F.array(*[F.lit(float(x)) ...])`` vector literal is built only
    by ``similarity._query_literal``, which also folds the vector's norm
    once in Python (an in-plan ``l2_norm`` over a literal array runs
    on every row)."""
    home = PACKAGE / "operators" / "similarity.py"
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = {
            id(sub)
            for node in ast.walk(tree)
            if path == home
            and isinstance(node, ast.FunctionDef)
            and node.name == "_query_literal"
            for sub in ast.walk(node)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Starred)
                and isinstance(node.value, (ast.ListComp, ast.GeneratorExp))
                and re.fullmatch(r"(\w+\.)?lit\(float\(.*\)\)", ast.unparse(node.value.elt))
                and id(node) not in allowed
            ):
                found.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert not found, f"vector literals outside _query_literal: {found}"


def test_partials_fold_in_one_place():
    """Per-batch ``_batch_id`` partials merge through one fold
    (``index_layout._fold_partials``). In ``streaming/ingest.py`` only the
    fold path (``_read_partials`` → ``_fold_state``), ``read_psi_trend``
    (whose product is the per-batch view) and ``compact_gate_state``
    consume ``_read_partials`` / ``_read_or_none`` output; and no package
    module but ``sources/index_layout.py`` builds a ``batch_stats`` path
    to read, so BM25's per-batch stats are summed only by that side's
    fold."""
    allowed = {
        "_read_partials": {"_fold_state", "read_psi_trend"},
        "_read_or_none": {"_read_partials", "compact_gate_state"},
    }
    tree = ast.parse((PACKAGE / "streaming" / "ingest.py").read_text())
    found = [
        f"{name} in {node.name}"
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        for name in sorted(
            {
                ast.unparse(sub.func).split(".")[-1]
                for sub in ast.walk(node)
                if isinstance(sub, ast.Call)
            }
            & set(allowed)
        )
        if node.name not in allowed[name]
    ]
    for path in sorted(PACKAGE.rglob("*.py")):
        if path == PACKAGE / "sources" / "index_layout.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and any(
                "batch_stats" in ast.unparse(arg)
                for arg in node.args + [k.value for k in node.keywords]
                if isinstance(arg, ast.JoinedStr)
                or (isinstance(arg, ast.Constant) and "/batch_stats" in str(arg.value))
            ):
                found.append(f"batch_stats path read at {path.relative_to(REPO)}:{node.lineno}")
    assert not found, f"partials read outside the one fold: {found}"
