"""Capture `.explain('formatted')` for headline queries into plans/r<round>/.

Writes `plans/r<round>/<name>_<tag>.txt` for each named query (default:
every HEADLINE row) so plan diffs (Exchange count, join strategy,
PushedFilters, Python-eval nodes) can be asserted before/after each
change without re-running the bench.

What is written is normalized: expression ids (``#123``), exchange plan
ids, RDD ids and call sites (``SQLExecutionRDD[91] at <site>``, which
checkpointed and local frames print), lambda-variable counters, temp
directories and the repo location become fixed placeholders, so one
``diff -r`` of a capture made from one checkout against a capture made
from another is the plan check.

Usage: python scripts/capture_plans.py <round> <tag> [name ...]
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_NORMALIZE = (
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"at \S+:\d+"), "at <site>"),
    (re.compile(r"(lambda [a-z]+)_\d+"), r"\1_N"),
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\s,\]\)]+"), "<tmp>"),
    (re.compile(re.escape(REPO)), "<repo>"),
)


def normalize(plan: str) -> str:
    """The plan text with run-specific ids and paths replaced."""
    for pattern, repl in _NORMALIZE:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit("usage: capture_plans.py <round> <tag> [name ...]")
    round_no, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from building_a_rag_pipeline_with_airflow_spark import get_spark
    from building_a_rag_pipeline_with_airflow_spark.queries import REGISTRY

    spark = get_spark(app_name=f"capture-plans-r{round_no}")
    out_dir = os.path.join(REPO, "plans", f"r{round_no}")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        fn, _ = REGISTRY[name]
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # capture what we can, note the rest
            plan = f"<explain failed: {exc}>"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(normalize(plan))
        print(f"captured {name} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
