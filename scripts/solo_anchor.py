"""Quiet-host SOLO anchor table for the headline bench roster (r12
judge directive #3): the bench's interleaved medians drift with session
neighborhood and host load (the documented 140.6 -> 153.9 s headline
creep over four rounds while per-row solos stayed flat), so every
round-over-round adjudication has leaned on scattered per-row ledger
notes. This script publishes ONE fixed reference: each headline row's
best-of-3 WARM SOLO — one untimed warm pass, then three timed
back-to-back runs, keep the minimum (host noise only ever inflates a
run, so the min is the honest floor) — in one quiet session on the
current code.

Output: ``SOLO_ANCHOR_r{N}.json`` at the repo root (beside
``BENCH_r{N}.json``), keyed by query name, plus session metadata. A
future round classifies a >0.5 s interleaved-median mover in one
lookup: if its solo anchor is flat on unchanged code, the move is
session noise; re-anchor only when the plan actually changes.

MAINTENANCE MODE (the r14 protocol): a full
regeneration re-samples every row's noise and decays the anchor into a
second interleaved ledger, so from r14 on rounds re-anchor ONLY the
rows whose plans actually changed::

    python scripts/solo_anchor.py 15 --only rowA,rowB

carries every other row VERBATIM from the latest existing
``SOLO_ANCHOR_r*.json`` and stamps each re-measured row with
``reanchored_r`` and ``prev_solo_best3`` — the old and new values side
by side, append-don't-rewrite. A NEW headline row (no prior anchor)
gets ``prev_solo_best3: null``. Run solo on a quiet host either way:
``python scripts/solo_anchor.py [round_no] [--only a,b,...]``.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402  (the one roster, never a copy)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _latest_anchor_path() -> "str | None":
    import re

    rounds = {}
    for f in glob.glob(os.path.join(REPO, "SOLO_ANCHOR_r*.json")):
        m = re.fullmatch(r"SOLO_ANCHOR_r(\d+)\.json", os.path.basename(f))
        if m:  # stray copies (e.g. _backup suffixes) are not tables
            rounds[int(m.group(1))] = f
    return rounds[max(rounds)] if rounds else None


def main() -> None:
    args = list(sys.argv[1:])
    only: "list[str] | None" = None
    if "--only" in args:
        i = args.index("--only")
        # --only as the FINAL token (no value) and `--only ,` (an empty
        # roster that would silently write a carry-forward-only anchor
        # stamped with the new round) are both usage errors, not passes
        if i + 1 >= len(args):
            print(
                "solo_anchor: --only needs a comma-separated row list "
                "(usage: solo_anchor.py <round> --only rowA,rowB)",
                file=sys.stderr,
            )
            sys.exit(2)
        only = [s for s in args[i + 1].split(",") if s]
        if not only:
            print(
                "solo_anchor: --only parsed an EMPTY row list — a "
                "re-anchor that re-measures nothing would just restamp "
                "the carried table with a new round number",
                file=sys.stderr,
            )
            sys.exit(2)
        del args[i : i + 2]
    round_no = args[0] if args else "14"

    prior: "dict | None" = None
    if only is not None:
        unknown = sorted(set(only) - set(HEADLINE))
        if unknown:
            print(
                f"solo_anchor: --only names not in HEADLINE: {unknown}",
                file=sys.stderr,
            )
            sys.exit(2)
        prior_path = _latest_anchor_path()
        if prior_path is None:
            print(
                "solo_anchor: --only needs an existing anchor table to "
                "carry forward; run a full pass first",
                file=sys.stderr,
            )
            sys.exit(2)
        prior = json.load(open(prior_path))
        roster = [n for n in HEADLINE if n in set(only)]
    else:
        roster = list(HEADLINE)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from building_a_rag_pipeline_with_airflow_spark import get_spark
    from building_a_rag_pipeline_with_airflow_spark.queries import REGISTRY

    spark = get_spark(
        app_name="building_a_rag_pipeline_with_airflow_spark-solo-anchor",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
        },
    )
    # the bench's own JVM + index warmup, so solos measure reads
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()
    for _warm in (
        "jaccard_index_pairs",
        "substring_index_spans",
        "bm25_batch_topk_documents",
        "trigram_search_parts_from_index",
    ):
        try:
            REGISTRY[_warm][0](spark, sf_dir).limit(1).collect()
        except Exception as exc:
            print(f"solo_anchor: warmup {_warm} failed: {exc}", file=sys.stderr)

    anchors: dict[str, dict] = {}
    t_session = time.time()
    for name in roster:
        fn, _ = REGISTRY[name]
        try:
            fn(spark, sf_dir).collect()  # untimed warm pass (plan/JIT)
            runs = []
            for _ in range(3):
                t0 = time.time()
                fn(spark, sf_dir).collect()
                runs.append(round(time.time() - t0, 3))
            anchors[name] = {"solo_best3": min(runs), "runs": runs}
        except Exception as exc:
            anchors[name] = {"solo_best3": -1.0, "error": str(exc)[:200]}
            print(f"solo_anchor: {name} failed: {exc}", file=sys.stderr)

    if prior is not None:
        # roster hygiene: carry only rows still in HEADLINE (a retired
        # row's stale timing would inflate anchor_total_s forever), and
        # WARN about headline rows with no anchor at all — a new row the
        # operator forgot to list stays visible instead of silently
        # unanchored
        merged = {
            n: v for n, v in prior["queries"].items() if n in set(HEADLINE)
        }
        for name, a in anchors.items():
            if a["solo_best3"] < 0 and name in merged:
                # a failed re-measure must NOT overwrite a good anchor:
                # keep the prior row, record the failure beside it
                kept_row = dict(merged[name])
                kept_row["reanchor_failed_r"] = round_no
                kept_row["reanchor_error"] = a.get("error", "")[:200]
                merged[name] = kept_row
                print(
                    f"solo_anchor: {name} re-measure failed; prior "
                    "anchor kept",
                    file=sys.stderr,
                )
                continue
            stamped = dict(a)
            stamped["reanchored_r"] = round_no
            stamped["prev_solo_best3"] = merged.get(name, {}).get(
                "solo_best3"
            )
            merged[name] = stamped
        unanchored = sorted(set(HEADLINE) - set(merged))
        if unanchored:
            print(
                f"solo_anchor: HEADLINE rows with NO anchor (new rows "
                f"missing from --only?): {unanchored}",
                file=sys.stderr,
            )
        queries_out = merged
        methodology = (
            "MAINTENANCE pass (bench.py r14 protocol): only the listed "
            "rows re-measured (1 untimed warm + 3 timed back-to-back "
            "runs, anchor = min) in ONE quiet session; every other "
            "CURRENT-HEADLINE row carried verbatim from the prior anchor "
            "table (retired rows dropped); re-anchored rows carry "
            "reanchored_r + prev_solo_best3; anchor_total_s therefore "
            "mixes sessions — it describes the roster, per-ROW deltas "
            "are the comparison unit"
        )
    else:
        queries_out = anchors
        methodology = (
            "per query: 1 untimed warm pass + 3 timed back-to-back runs "
            "in ONE quiet session, anchor = min of the 3 (noise only "
            "inflates); rows run consecutively in HEADLINE order"
        )

    out = {
        "round": round_no,
        "sf_dir": sf_dir,
        "methodology": methodology,
        "reanchored_only": only,
        "session_wall_s": round(time.time() - t_session, 1),
        "anchor_total_s": round(
            sum(
                a["solo_best3"]
                for a in queries_out.values()
                if a["solo_best3"] >= 0
            ),
            1,
        ),
        "queries": queries_out,
    }
    path = os.path.join(REPO, f"SOLO_ANCHOR_r{round_no}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({"solo_anchor_total_s": out["anchor_total_s"],
                      "wall_s": out["session_wall_s"], "path": path}))
    spark.stop()


if __name__ == "__main__":
    main()
