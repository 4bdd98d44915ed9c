"""Data-contract validation and snapshot reconciliation.

Generalizes the reference's single date-validation rule
(``Backend/api.py:11-19`` report-date sanity window — F8 in
SURVEY.md §2, engine twin ``operators.tabular.valid_report_date``) into
the two table-level checks a training-data pipeline runs before
promoting a corpus release:

* :func:`expectations_report` — a declarative contract (not-null,
  unique, range, set membership, regex) evaluated over the whole table
  in ONE aggregation pass, one result row per expectation;
  :func:`expectations_report_by` is the same body, ``_report``, with a
  group column.
* :func:`table_diff` — key-level reconciliation of two snapshots of the
  same table (added / removed / changed rows, with the changed columns
  named), one full-outer shuffle join, no window.

Both are pure Catalyst (no Python in the hot path) and oracle-exact:
the registry queries ``expectations_orders`` and
``table_diff_orders_snapshots`` replay them in DuckDB SQL.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: expectation kinds understood by :func:`expectations_report`
KINDS = ("not_null", "unique", "in_range", "in_set", "matches", "min_rows")


def _violation_agg(e: Mapping) -> "F.Column":
    """The per-expectation violation counter (one conditional aggregate).

    Null semantics, fixed so the DuckDB replay is exact: for every kind
    except ``unique``/``min_rows``, a row VIOLATES when the contract
    predicate is not TRUE — so a NULL value violates
    ``in_range``/``in_set``/``matches`` (a contract about values is a
    contract the absent value fails), and ``not_null`` is the explicit
    completeness check. ``unique`` counts the surplus occurrences among
    non-null values (``count(col) - count(distinct col)``). ``min_rows``
    is TABLE-level — 1 violation when the table holds fewer than ``n``
    rows — the one kind an EMPTY table fails (value contracts are
    trivially satisfied by no rows; a truncated or empty release is
    exactly what this kind exists to catch)."""
    kind, col = e["kind"], e.get("col", "*")
    if kind == "min_rows":
        return F.when(F.count(F.lit(1)) < F.lit(int(e["n"])), 1).otherwise(0)
    if kind == "not_null":
        return F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))
    if kind == "unique":
        return F.count(col) - F.count_distinct(col)
    if kind == "in_range":
        ok = (F.col(col) >= F.lit(e["lo"])) & (F.col(col) <= F.lit(e["hi"]))
    elif kind == "in_set":
        vals = e["values"]
        if isinstance(vals, str):
            # list("GOOD") is ['G','O','O','D'] — the contract would
            # silently check membership in a CHARACTER set (the BM25
            # query_terms rule); demand an explicit collection
            raise TypeError(
                f"in_set expectation {e.get('name', col)!r}: values must "
                f"be a collection, got a string ({vals!r}) — a string "
                "iterates as characters; wrap it ([value])"
            )
        ok = F.col(col).isin(list(vals))
    elif kind == "matches":
        ok = F.col(col).rlike(e["pattern"])
    else:
        raise ValueError(f"unknown expectation kind {kind!r}; one of {KINDS}")
    return F.sum(F.when(ok, 0).otherwise(1))


def expectations_report(df: DataFrame, expectations: Sequence[Mapping]) -> DataFrame:
    """Evaluate a declarative data contract in ONE aggregation pass.

    ``expectations`` is a sequence of dicts, each with a unique ``name``,
    a ``kind`` from :data:`KINDS`, the target ``col``, and the kind's
    parameters (``lo``/``hi`` for ``in_range``, ``values`` for
    ``in_set``, ``pattern`` for ``matches``). Returns one row per
    expectation: ``(expectation, kind, col_name, n_violations, n_rows,
    passed)``, ordered by name.

    Scale shape: every counter is a conditional aggregate in a single
    ``df.agg`` — one scan, map-side partial aggregation, a one-row
    result exploded to #expectations rows. ``unique`` checks add exact
    ``count_distinct`` (a distinct-expand in the same pass); at extreme
    cardinalities swap them for ``approx_count_distinct`` variants
    explicitly — this report is a release GATE, so it defaults to
    exact."""
    return _report(df, [], expectations)


def _report(df: DataFrame, group_cols: "list[str]",
            expectations: Sequence[Mapping]) -> DataFrame:
    """The one body of :func:`expectations_report` (no group column:
    ``groupBy().agg`` is the same one-row global aggregate as
    ``df.agg``, also over an empty table) and
    :func:`expectations_report_by`."""
    names = [e["name"] for e in expectations]
    if len(set(names)) != len(names):
        raise ValueError("expectation names must be unique")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("_n_rows")]
    # coalesce: over an EMPTY table the conditional sums are NULL — an
    # empty input trivially satisfies a value contract (0 violations,
    # passed), it doesn't produce an unreadable NULL verdict
    aggs += [
        F.coalesce(_violation_agg(e), F.lit(0)).cast("bigint").alias(e["name"])
        for e in expectations
    ]
    one = df.groupBy(*group_cols).agg(*aggs)
    per_exp = F.array(
        *(
            F.struct(
                F.lit(e["name"]).alias("expectation"),
                F.lit(e["kind"]).alias("kind"),
                F.lit(e.get("col", "*")).alias("col_name"),
                F.col(e["name"]).alias("n_violations"),
            )
            for e in expectations
        )
    )
    return (
        one.select(
            *group_cols, F.col("_n_rows").alias("n_rows"), F.explode(per_exp).alias("e")
        )
        .select(
            *group_cols,
            "e.expectation",
            "e.kind",
            "e.col_name",
            "e.n_violations",
            "n_rows",
            (F.col("e.n_violations") == 0).alias("passed"),
        )
        .orderBy(*group_cols, "expectation")
    )


def table_diff(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    compare_cols: "Sequence[str] | None" = None,
    assume_unique_keys: bool = False,
) -> DataFrame:
    """Key-level diff of two snapshots: which rows were ``added`` (key
    only in ``right``), ``removed`` (key only in ``left``), or
    ``changed`` (key in both, any compared column differing null-safely)
    — with ``changed_cols`` naming the differing columns
    (comma-joined, sorted). Unchanged rows are dropped, so the output is
    the (small) delta, not the (huge) union.

    Scale shape: ONE full-outer shuffle join on the keys; presence flags
    and per-column null-safe comparisons are map-side expressions. The
    key set is the snapshot's primary key by contract — skew-free by
    construction; compare columns default to the columns the two schemas
    share beyond the keys. The join is NULL-SAFE on the keys (``<=>``,
    still a hash-join key for Catalyst): a row whose key value is NULL in
    both snapshots matches itself (reported unchanged/changed) instead of
    splitting into a phantom removed+added pair.

    The primary-key contract is ENFORCED, not assumed: a duplicated key
    tuple on either side — including duplicated NULLs, which the
    null-safe join would match many-to-many — fans the full-outer join
    out and silently mis-counts the delta, so each side is checked with
    a key-only aggregate (column-pruned; NULL groups exactly match the
    ``<=>`` equivalence classes) and a violation raises naming the key.
    ``assume_unique_keys=True`` skips the two check passes when
    uniqueness is guaranteed upstream (e.g. freshly gated by an
    `expectations_report` ``unique`` rule)."""
    keys = list(keys)
    if not assume_unique_keys:
        for side, df in (("left", left), ("right", right)):
            # Aliased count, with the alias DERIVED to miss every input
            # column: a key literally named "count" (or "_td_cnt") would
            # otherwise make the reference AMBIGUOUS_REFERENCE.
            cnt = "_td_cnt"
            while cnt in df.columns:
                cnt += "_"
            dup = (
                df.groupBy(*keys)
                .agg(F.count("*").alias(cnt))
                .where(F.col(cnt) > 1)
                .limit(1)
                .collect()
            )
            if dup:
                kv = {k: dup[0][k] for k in keys}
                raise ValueError(
                    f"table_diff: {side} snapshot violates the primary-key "
                    f"contract — key {kv} appears {dup[0][cnt]} times. "
                    "A duplicated key (including duplicated NULLs) fans the "
                    "null-safe full-outer join out many-to-many and the "
                    "changelog under-reports. Deduplicate or widen the key "
                    "set; pass assume_unique_keys=True only when uniqueness "
                    "is guaranteed upstream."
                )
    if compare_cols is None:
        compare_cols = [
            c for c in left.columns if c not in keys and c in right.columns
        ]
    compare_cols = list(compare_cols)
    l = left.select(*keys, *compare_cols, F.lit(True).alias("_pl"))
    r = right.select(
        *(F.col(k).alias(f"_rk_{k}") for k in keys),
        *(F.col(c).alias(f"_r_{c}") for c in compare_cols),
        F.lit(True).alias("_pr"),
    )
    cond = None
    for k in keys:
        eq = F.col(k).eqNullSafe(F.col(f"_rk_{k}"))
        cond = eq if cond is None else (cond & eq)
    j = l.join(r, on=cond, how="full_outer").select(
        *(F.coalesce(F.col(k), F.col(f"_rk_{k}")).alias(k) for k in keys),
        *compare_cols,
        *(f"_r_{c}" for c in compare_cols),
        "_pl",
        "_pr",
    )
    diff_names = F.filter(
        F.array(
            *(
                F.when(
                    ~F.col(c).eqNullSafe(F.col(f"_r_{c}")), F.lit(c)
                )
                for c in compare_cols
            )
        ),
        lambda x: x.isNotNull(),
    )
    changed = F.concat_ws(",", F.array_sort(diff_names))
    status = (
        F.when(F.col("_pl").isNull(), F.lit("added"))
        .when(F.col("_pr").isNull(), F.lit("removed"))
        .when(changed != F.lit(""), F.lit("changed"))
    )
    return (
        j.select(
            *keys,
            status.alias("status"),
            F.when(status == "changed", changed).otherwise(F.lit("")).alias(
                "changed_cols"
            ),
        )
        .where(F.col("status").isNotNull())
    )


def expectations_report_by(
    df: DataFrame, group_col: str, expectations: Sequence[Mapping]
) -> DataFrame:
    """Per-group :func:`expectations_report` — one contract evaluated
    independently for every value of ``group_col`` (per-source /
    per-language quality floors, the grouped form a corpus release
    gates on: a global report can pass while one source is entirely
    broken).

    Same kinds, same null semantics, same single-pass shape — the
    ``df.agg`` becomes a ``groupBy(group_col).agg`` (hash aggregation
    with map-side partials; output is #groups × #expectations rows,
    metadata-scale when groups are domains/languages). ``min_rows``
    applies per group: a group missing entirely produces NO row (no
    evidence), so pair it with an explicit expected-group list when
    absence itself must fail the gate."""
    return _report(df, [group_col], expectations)
