"""Tabular query surface — parity with the reference's Snowflake viewer
(E3 path, ``Frontend/app.py``), expressed as Catalyst plans.

The reference builds WHERE/LIMIT/OFFSET SQL strings by hand
(``app.py:182-198``) and re-filters in pandas (``:254-260``); here every
predicate is a ``Column``, so pushdown/pruning/limit-pushdown are automatic
(visible as PushedFilters in ``.explain("formatted")``).
"""

from __future__ import annotations

import datetime as _dt
from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Columns the reference treats as dates by name (Frontend/app.py:204-207).
DATE_COLUMNS = ("ddate", "filedate", "created_dt")
# Columns excluded from filter widgets (Frontend/app.py:488-493).
EXCLUDED_FILTER_COLUMNS = {"cik", "ein", "changed", "value"}
EXCLUDED_FILTER_SUFFIXES = ("_sk", "_dt", "_id", "_code")


def _day(v: Any) -> Any:
    """Truncate a datetime bound to day precision — the reference
    strftime('%Y-%m-%d')s date-range bounds, so times never participate."""
    if isinstance(v, _dt.datetime):
        return v.replace(hour=0, minute=0, second=0, microsecond=0)
    return v


def build_filter(filters: Mapping[str, Any]) -> Column | None:
    """Reference F4 semantics (app.py:182-198) — value shape drives the
    predicate type, exactly as the reference's WHERE-builder dispatches:

    * ``list`` of 2 → DATE range: bounds truncated to day precision
      (the reference strftime's them to 'YYYY-MM-DD'). Applied when the
      bounds are date/datetime values or the column is a known date column
      (DATE_COLUMNS); otherwise the filter is silently dropped — the
      reference only emits list filters for detected date fields.
    * ``tuple`` of 2 → numeric BETWEEN, bounds used as-is.
    * scalar → equality, skipped for falsy values (app.py's
      ``elif value and value != ""`` — an empty widget selection filters
      nothing).

    Predicates AND together; returns None when nothing applies. All are
    plain Column comparisons, so Catalyst pushes them to the scan."""
    pred: Column | None = None
    for col, val in filters.items():
        c = F.col(col)
        if isinstance(val, list) and len(val) == 2:
            lo, hi = val
            is_date_filter = (
                isinstance(lo, (_dt.date, _dt.datetime))
                or col.lower() in DATE_COLUMNS
            )
            if not is_date_filter:
                continue
            p = c.between(F.lit(_day(lo)), F.lit(_day(hi)))
        elif isinstance(val, tuple):
            # the reference's builder indexes value[0]/value[1] for ANY
            # tuple (app.py numeric range widgets); tuples too short to
            # have bounds filter nothing rather than crash or fall through
            # to a bogus col == lit(tuple) equality
            if len(val) < 2:
                continue
            p = c.between(F.lit(val[0]), F.lit(val[1]))
        elif not val:
            continue
        else:
            p = c == F.lit(val)
        pred = p if pred is None else (pred & p)
    return pred


def fetch_filtered(
    df: DataFrame,
    filters: Mapping[str, Any] | None = None,
    order_by: Sequence[str] | None = None,
    limit: int | None = 5000,
    offset: int = 0,
) -> DataFrame:
    """Scan + filter + deterministic paginate (reference S10/O1:
    ``LIMIT {limit} OFFSET {offset}``, default page 5000, app.py:135,198).

    Pagination without a total sort: ``offset`` pushes into the limit
    operator (CollectLimit offset=n in the plan)."""
    pred = build_filter(filters or {})
    if pred is not None:
        df = df.where(pred)
    if order_by:
        df = df.orderBy(*order_by)
    if offset:
        df = df.offset(offset)
    # A huge limit is NOT a no-op: orderBy().limit(k) compiles to
    # TakeOrderedAndProject whose per-partition heap is sized by k.
    return df if limit is None else df.limit(limit)


def filterable_columns(df: DataFrame) -> list[str]:
    """Reference F6 projection rule (app.py:487-493)."""
    return [
        f.name
        for f in df.schema.fields
        if f.name.lower() not in EXCLUDED_FILTER_COLUMNS
        and not f.name.lower().endswith(EXCLUDED_FILTER_SUFFIXES)
    ]


def column_profile(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Widget-support stats in ONE pass (reference does a pandas round-trip
    per column, app.py:497-505): per column → approx distinct count + min +
    max, unpivoted to (column, n_distinct, min_value, max_value) strings."""
    cols = list(cols or df.columns)
    aggs = []
    for c in cols:
        aggs += [
            F.approx_count_distinct(c).alias(f"__nd_{c}"),
            F.min(c).cast("string").alias(f"__min_{c}"),
            F.max(c).cast("string").alias(f"__max_{c}"),
        ]
    row = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__nd_{c}").cast("bigint").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_value"),
                F.col(f"__max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return row.select(F.explode(structs).alias("p")).select("p.*")


def value_counts(df: DataFrame, col: str) -> DataFrame:
    """Reference A6 (pandas value_counts for the pie chart, app.py:567)."""
    return (
        df.groupBy(col)
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.desc("n"), F.asc(col))
    )


def histogram(df: DataFrame, col: str, bins: int = 10) -> DataFrame:
    """Fixed-width histogram (reference A3: np.histogram(bins=10),
    chunk_visualizer.py:412-418). Two passes: min/max, then one bucketed
    aggregation — no data to the driver."""
    lo, hi = df.agg(F.min(col), F.max(col)).first()
    lo, hi = float(lo), float(hi)
    width = (hi - lo) / bins if hi > lo else 1.0
    bucket = F.least(
        F.floor((F.col(col) - F.lit(lo)) / F.lit(width)).cast("int"),
        F.lit(bins - 1),
    )
    return (
        df.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n"))
        .select(
            "bucket",
            F.round(F.lit(lo) + F.col("bucket") * F.lit(width), 4).alias("bin_lo"),
            F.round(F.lit(lo) + (F.col("bucket") + 1) * F.lit(width), 4).alias("bin_hi"),
            "n",
        )
        .orderBy("bucket")
    )


def year_quarter(col: Column | str) -> Column:
    """Reference T8 (Backend/api.py:22-26): date → '2023q2'."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat(F.year(c).cast("string"), F.lit("q"),
                    F.quarter(c).cast("string"))


def valid_report_date(col: Column | str, lo_year: int = 2009,
                      hi_year: int = 2024) -> Column:
    """Reference F8 (Backend/api.py:11-19): strict yyyy-MM-dd + year range.

    try_to_date (not to_date): under ANSI mode (Spark 4 default) to_date
    THROWS on malformed input; validation must yield false, not fail."""
    c = F.col(col) if isinstance(col, str) else col
    parsed = F.try_to_date(c, "yyyy-MM-dd")
    return (
        c.rlike(r"^\d{4}-\d{2}-\d{2}$")
        & parsed.isNotNull()
        & F.year(parsed).between(lo_year, hi_year)
    )


def classify_quarter(text_col: Column | str, url_col: Column | str) -> Column:
    """Reference F3 (dags:175-195): Q1–Q4 text prefix, else /q{n}/ URL path
    segment, else null; plus the supplementary-content blacklist F2."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    blacklisted = F.lower(u).rlike("commentary|presentation|trend")
    expr = F.lit(None).cast("string")
    for q in ("q4", "q3", "q2", "q1"):
        expr = F.when(F.lower(t).startswith(q), F.lit(q.upper())).otherwise(expr)
    by_url = F.lit(None).cast("string")
    for q in ("q4", "q3", "q2", "q1"):
        by_url = F.when(F.lower(u).contains(f"/{q}/"), F.lit(q.upper())).otherwise(by_url)
    return F.when(blacklisted, F.lit(None).cast("string")).otherwise(
        F.coalesce(expr, by_url)
    )


def scd2_history(
    snapshots: DataFrame,
    key_col: str,
    attr_cols: "list[str] | tuple[str, ...]",
    version_col: str = "version",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from versioned full
    snapshots — the standard warehouse operator for "what did this
    dimension row look like at version V".

    Input: one row per (key, version) with the tracked attributes.
    Output: one row per CHANGE with ``valid_from``/``valid_to`` version
    bounds (``valid_to`` NULL = current). Plan: one per-key ordered
    window — keep a row iff any tracked attribute differs from its
    ``lag`` (the first version always survives), then ``lead`` over the
    surviving change rows supplies the exclusive upper bound minus one.
    Partitions hold one key's versions (bounded by snapshot count), so
    the windows scale with keys, and unchanged keys cost exactly one
    output row — the whole point vs storing every snapshot."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(version_col)
    changed = F.lit(False)
    for c in attr_cols:
        prev = F.lag(c).over(w)
        changed = changed | ~F.col(c).eqNullSafe(prev)
    first = F.lag(version_col).over(w).isNull()
    rows = snapshots.select(
        key_col, version_col, *attr_cols, (first | changed).alias("_keep")
    ).where("_keep")
    w2 = Window.partitionBy(key_col).orderBy(version_col)
    return rows.select(
        key_col,
        *attr_cols,
        F.col(version_col).cast("bigint").alias("valid_from"),
        (F.lead(version_col).over(w2) - 1).cast("bigint").alias("valid_to"),
    )
