"""Distribution-drift screens: PSI, exact two-sample KS, chi-squared
categorical drift, Jensen-Shannon divergence between corpus slices.

A 100 TB training-data pipeline re-ingests continuously; the question
"did this month's data move?" is as load-bearing as any query operator.
The reference has no statistics surface (its closest shape is the
Frontend's min/max profile widgets); these are the standard screens a
data-quality gate runs between two snapshots/slices, each shaped for
scale:

* **PSI** (population stability index — the credit-scoring standard for
  "has this feature shifted"): bin boundaries are ONE exact-percentile
  aggregate over the baseline (swap for ``percentile_approx`` at
  whole-table scale, the :func:`analytics.percentile_profile` toggle),
  broadcast as an array literal; both sides bin map-side (a 10-element
  higher-order count, no explode) into two hash aggs. Per-bin output so
  the drifted REGION is visible, not just the scalar.
* **KS statistic** (exact, not binned): the two-sample
  Kolmogorov-Smirnov D = max |F_a − F_b| needs both ECDFs over the
  pooled distinct values — an unbounded-cardinality running total, the
  one shape a global window cannot survive. Built on
  :func:`analytics.prefix_sum` (range-partition + per-partition running
  sums + broadcast partition offsets), so the plan has NO
  single-partition stage at any input size.
* **chi-squared** over a categorical column's two-slice contingency
  table: two hash aggs + a category-count-sized join; expected counts
  from the margins in-plan.
* **JS divergence** between two slices' TOKEN distributions: the
  symmetric, finite (≤ ln 2) corpus-comparison measure (KL blows up on
  disjoint vocabulary). Token counts reuse the house tokenization; the
  full-outer join on term is the only shuffle, Zipf keys move as
  map-side partial counts.

Every operator returns exact integer counts + deterministic float
reductions (scaled rounding), so each carries a full DuckDB value
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from building_a_rag_pipeline_with_airflow_spark.functions.text import tokens
from building_a_rag_pipeline_with_airflow_spark.operators import require_nonempty
from building_a_rag_pipeline_with_airflow_spark.operators.analytics import prefix_sum

__all__ = ["psi_profile", "ks_statistic", "chi2_drift", "js_divergence"]


def _psi_bounds(df_base: DataFrame, value_col: str, n_bins: int) -> DataFrame:
    """The one-row ``_bs`` frame of the baseline's ``n_bins`` quantile
    bin boundaries: ONE exact-percentile aggregate."""
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    qs = [i / n_bins for i in range(1, n_bins)]
    return df_base.agg(
        F.expr(
            f"percentile({value_col}, array({', '.join(map(str, qs))}))"
        ).alias("_bs")
    )


def _psi_bin(v, bounds):
    """bin = number of boundaries strictly below the double value ``v``:
    an (n_bins - 1)-element map-side fold, no explode, identical int on
    any engine."""
    return F.aggregate(
        bounds, F.lit(0), lambda acc, bd: acc + F.when(v > bd, 1).otherwise(0)
    )


def _psi_terms(eps: float):
    """``(pa, pb, contribution)`` over a frame holding per-bin counts
    ``n_base``/``n_new`` and side totals ``_ta``/``_tb``: proportions
    clamped at ``eps`` (so empty bins stay finite) and the unrounded
    ``(pa−pb)·ln(pa/pb)``."""
    pa = F.greatest(F.col("n_base") / F.col("_ta"), F.lit(float(eps)))
    pb = F.greatest(F.col("n_new") / F.col("_tb"), F.lit(float(eps)))
    return pa, pb, (pa - pb) * F.log(pa / pb)


def _psi_finish(cells: DataFrame, eps: float) -> DataFrame:
    """The per-bin PSI frame from ``(bin, n_base, n_new)`` count cells —
    the finisher :func:`psi_profile` and the streamed PSI gate's reader
    share. Totals come from the n_bins-row cell frame."""
    totals = cells.agg(
        F.sum("n_base").cast("double").alias("_ta"),
        F.sum("n_new").cast("double").alias("_tb"),
    )
    pa, pb, contrib = _psi_terms(eps)
    return cells.crossJoin(F.broadcast(totals)).select(
        "bin",
        "n_base",
        "n_new",
        (F.round(pa * 1_000_000) / 1_000_000).alias("p_base"),
        (F.round(pb * 1_000_000) / 1_000_000).alias("p_new"),
        (F.round(contrib * 1_000_000) / 1_000_000).alias("psi_contrib"),
    )


def psi_profile(
    df_base: DataFrame,
    df_new: DataFrame,
    value_col: str,
    n_bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Per-bin PSI profile between a baseline and a new sample of
    ``value_col``: bins are the baseline's ``n_bins`` quantile intervals
    (open-ended edges), output one row per bin with both sides' counts,
    proportions and the PSI contribution ``(pa−pb)·ln(pa/pb)`` —
    ``sum(psi_contrib)`` is the headline scalar (rule of thumb: >0.25 =
    major shift). Proportions are clamped at ``eps`` so empty bins stay
    finite (the standard smoothing, applied identically in the oracle)."""
    bounds = _psi_bounds(df_base, value_col, n_bins)
    # an empty side would surface as a mid-job ANSI DIVIDE_BY_ZERO from
    # the proportion math — fail loudly up front instead (O(first row))
    require_nonempty(df_base, "PSI baseline sample")
    require_nonempty(df_new, "PSI new sample")
    # ONE counting scan over the tagged union (baseline pays one extra
    # pre-pass for the boundaries): bin + side-conditional counts in a
    # single hash agg, totals derived from the n_bins-row cell frame —
    # the two-sides-two-aggs-two-totals form scans each input twice more.
    v = F.col(value_col).cast("double")
    u = df_base.select(v.alias("_v"), F.lit(0).alias("_side")).unionByName(
        df_new.select(v.alias("_v"), F.lit(1).alias("_side"))
    )
    cells = (
        u.crossJoin(F.broadcast(bounds))
        .select(_psi_bin(F.col("_v"), "_bs").alias("bin"), "_side")
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("_side") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_base"),
            F.sum(F.when(F.col("_side") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
        )
    )
    return _psi_finish(cells, eps)


def ks_statistic(
    df_a: DataFrame, df_b: DataFrame, value_col: str
) -> DataFrame:
    """Exact two-sample KS statistic — one row ``(n_a, n_b, d_stat)``
    where ``d_stat = max_x |F_a(x) − F_b(x)|`` over the pooled values.

    Per-value counts for both sides (one hash agg over the union — the
    distinct-value relation), then BOTH running ECDFs via
    :func:`analytics.prefix_sum` (no single-partition window at any
    cardinality), then one max-abs aggregate. Integer cumulative counts
    divided by integer totals: bit-identical on any engine."""
    require_nonempty(df_a, "KS sample A")
    require_nonempty(df_b, "KS sample B")
    u = (
        df_a.select(
            F.col(value_col).cast("double").alias("v"),
            F.lit(1).alias("a"),
            F.lit(0).alias("b"),
        )
        .unionByName(
            df_b.select(
                F.col(value_col).cast("double").alias("v"),
                F.lit(0).alias("a"),
                F.lit(1).alias("b"),
            )
        )
        .where(F.col("v").isNotNull())
    )
    per_v = u.groupBy("v").agg(
        F.sum("a").cast("double").alias("na"),
        F.sum("b").cast("double").alias("nb"),
    )
    cum = prefix_sum(per_v, "v", ["na", "nb"])
    totals = per_v.agg(
        F.sum("na").alias("_na"), F.sum("nb").alias("_nb")
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.max(
                F.abs(
                    F.col("na_cum") / F.col("_na")
                    - F.col("nb_cum") / F.col("_nb")
                )
            ).alias("_d"),
            F.first("_na").alias("_fa"),
            F.first("_nb").alias("_fb"),
        )
        .select(
            F.col("_fa").cast("bigint").alias("n_a"),
            F.col("_fb").cast("bigint").alias("n_b"),
            (F.round(F.col("_d") * 1_000_000) / 1_000_000).alias("d_stat"),
        )
    )


def chi2_drift(
    df_a: DataFrame, df_b: DataFrame, cat_col: str
) -> DataFrame:
    """Pearson chi-squared statistic of the 2×k contingency table between
    two slices of a categorical column — one row
    ``(n_categories, dof, chi2)``. Two hash aggs, a category-sized
    full-outer join, margins folded in-plan (one-row broadcasts)."""
    require_nonempty(df_a, "chi2 sample A")
    require_nonempty(df_b, "chi2 sample B")
    a = df_a.groupBy(F.col(cat_col).alias("cat")).agg(
        F.count("*").cast("double").alias("oa")
    )
    b = df_b.groupBy(F.col(cat_col).alias("cat")).agg(
        F.count("*").cast("double").alias("ob")
    )
    cells = (
        a.join(b, "cat", "full_outer")
        .select(
            "cat",
            F.coalesce("oa", F.lit(0.0)).alias("oa"),
            F.coalesce("ob", F.lit(0.0)).alias("ob"),
        )
    )
    tot = cells.agg(
        F.sum("oa").alias("_ra"), F.sum("ob").alias("_rb")
    )
    w = cells.crossJoin(F.broadcast(tot)).select(
        "cat",
        "oa",
        "ob",
        (F.col("oa") + F.col("ob")).alias("_ct"),
        (F.col("_ra") + F.col("_rb")).alias("_n"),
        "_ra",
        "_rb",
    )
    ea = F.col("_ra") * F.col("_ct") / F.col("_n")
    eb = F.col("_rb") * F.col("_ct") / F.col("_n")
    return w.agg(
        F.count("*").cast("bigint").alias("n_categories"),
        (F.count("*") - 1).cast("bigint").alias("dof"),
        (
            F.round(
                F.sum(
                    (F.col("oa") - ea) * (F.col("oa") - ea) / ea
                    + (F.col("ob") - eb) * (F.col("ob") - eb) / eb
                )
                * 10_000
            )
            / 10_000
        ).alias("chi2"),
    )


def js_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence between two corpus slices' token
    (unigram) distributions — one row ``(n_terms_a, n_terms_b, jsd)``,
    natural-log JSD ∈ [0, ln 2]. The symmetric, always-finite divergence
    — KL is infinite the moment one slice has a token the other lacks,
    which across corpus slices is always. ``0·ln0 = 0`` terms drop via
    the full-outer join's null arithmetic (no smoothing needed)."""
    require_nonempty(df_a, "JSD corpus slice A")
    require_nonempty(df_b, "JSD corpus slice B")

    def counts(df: DataFrame, side: str) -> DataFrame:
        return (
            df.where(F.length(F.trim(F.col(text_col))) > 0)
            .select(F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
            .groupBy("term")
            .agg(F.count("*").cast("double").alias(f"c_{side}"))
        )

    a, b = counts(df_a, "a"), counts(df_b, "b")
    j = a.join(b, "term", "full_outer").select(
        "term",
        F.coalesce("c_a", F.lit(0.0)).alias("ca"),
        F.coalesce("c_b", F.lit(0.0)).alias("cb"),
    )
    tot = j.agg(F.sum("ca").alias("_ta"), F.sum("cb").alias("_tb"))
    w = j.crossJoin(F.broadcast(tot))
    p = F.col("ca") / F.col("_ta")
    q = F.col("cb") / F.col("_tb")
    m = (p + q) / 2
    term_a = F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
    term_b = F.when(q > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    return w.agg(
        F.sum(F.when(F.col("ca") > 0, 1).otherwise(0)).cast("bigint").alias(
            "n_terms_a"
        ),
        F.sum(F.when(F.col("cb") > 0, 1).otherwise(0)).cast("bigint").alias(
            "n_terms_b"
        ),
        (
            F.round((F.sum(term_a) / 2 + F.sum(term_b) / 2) * 1_000_000)
            / 1_000_000
        ).alias("jsd"),
    )


def embedding_drift(
    base_df: DataFrame,
    cur_df: DataFrame,
    c_vec: str = "embedding",
) -> DataFrame:
    """Embedding-space drift between two snapshots — the VECTOR rung of
    the drift ladder (PSI/KS cover scalars, chi² categoricals, JS token
    distributions; a pipeline whose documents are embedded needs the
    same "did this month's data move?" answer in embedding space, where
    a shifted corpus silently degrades every ANN index and similarity
    threshold downstream).

    One row: ``(n_base, n_cur, centroid_cos, centroid_l2_dist,
    mean_norm_base, mean_norm_cur)`` — the cosine between the two
    snapshot centroids (1.0 = no directional drift), their L2 distance,
    and each side's mean vector norm (catches scale drift cosine is
    blind to; flat 1.0 on normalized corpora by construction).

    Scale shape: per-side centroids via posexplode → ONE hash agg on
    position (dim-bounded output), dim-sized join for the cosine; norms
    are a map-side array fold + one avg. No window, no driver-side
    vectors, nothing beyond metadata leaves the aggregation. Interpret
    like PSI: alert on thresholds (e.g. cos < 0.99), then re-cluster /
    re-baseline offline (`ivf_balance_report`'s maintenance contract).

    Snapshots must share the embedding dimension — checked against ONE
    row per side (metadata-scale) and raised loudly, because a
    common-prefix cosine over mismatched dims would look plausible and
    mean nothing. (The single-row probe assumes a snapshot is internally
    dim-consistent — the write path's contract; a ragged snapshot fails
    later in the posexplode join, not at this guard.) A snapshot whose
    CENTROID is the zero vector has no direction to compare:
    ``centroid_cos`` is then the explicit sentinel ``NaN`` (never a
    silent NULL, and distinct from every valid cosine in [-1, 1])."""
    from building_a_rag_pipeline_with_airflow_spark.functions.vectors import l2_norm

    require_nonempty(base_df.limit(1), "embedding_drift base")
    require_nonempty(cur_df.limit(1), "embedding_drift current")
    dim_b = len(base_df.select(c_vec).first()[0])
    dim_c = len(cur_df.select(c_vec).first()[0])
    if dim_b != dim_c:
        raise ValueError(
            f"embedding_drift: snapshot dims differ ({dim_b} vs {dim_c}); "
            "a common-prefix comparison would be meaningless"
        )

    def _cent(df: DataFrame, tag: str) -> DataFrame:
        ex = df.select(F.posexplode(c_vec).alias("_p", "_v"))
        return ex.groupBy("_p").agg(
            F.avg("_v").alias(f"c_{tag}"),
            F.count("*").cast("bigint").alias(f"n_{tag}"),
        )

    norms = base_df.agg(
        F.round(F.avg(l2_norm(c_vec)), 4).alias("mean_norm_base")
    ).crossJoin(
        cur_df.agg(F.round(F.avg(l2_norm(c_vec)), 4).alias("mean_norm_cur"))
    )
    return _centroid_drift(
        _cent(base_df, "base").join(_cent(cur_df, "cur"), "_p"), norms
    )


def _centroid_drift(j: DataFrame, norms: DataFrame) -> DataFrame:
    """The one-row drift report from the per-position centroid frame
    ``j`` (``_p, c_base, n_base, c_cur, n_cur``) and the one-row
    ``norms`` frame (``mean_norm_base, mean_norm_cur``) — the finisher
    :func:`embedding_drift` and the streamed drift gate's reader share.
    A zero centroid gives the ``NaN`` cosine sentinel."""
    cents = j.agg(
        F.max("n_base").alias("n_base"),
        F.max("n_cur").alias("n_cur"),
        F.sum(F.col("c_base") * F.col("c_cur")).alias("_dot"),
        F.sum(F.col("c_base") * F.col("c_base")).alias("_sb"),
        F.sum(F.col("c_cur") * F.col("c_cur")).alias("_sc"),
        F.sum(
            (F.col("c_base") - F.col("c_cur"))
            * (F.col("c_base") - F.col("c_cur"))
        ).alias("_sd"),
    )
    return cents.crossJoin(F.broadcast(norms)).select(
        "n_base",
        "n_cur",
        F.when(
            (F.col("_sb") * F.col("_sc")) == 0, F.lit(float("nan"))
        ).otherwise(
            F.round(F.col("_dot") / F.sqrt(F.col("_sb") * F.col("_sc")), 6)
        ).alias("centroid_cos"),
        F.round(F.sqrt("_sd"), 6).alias("centroid_l2_dist"),
        "mean_norm_base",
        "mean_norm_cur",
    )
