"""Deterministic mergeable quantile sketch: hash-priority bottom-k
uniform sampling.

The r7 review's suggested next surface was a "quantile-sketch-backed
streaming drift gate (KLL partials per micro-batch → read-side merged
PSI at arbitrary grains)". Randomized compactor sketches (KLL,
t-digest) are merge-ORDER-dependent, so a streamed fold could never be
bit-identical to the batch-side sketch — it would break the repo's
stream≡batch parity discipline. This module uses the deterministic
alternative with the same asymptotics and an EXACT merge: keep the
``k`` rows with the smallest md5-derived priority of their unique id
(a bottom-k / KMV-style sketch over a fixed hash order). Properties:

* **Uniform sample**: the hash order is independent of the values, so
  the k survivors are a simple random sample of the population — rank
  error of derived quantiles is the standard O(1/sqrt(k)).
* **Exactly mergeable, order-independent**: the k global minima are
  each among the k minima of whatever partition/batch they arrived in,
  so ``bottomk(union of per-batch bottomks) == bottomk(all rows)`` —
  set equality, not approximation. The streamed fold IS the batch
  sketch (parity-tested in ``streaming/ingest.py``'s gate).
* **Deterministic**: same ids → same sample, any engine — the md5
  construction is the repo's `hash_sample` oracle discipline, so a
  DuckDB replay reproduces the sample (and its quantiles) exactly.

Scale shape: the sample is a ``TakeOrderedAndProject`` (per-partition
top-k heaps merged at the driver-bound reduce — no global sort
exchange, pinned in test_scale_plans); per-batch partials are ≤ k rows;
the fold handles (#batches × k) metadata-scale rows. ``sketch_psi``
composes the existing PSI family over two samples — which is the point:
the sample is tiny, so the drift grain (n_bins) becomes a READ-time
choice instead of a write-time freeze.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from building_a_rag_pipeline_with_airflow_spark.operators import require_nonempty
from building_a_rag_pipeline_with_airflow_spark.operators.sampling import _md5_slice60


def hash_priority(id_col: "str | Column") -> Column:
    """md5-derived 60-bit priority of a row's unique id — the fixed,
    engine-reproducible hash order every bottom-k sample uses (the
    `sampling.hash_sample` md5 slice)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return _md5_slice60(c.cast("string"))


def bottomk_sample(
    df: DataFrame,
    value_col: str,
    id_col: str,
    k: int = 1024,
) -> DataFrame:
    """The ``k`` rows of ``df`` with the smallest hash priority of
    ``id_col`` — a deterministic uniform sample ``(id, value, _prio)``,
    ordered by priority (id tiebreak for the negligible-but-possible
    md5-slice collision). A NULL id has no hash identity: its priority
    is NULL and sorts LAST (explicitly — Spark's ascending default is
    nulls-first, DuckDB's is nulls-last), so null-id rows can never
    displace a hashed row from the sample; an eager null guard would
    cost a full scan per call, which is the wrong trade for a sampler."""
    if k < 1:
        raise ValueError("bottomk_sample: k must be >= 1")
    return (
        df.select(
            F.col(id_col),
            F.col(value_col),
            hash_priority(id_col).alias("_prio"),
        )
        .orderBy(F.asc_nulls_last("_prio"), F.asc_nulls_last(id_col))
        .limit(int(k))
    )


def sample_quantiles(
    sample: DataFrame,
    value_col: str,
    probs: "tuple[float, ...]" = (0.1, 0.25, 0.5, 0.75, 0.9),
) -> DataFrame:
    """Linear-interpolated quantiles of a (sketch) sample, one row per
    probability: ``(prob, q)``, q rounded to 6dp — the exact
    ``percentile`` ↔ ``quantile_cont`` parity pair the oracle
    discipline already uses."""
    require_nonempty(sample.limit(1), "sample_quantiles input")
    ps = [float(p) for p in probs]
    arr = sample.agg(
        F.expr(
            f"percentile({value_col}, array({', '.join(map(str, ps))}))"
        ).alias("_qs")
    )
    pairs = F.arrays_zip(
        F.array(*[F.lit(p) for p in ps]).alias("prob"), F.col("_qs").alias("q")
    )
    return arr.select(F.explode(pairs).alias("e")).select(
        F.col("e.prob").alias("prob"), F.round("e.q", 6).alias("q")
    )


def sketch_psi(
    base_sample: DataFrame,
    cur_sample: DataFrame,
    value_col: str,
    n_bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """PSI profile between two bottom-k samples at an ARBITRARY grain —
    the composition this sketch exists for: both samples are
    metadata-scale, so ``n_bins`` is a read-time analysis choice, where
    `streaming_psi` freezes its bin boundaries at baseline time. Thin
    delegation to `drift.psi_profile` (bins are the BASE sample's
    quantiles; identical smoothing and output schema)."""
    from building_a_rag_pipeline_with_airflow_spark.operators import drift

    return drift.psi_profile(base_sample, cur_sample, value_col, n_bins, eps)
