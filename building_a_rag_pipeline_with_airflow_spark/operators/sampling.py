"""Deterministic, oracle-reproducible sampling for training-data curation.

``df.sample`` is seed-stable but partition-layout-dependent (the seed mixes
with the partition index), so the same call over the same rows in a
different file layout samples different rows — useless for reproducible
dataset releases and impossible to oracle externally. These operators
sample by *content*: an md5-derived bucket of a key column decides
membership, the same trick the dedup ladder uses for shingle ids
(``operators/dedup.py``), so membership is a pure function of the row,
reproducible in any engine, and stable under repartitioning, shuffles, and
re-runs. That is exactly the property a 100 TB train/eval split needs —
the split travels with the data, not with the job that produced it.

Cost at scale: a map-only predicate per row (md5 of one column) — no
shuffle, no sort, pushes through any downstream plan. The hash is NOT
cryptographic sampling-theory-perfect but md5's avalanche is far beyond
what sampling needs; the 10000-bucket resolution bounds the fraction
granularity at 0.01%.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BUCKETS = 10_000


def _md5_slice60(s: Column) -> Column:
    """The package's ONE canonical 60-bit content hash: first 15 hex chars
    of md5(s) as a non-negative bigint — the slice every deterministic
    sampler here derives buckets/folds/shards/uniforms from, and
    ``dedup.shingle_id`` and curation's hashed token features too, kept
    in one place so the DuckDB-reproducibility contract (``CAST('0x' ||
    substr(md5(s), 1, 15) AS BIGINT)``) has exactly one Spark-side
    spelling."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def hash_bucket(key: Column | str, salt: str = "") -> Column:
    """Deterministic bucket in [0, BUCKETS): md5 of the key's string form
    (15 hex chars = 60 bits, same slice as dedup.shingle_id so DuckDB's
    ``CAST('0x' || substr(md5(k), 1, 15) AS BIGINT)`` reproduces it), mod
    BUCKETS. ``salt`` decorrelates independent samples over the same key."""
    c = F.col(key) if isinstance(key, str) else key
    s = F.concat(c.cast("string"), F.lit(salt))
    return (_md5_slice60(s) % F.lit(BUCKETS)).cast("int")


def hash_sample(
    df: DataFrame, key: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep rows whose key hashes below ``fraction`` of the bucket space.
    All rows sharing a key are kept or dropped TOGETHER — sampling by
    entity (user, document), not by row, which is what leakage-free
    train/eval splits require."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.where(hash_bucket(key, salt) < int(round(fraction * BUCKETS)))


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    key: str,
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling (the content-hash analog of
    ``df.sampleBy``): each stratum value gets its own keep-fraction;
    unlisted strata keep ``default_fraction``. One map-side CASE over the
    bucket — no shuffle, no per-stratum scans."""
    thr: Column = F.lit(int(round(default_fraction * BUCKETS)))
    for val, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {val!r} must be in [0, 1]")
        thr = (
            F.when(F.col(strata_col) == F.lit(val), F.lit(int(round(frac * BUCKETS))))
            .otherwise(thr)
        )
    return df.where(hash_bucket(key, salt) < thr)


def cluster_safe_split(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
    comp_col: str = "component",
    eval_fraction: float = 0.1,
    salt: str = "split",
) -> DataFrame:
    """Leakage-safe train/eval assignment: split by DEDUP CLUSTER, not by
    document. A per-document split puts near-duplicates of one document on
    BOTH sides — the in-corpus form of the train/benchmark contamination
    that :func:`curation.decontaminate` hunts between corpora, and it
    silently inflates eval scores (the model has seen an almost-identical
    eval row in training). Hashing the cluster's canonical label instead
    puts every member of a near-dup family on the same side by
    construction: one md5 bucket of one shared key.

    ``components`` is the ``(id, component)`` frame from
    :func:`dedup.connected_components` / ``dedup_clusters`` — it contains
    only documents that appear in some near-dup edge; documents absent
    from it are singletons and split by their own id (``coalesce``).
    Returns ``df`` plus ``split_key`` (the hashed label, stringified) and
    ``split`` ('train'/'eval'), exhaustive and disjoint by construction.

    Scale shape: one left equi-join on the id (the components side is
    pair-bearing docs only — broadcast-sized on healthy corpora, plain
    shuffle join otherwise) plus the map-side md5 predicate of
    :func:`hash_bucket`; no window, no collect, stable under
    repartitioning — the split travels with the data."""
    if not 0.0 <= eval_fraction <= 1.0:
        raise ValueError(
            f"eval_fraction must be in [0, 1], got {eval_fraction}"
        )
    comp = components.select(
        F.col(id_col).alias("_csid"), F.col(comp_col).alias("_comp")
    )
    cut = int(round(eval_fraction * BUCKETS))
    joined = df.join(comp, F.col(id_col) == F.col("_csid"), "left")
    key = F.coalesce(F.col("_comp"), F.col(id_col)).cast("string")
    return (
        joined.withColumn("split_key", key)
        .withColumn(
            "split",
            F.when(
                hash_bucket(F.col("split_key"), salt) < cut, F.lit("eval")
            ).otherwise(F.lit("train")),
        )
        .drop("_csid", "_comp")
    )


def mixture_reweight(
    df: DataFrame,
    strata_col: str,
    weights: Mapping[str, float],
    key: str,
    default_weight: float = 1.0,
    salt: str = "mix",
) -> tuple[DataFrame, DataFrame]:
    """Domain-mixture reweighting: sample each stratum so the output mix is
    proportional to ``weights``, at the largest total the data can supply
    (the standard pretraining mixture step — upweight curated domains,
    downweight crawl — done by deletion, not duplication).

    Planning runs on the stratum COUNTS (one aggregation collected to the
    driver — strata are domains, a handful of rows): the feasible total is
    capped by the scarcest stratum (``cap = min(n_s / w_s)``), each
    stratum keeps ``min(1, cap * w_s / n_s)`` of its rows, and thresholds
    are ``floor(fraction * BUCKETS)`` — floor, not round, so any SQL
    engine reproduces them bit-for-bit (Python ``round`` is banker's).
    The apply step is :func:`hash_bucket` membership — map-only,
    layout-stable, no shuffle of the data being sampled.

    Returns ``(sampled_df, plan_df)``; the plan (stratum, total, weight,
    fraction, cut) is the auditable record a dataset release ships."""
    counts = _stratum_counts(df, strata_col, "mixture_reweight")
    if default_weight <= 0 or any(w <= 0 for w in weights.values()):
        raise ValueError(
            "mixture_reweight: weights must be > 0 (drop a domain by "
            "filtering it out, not by zero-weighting it)"
        )
    full = {s: float(weights.get(s, default_weight)) for s in counts}
    return _mixture_plan_apply(df, strata_col, counts, full, key, salt)


def _stratum_counts(df: DataFrame, strata_col: str, op: str) -> dict:
    """Stratum → row count (strata are domains — a handful of rows
    collected to the driver), with the shared mixture guards."""
    counts = {r[0]: r[1] for r in df.groupBy(strata_col).count().collect()}
    if not counts:
        raise ValueError(f"{op}: input has no rows")
    if None in counts:
        # A NULL stratum would count into the plan and the scarcest-stratum
        # cap but silently vanish at the apply equi-join (NULL never
        # matches), leaving the plan table claiming a fraction for rows the
        # sample dropped. Make the caller decide.
        raise ValueError(
            f"{op}: {counts[None]} rows have NULL {strata_col!r}; filter "
            "them out or fill a sentinel stratum before reweighting"
        )
    return counts


def _mixture_plan_apply(
    df: DataFrame,
    strata_col: str,
    counts: Mapping[str, int],
    weights: Mapping[str, float],
    key: str,
    salt: str,
) -> tuple[DataFrame, DataFrame]:
    """The shared mixture core: feasible total capped by the scarcest
    stratum (``cap = min(n_s / w_s)``), per-stratum keep fraction
    ``min(1, cap * w_s / n_s)``, threshold ``floor(fraction * BUCKETS)``
    (floor, not round — any SQL engine reproduces it bit-for-bit; Python
    ``round`` is banker's), apply via one broadcast plan join + the
    map-side :func:`hash_bucket` predicate. Every stratum must appear in
    ``weights`` (callers resolve defaults)."""
    import math

    cap = min(n / weights[s] for s, n in counts.items())
    plan_rows = []
    for s, n in sorted(counts.items()):
        wt = weights[s]
        frac = min(1.0, cap * wt / n)
        plan_rows.append((s, n, float(wt), frac, int(math.floor(frac * BUCKETS))))
    plan_df = df.sparkSession.createDataFrame(
        plan_rows,
        f"{strata_col} string, total bigint, weight double, "
        "fraction double, cut bigint",
    )
    sampled = (
        df.join(F.broadcast(plan_df.select(strata_col, "cut")), strata_col)
        .where(hash_bucket(key, salt) < F.col("cut"))
        .drop("cut")
    )
    return sampled, plan_df


def temperature_mixture(
    df: DataFrame,
    strata_col: str,
    key: str,
    alpha: float = 0.5,
    salt: str = "tempmix",
) -> tuple[DataFrame, DataFrame]:
    """Temperature-scaled domain mixture (the GPT-3/Pile-style public
    pretraining recipe): instead of hitting explicit target weights like
    :func:`mixture_reweight`, sample each domain toward the share
    ``p_s^alpha / sum_j p_j^alpha`` — alpha in (0, 1) flattens the natural
    distribution, upweighting small high-quality sources without starving
    the crawl-sized head (alpha ≈ 0.3-0.7 in the published recipes;
    alpha = 1 is exactly proportional and keeps everything — pinned by
    test). Deletion-only, like every mixture here: no duplication.

    The alpha-weights are ``n_s^alpha`` — proportional to ``p_s^alpha``
    (the common ``N^alpha`` cancels in the mixture normalization), so the
    whole plan derives from one stratum-count aggregate. Planning,
    thresholds, the auditable plan table, and the map-side content-hash
    apply are the shared :func:`mixture_reweight` core; the achieved mix
    hits the temperature-scaled shares at the largest feasible total
    (capped by the scarcest post-scaling stratum).

    Returns ``(sampled_df, plan_df)``; plan schema identical to
    `mixture_reweight`'s (weight = the n^alpha stratum weight)."""
    import math

    alpha = float(alpha)
    if not (0.0 < alpha <= 1.0):
        raise ValueError(
            f"temperature_mixture: alpha must be in (0, 1], got {alpha} "
            "(alpha > 1 sharpens the head — use explicit mixture_reweight "
            "weights if that is really intended)"
        )
    counts = _stratum_counts(df, strata_col, "temperature_mixture")
    weights = {s: math.pow(n, alpha) for s, n in counts.items()}
    return _mixture_plan_apply(df, strata_col, counts, weights, key, salt)


def hash_uniform(key: Column | str, salt: str = "") -> Column:
    """Deterministic uniform in (0, 1]: the same md5-derived 60-bit value
    :func:`hash_bucket` uses, scaled instead of bucketed — the
    full-resolution form for weighted sampling, where a 10k-bucket grid
    would quantize priorities. ``(h + 1) / 2^60`` so 0 is excluded
    (``pow(0, x)`` and ``ln(0)`` must never appear downstream).
    Reproducible in any engine:
    ``(CAST('0x' || substr(md5(k || salt), 1, 15) AS BIGINT) + 1) /
    1152921504606846976.0``."""
    c = F.col(key) if isinstance(key, str) else key
    s = F.concat(c.cast("string"), F.lit(salt))
    return (_md5_slice60(s) + F.lit(1)).cast("double") / F.lit(float(1 << 60))


def weighted_sample_topk(
    df: DataFrame,
    key: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
    priority_col: str = "priority",
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each row gets priority ``u^(1/w)`` with
    ``u`` the content-hash uniform of its key and ``w`` its weight; the
    ``k`` largest priorities ARE a weighted sample without replacement.

    Same contract as :func:`hash_sample`: membership is a pure function
    of (key, weight, salt) — relayout-stable, re-run-stable, and
    reproducible by any engine — which seeded reservoir sampling cannot
    give. Cost: one map-side priority expression + a global top-k
    (``TakeOrderedAndProject``: per-partition heaps of k, no global
    sort). Weights must be > 0; rows with NULL/non-positive weight are
    rejected loudly rather than silently dropped."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    pri = _es_priority(key, weight_col, salt, "weighted_sample_topk")
    return (
        df.withColumn(priority_col, pri)
        .orderBy(F.desc(priority_col), key)
        .limit(int(k))
    )


def _es_priority(key: str, weight_col: str, salt: str, who: str) -> Column:
    """The Efraimidis–Spirakis priority ``u^(1/w)`` of both weighted
    samplers; a NULL or non-positive weight raises, naming ``who``."""
    w = F.col(weight_col).cast("double")
    return F.when(
        w > 0, F.pow(hash_uniform(key, salt), F.lit(1.0) / w)
    ).otherwise(F.raise_error(F.lit(
        f"{who}: non-positive or NULL {weight_col}"
    )))


def weighted_sample_per_group(
    df: DataFrame,
    group_cols: "Sequence[str]",
    key: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
    priority_col: str = "priority",
    n_salts: int = 16,
) -> DataFrame:
    """Per-group Efraimidis–Spirakis weighted sampling without
    replacement: the ``k`` highest-priority rows of EACH group — the
    stratified form of :func:`weighted_sample_topk` (a balanced training
    mixture wants "top-k weighted per domain/language", not a global
    cut). Identical priority function (``u^(1/w)`` from the content-hash
    uniform — relayout/re-run/engine-stable) and the same loud-reject
    contract for non-positive weights.

    Selection is a SALTED two-phase top-k, not one window per group: a
    stratum like "language" holds a constant FRACTION of the corpus, so
    ``row_number() OVER (PARTITION BY lang)`` would sort ~n/5 rows in one
    task at any scale — the quantile_segment class of unscalable window.
    The cut is ``similarity._per_query_topk`` with ``n_salts`` key-hash
    shards per group: the shard is a function of the key, so the result
    is still a pure function of the data (layout-stable), and the
    two-phase composition is EXACTLY the plain per-group top-k —
    asserted in tests."""
    from building_a_rag_pipeline_with_airflow_spark.operators.similarity import (
        _per_query_topk,
    )

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")
    pri = _es_priority(key, weight_col, salt, "weighted_sample_per_group")
    return _per_query_topk(
        df.withColumn(priority_col, pri), list(group_cols), key, k,
        n_shards=n_salts, score=priority_col, rank="_rk",
    ).drop("_rk")


def assign_folds(
    df: DataFrame, key: str, k: int = 5, salt: str = "cv"
) -> DataFrame:
    """Deterministic k-fold assignment: ``fold = md5-hash(key||salt) % k``.

    Content-addressed like :func:`hash_sample` — folds are stable under
    any relayout, reproducible in any engine, and all rows of one entity
    land in one fold (no leakage across folds). Map-only, no shuffle."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    c = F.col(key)
    s = F.concat(c.cast("string"), F.lit(salt))
    fold = (_md5_slice60(s) % F.lit(int(k))).cast("int")
    return df.withColumn("fold", fold)


def deterministic_shuffle(
    df: DataFrame, key: str, seed: str = "epoch0", n_partitions: "int | None" = None
) -> DataFrame:
    """Content-addressed global shuffle for TRAINING ORDER: sort by
    ``md5(key || seed)`` — the order is a pure function of (keys, seed),
    so re-running the job, changing the cluster size, or relocating files
    reproduces the byte-identical sequence, and each epoch gets a fresh
    permutation by changing ``seed`` ("epoch1", "epoch2", …).

    This is one range-partitioned global sort — the standard
    write-the-training-order job, run once per epoch at dataset-prep
    time, NOT a per-read cost; ``n_partitions`` sizes the output files.
    ``df.orderBy(rand(seed))`` cannot do this job: its permutation
    depends on the physical partitioning of the input, so the "same"
    seed gives a different order after any relayout."""
    shuffled = df.withColumn(
        "_shuffle_key", F.md5(F.concat(F.col(key).cast("string"), F.lit(seed)))
    )
    if n_partitions:
        shuffled = shuffled.repartitionByRange(int(n_partitions), "_shuffle_key")
        return shuffled.sortWithinPartitions("_shuffle_key").drop("_shuffle_key")
    return shuffled.orderBy("_shuffle_key").drop("_shuffle_key")


def epoch_shard_plan(
    df: DataFrame,
    key: str,
    n_shards: int,
    seed: str = "epoch0",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Content-addressed shard manifest for one training epoch: every row
    gets a ``(shard, pos)`` assignment that is a pure function of
    (key, seed, n_shards) — the explicit-plan companion of
    :func:`deterministic_shuffle` (which orders rows but never names the
    file/position a dataloader rank will read). Data-parallel training
    consumes exactly this shape: rank r streams shard r in ``pos`` order,
    a fresh ``seed`` ("epoch1", "epoch2", …) re-deals both membership
    and order, and because assignment is content-hash-derived the plan is
    stable under relayout, re-runs, and engine (the :func:`hash_bucket`
    md5 idiom, reproducible in SQL). Concatenating shards does NOT
    reproduce `deterministic_shuffle`'s single global order — by design:
    ranks read shards in parallel, not one global sequence.

    Shape: shard = 60-bit md5 slice mod ``n_shards`` (map-side; balanced
    binomially, n/k ± √ — hash-mod, not range-split: range boundaries
    would be data-sample-dependent and break the pure-function contract);
    ``pos`` = row_number per shard ordered by the same md5 (key
    tiebreak). The per-shard window sorts ~n/n_shards rows in one task —
    ``n_shards`` is the shard-FILE count knob (pack_sequences'
    ``n_streams`` precedent): at corpus scale shard files are sized
    ~100-500 MB, so n_shards grows with the data and tasks stay bounded
    by construction. Run once per epoch at dataset-prep time, never
    per read.

    ``key`` should be unique per row (the :func:`mixture_interleave` /
    `prefix_sum` caveat): duplicate keys share one md5 value, so both
    the shard assignment collides and ``pos`` AMONG the duplicate rows
    is partition-layout-dependent (the window's ``(_ord, key)`` tiebreak
    is itself tied) — dedupe or synthesize a unique key upstream if the
    relayout-stability contract must hold for every row."""
    if n_shards < 1:
        raise ValueError(f"epoch_shard_plan: n_shards must be >= 1, got {n_shards}")
    # a NULL key would hash to a NULL shard — a row belonging to NO
    # rank's shard, silently absent from training (the manifest must be
    # a PARTITION of the corpus); reject loudly per the module's
    # NULL-boundary convention
    s = F.when(
        F.col(key).isNull(),
        F.raise_error(
            F.lit(
                "epoch_shard_plan: NULL key — the row would land in no "
                "shard; fill or filter the key column first"
            )
        ).cast("string"),
    ).otherwise(F.concat(F.col(key).cast("string"), F.lit(seed)))
    ordk = F.md5(s)
    shard = (_md5_slice60(s) % F.lit(int(n_shards))).cast("int")
    out = df.withColumn(shard_col, shard).withColumn("_ord", ordk)
    w = Window.partitionBy(shard_col).orderBy("_ord", key)
    return out.withColumn(
        pos_col, F.row_number().over(w).cast("bigint")
    ).drop("_ord")


def mixture_interleave(
    df: DataFrame,
    strata_col: str,
    weights: Mapping[str, float],
    key: str,
    seed: str = "epoch0",
    default_weight: float = 1.0,
    bucket_chars: int = 2,
) -> DataFrame:
    """Deterministic mixture-aware training ORDER: interleave domains so
    that any prefix of the output order contains each domain at a rate
    proportional to its weight — the static-order form of
    examples-proportional mixing (the T5 recipe mixes per batch at
    sample time; writing the order once makes every epoch's mix exact,
    auditable, and identical across re-runs). Whereas
    :func:`mixture_reweight` decides WHICH rows survive, this decides
    WHEN each surviving row is seen.

    Mechanism — stride scheduling / weighted-fair-queueing virtual time
    (Waldspurger & Weihl 1995; Demers et al. 1989, both public): domain
    d's rows are shuffled content-deterministically (md5(key‖seed), the
    :func:`deterministic_shuffle` contract) to per-domain ranks
    r = 1..n_d, and row r is scheduled at virtual time
    ``vtime = (r − 0.5) / w_d``. Sorting by vtime interleaves domains at
    exactly their weight ratios (a weight-2 domain ships two rows for
    every one row of a weight-1 domain, from the very first rows — per-
    domain prefix counts never drift more than one stride from ``t·w_d``).
    Consumers write with ``orderBy(vtime, strata_col, key)`` — the
    tiebreak matters: domains SHARING a weight (two defaults, es/fr
    both 1.0) produce identical vtime at every rank, and sorting by
    vtime alone would leave their tie order partition-layout-dependent,
    the exact ``df.sample`` nondeterminism this module exists to avoid.
    Re-seeding re-deals both the within-domain order and the
    interleave.

    Scale shape — the per-domain rank is the grouped form of
    :func:`analytics.prefix_sum`, because ``row_number() OVER
    (PARTITION BY domain)`` would sort a constant FRACTION of the corpus
    in one task (the quantile_segment class of unscalable window). The
    range buckets are the HEX PREFIX of the md5 order key itself
    (``bucket_chars`` hex chars → 16^k contiguous, uniformly-filled
    ranges of the sort key): content-addressed, so no range-partitioner
    sampling job, and the per-(bucket, domain) window's hash exchange is
    the ONLY data-scale shuffle — ``repartitionByRange`` +
    ``spark_partition_id()`` would shuffle the data twice (the window
    re-hashes on the partition id). Per-bucket-domain running counts
    roll into exclusive offsets over a 16^k×#domains-row frame
    (metadata-scale; bucket hex order IS hash order, so offsets compose
    exactly), broadcast back. Equal hashes share a prefix, so the rank
    is exact and relayout-independent. ``key`` should be unique per row
    (the prefix_sum caveat: duplicate keys make intra-duplicate order
    nondeterministic); ``bucket_chars`` sizes tasks at ~n/16^k rows —
    raise it as the corpus grows.

    Weights must be > 0; unlisted domains get ``default_weight``; a NULL
    domain is rejected loudly per row (it would silently sort under the
    default weight while every count-based mixture op here refuses it).
    Returns ``df`` plus ``domain_rank`` (1-based within domain) and
    ``vtime`` (the global order key, reproducible in any engine)."""
    if default_weight <= 0 or any(w <= 0 for w in weights.values()):
        raise ValueError(
            "mixture_interleave: weights must be > 0 (drop a domain by "
            "filtering it out, not by zero-weighting it)"
        )
    if not 1 <= int(bucket_chars) <= 8:
        raise ValueError(
            f"mixture_interleave: bucket_chars must be in [1, 8], got "
            f"{bucket_chars} (16^k buckets; 8 is already 4.3e9 ranges)"
        )
    # a NULL key would md5 to a NULL bucket, and the offsets equi-join
    # on _bkt would then silently DROP the row (the same vanishing the
    # null-safe stratum join below exists to prevent) — reject loudly.
    # The NULL-stratum guard lives HERE too, not only in the weight
    # expression: _ord feeds _bkt, _run, and domain_rank, so every
    # output column depends on this check — a consumer whose projection
    # prunes vtime (selecting only domain_rank) still trips the raise,
    # whereas a guard carried only by wexpr would be pruned away with it
    ordk = F.when(
        F.col(key).isNull(),
        F.raise_error(
            F.lit(
                "mixture_interleave: NULL key — the row would be "
                "silently dropped at the offsets join; fill or filter "
                "the key column first"
            )
        ).cast("string"),
    ).when(
        F.col(strata_col).isNull(),
        F.raise_error(
            F.lit(
                "mixture_interleave: NULL stratum — rows may not be "
                "silently ordered under the default weight; fill or "
                "filter the domain column first"
            )
        ).cast("string"),
    ).otherwise(F.md5(F.concat(F.col(key).cast("string"), F.lit(seed))))
    d = df.withColumn("_ord", ordk).withColumn(
        "_bkt", F.substring("_ord", 1, int(bucket_chars))
    )
    w_in = (
        Window.partitionBy("_bkt", strata_col)
        .orderBy("_ord", key)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    d = d.withColumn("_run", F.count(F.lit(1)).over(w_in))
    # totals from the RAW input, not max(_run) off the windowed frame:
    # column pruning cuts this branch to a (key, domain) scan whose
    # count(*) partials combine map-side — only 16^k×#domains partial
    # rows cross the wire, no second data-scale shuffle and no second
    # window. (max(_run) reads nicer but re-shuffles narrow full rows
    # and re-runs WindowExec; the pruned branches never canonicalize
    # equal, so exchange reuse cannot rescue it.)
    tot = d.groupBy("_bkt", strata_col).agg(F.count("*").alias("_t"))
    w_off = (
        Window.partitionBy(strata_col)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = tot.select(
        F.col("_bkt").alias("_obkt"),
        F.col(strata_col).alias("_ostr"),
        F.coalesce(F.sum("_t").over(w_off), F.lit(0).cast("bigint")).alias(
            "_off"
        ),
    )
    # eqNullSafe, not a plain equi-join: a NULL stratum must SURVIVE the
    # join to reach the loud raise_error below — a plain join condition
    # would silently drop those rows instead, the exact failure mode the
    # guard exists to prevent
    out = d.join(
        F.broadcast(off),
        (F.col("_bkt") == F.col("_obkt"))
        & F.col(strata_col).eqNullSafe(F.col("_ostr")),
    ).drop("_obkt", "_ostr")
    wexpr: Column = F.lit(float(default_weight))
    for dom, wt in sorted(weights.items()):
        wexpr = F.when(F.col(strata_col) == F.lit(dom), F.lit(float(wt))).otherwise(wexpr)
    # belt-and-braces: the authoritative NULL-stratum raise is anchored
    # in _ord above (fires for ANY consumed output column); this second
    # copy keeps vtime self-guarding even if a future refactor rebuilds
    # it from a frame that bypassed the _ord derivation
    wexpr = F.when(
        F.col(strata_col).isNull(),
        F.raise_error(
            F.lit(
                "mixture_interleave: NULL stratum — rows may not be "
                "silently ordered under the default weight; fill or "
                "filter the domain column first"
            )
        ).cast("double"),
    ).otherwise(wexpr)
    rank = (F.col("_run") + F.col("_off")).cast("bigint")
    return (
        out.withColumn("domain_rank", rank)
        .withColumn(
            "vtime", (rank.cast("double") - F.lit(0.5)) / wexpr
        )
        .drop("_ord", "_bkt", "_run", "_off")
    )


def weighted_sample_logw(
    df: DataFrame,
    key: str,
    log_weight_col: str,
    k: int,
    salt: str = "wsample",
    priority_col: str = "priority",
) -> DataFrame:
    """:func:`weighted_sample_topk` for LOG-scale weights: rank by
    ``ln(u)/w`` computed as ``-exp(ln(-ln u) − L)`` with ``L = ln w``, so
    importance weights like DSIR's ``log_weight`` (whose ``exp`` over- or
    underflows doubles long before the corpus runs out of dynamic range)
    never materialize. Monotone in the A-ES priority ``u^(1/w)`` — the
    top-k ARE the same weighted sample without replacement, with the same
    content-hash determinism contract (relayout/re-run/engine-stable).

    ``u ∈ (0, 1]`` from `hash_uniform`; ``u = 1`` makes ``ln(-ln u)``
    −inf and the priority exactly 0 — the maximum, consistent with
    ``u^(1/w) = 1``. Any finite ``log_weight`` is valid (negative means
    down-weighted, not excluded); a NULL log_weight is rejected loudly
    (the `weighted_sample_topk` family contract) — a NULL priority would
    sort last and silently exclude the row, e.g. docs that fell out of a
    left join against `dsir_importance_weights` output."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    big_l = F.col(log_weight_col).cast("double")
    u = hash_uniform(key, salt)
    # u == 1 would make log(-log u) = log(0), which Spark returns as NULL
    # (not -inf) — pin the limit value 0 explicitly so the row sorts
    # first, as u^(1/w) = 1 demands, instead of NULL sorting last
    pri = F.when(
        big_l.isNull(),
        F.raise_error(
            F.lit(
                "weighted_sample_logw: NULL log_weight — rows may not be "
                "silently dropped; fill or filter weights before sampling"
            )
        ).cast("double"),
    ).otherwise(
        F.when(u == 1.0, F.lit(0.0)).otherwise(
            -F.exp(F.log(-F.log(u)) - big_l)
        )
    )
    return (
        df.withColumn(priority_col, pri)
        .orderBy(F.desc(priority_col), F.asc(key))
        .limit(k)
    )
