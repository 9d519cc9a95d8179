"""Sampling / splits (SURVEY §2.6).

Determinism contract (SURVEY §7.3.4): ``df.sample(seed)`` is
partitioning-dependent, so operators that must be reproducible across
engines/runs use **arithmetic hash sampling** on a stable key column — the
same LCG computable in any SQL dialect — mirroring the reference's
hash-of-id split (``split_train_test_by_id``,
gofast/core/array_manager.py:2356).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# LCG constants (glibc); applied to a bigint key this gives a deterministic
# pseudo-random bucket in [0, 100) that DuckDB/any engine reproduces exactly.
_LCG_A = 1103515245
_LCG_C = 12345
_LCG_M = 2147483648  # 2**31


def hash_bucket(key: Column, *, buckets: int = 100, seed: int = 0) -> Column:
    """Deterministic pseudo-random bucket of a bigint key (engine-portable).

    ``pmod`` forces a non-negative bucket for negative keys (Spark's ``%``
    keeps the dividend's sign, which would over-sample negative ids into
    low buckets).  Portability contract: exact cross-engine agreement holds
    for keys where ``(key + seed) * A + C`` fits in int64 (|key| < ~8.3e9);
    beyond that Spark wraps while DuckDB errors on overflow.
    """
    return F.pmod((key.cast("bigint") + seed) * _LCG_A + _LCG_C, F.lit(_LCG_M)) % buckets


def random_sampling(
    df: DataFrame,
    *,
    fraction: float | None = None,
    n: int | None = None,
    seed: int = 42,
    key: str | None = None,
    with_replacement: bool = False,
) -> DataFrame:
    """Sample a fraction or exact n rows, seeded.

    Reference: ``random_sampling`` (gofast/utils/data_utils.py:3524).

    - With ``key``: deterministic hash sampling (stable across runs,
      partitionings and engines) — the scale path.
    - Without ``key``: Spark native ``sample`` (fast, one pass) for
      fractions; exact-n via **two-phase threshold sampling** — tag rows
      with ``rand(seed)``, find the ~(n/N) quantile of the tag with a
      one-pass sketch, filter to the ~n surviving rows, and only sort
      that small survivor set.  The global sort of the raw table that
      ``orderBy(rand).limit(n)`` would cost never happens.
    """
    if fraction is None and n is None:
        raise ValueError("give fraction or n")
    if key is not None and fraction is not None:
        pct = int(round(fraction * 100))
        return df.where(hash_bucket(F.col(key), seed=seed) < pct)
    if fraction is not None:
        return df.sample(withReplacement=with_replacement, fraction=fraction, seed=seed)
    n = int(n)
    tagged = df.withColumn("__r", F.rand(seed))
    total = tagged.count()
    if total <= n:
        return tagged.drop("__r")
    # 20% slack over the exact quantile absorbs sketch error; the final
    # exact top-n sort touches only ~1.2*n rows
    frac = min(1.0, (n / total) * 1.2)
    thresh = tagged.agg(
        F.percentile_approx(F.col("__r"), frac, 10000).alias("t")
    ).first()["t"]
    survivors = tagged.where(F.col("__r") <= thresh)
    return survivors.orderBy(F.col("__r").asc()).limit(n).drop("__r")


def split_train_test_by_id(
    df: DataFrame,
    id_col: str,
    *,
    test_ratio: float = 0.2,
    seed: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Deterministic hash-of-id train/test split.

    Reference: ``split_train_test_by_id`` (gofast/core/array_manager.py:2356)
    — crc32(id) % max < ratio.  Same idea with the portable LCG bucket; a
    row's assignment never changes when data grows, which is the property
    the reference's docstring calls out.
    """
    cut = int(round(test_ratio * 100))
    b = hash_bucket(F.col(id_col), seed=seed)
    return df.where(b >= cut), df.where(b < cut)


def resample_data(
    frames: "Sequence[DataFrame]",
    key: str,
    *,
    fraction: float = 0.5,
    seed: int = 0,
) -> "list[DataFrame]":
    """Consistent sampling of several frames: the SAME keys survive in
    every frame (deterministic hash of the shared key), so joined
    downstream analyses stay aligned.

    Reference: ``resample_data`` (gofast/utils/data_utils.py:3187).
    """
    pct = int(round(fraction * 100))
    return [
        df.where(hash_bucket(F.col(key), seed=seed) < pct) for df in frames
    ]


def batch_sampling(
    df: DataFrame,
    key: str,
    *,
    n_batches: int = 4,
    batch_col: str = "batch_id",
    seed: int = 0,
) -> DataFrame:
    """Assign every row a deterministic batch id in [0, n_batches)
    (hash of the key — engine-portable, stable under data growth).

    Reference: ``batch_sampling`` (gofast/utils/data_utils.py:5677) —
    returns n separate samples there; Spark-idiomatically the batch id is
    a column (filter per batch, or ``partitionBy(batch_col)`` on write).
    """
    return df.withColumn(
        batch_col, hash_bucket(F.col(key), buckets=n_batches, seed=seed)
    )


def split_data(
    df: DataFrame,
    weights: "Sequence[float]",
    *,
    seed: int = 42,
    key: str | None = None,
) -> "list[DataFrame]":
    """Split a frame by ratio.

    Reference: ``split_data`` (gofast/dataops/transformation.py:206).
    With ``key``: deterministic contiguous hash-bucket ranges (stable
    across runs/engines); without: native ``randomSplit``.
    """
    if key is None:
        return df.randomSplit(list(weights), seed=seed)
    total = sum(weights)
    bounds, acc = [], 0.0
    for w in weights:
        acc += w / total * 100
        bounds.append(int(round(acc)))  # integer bucket boundaries
    bounds[-1] = 100
    b = hash_bucket(F.col(key), seed=seed)
    out, lo = [], 0
    for hi in bounds:
        out.append(df.where((b >= lo) & (b < hi)))
        lo = hi
    return out


def spatial_sampling(
    df: DataFrame,
    x_col: str,
    y_col: str,
    key: str,
    *,
    cell_size: float = 1.0,
    fraction: float = 0.1,
    seed: int = 0,
    cell_col: str | None = None,
) -> DataFrame:
    """Spatially stratified sampling: rows hash-sample *within* grid
    cells, so the sampled set preserves the spatial distribution.

    Reference: ``spatial_sampling`` (gofast/utils/spatial_utils.py:3236).
    The cell key is ``(floor(x/δ), floor(y/δ))``; sampling is the
    deterministic key hash, so it needs no per-cell fraction dictionary
    (unlike ``sampleBy``) and scales to unbounded cell counts.
    """
    pct = int(round(fraction * 100))
    out = df.where(hash_bucket(F.col(key), seed=seed) < pct)
    if cell_col:
        out = out.withColumn(
            cell_col,
            F.concat_ws(
                "_",
                F.floor(F.col(x_col) / cell_size).cast("bigint"),
                F.floor(F.col(y_col) / cell_size).cast("bigint"),
            ),
        )
    return out


def shrunkformat(df: DataFrame, n: int = 5) -> DataFrame:
    """Truncated head view (shrunkformat, gofast/core/utils.py:1105) —
    ``limit`` keeps it a plan node (no driver collect)."""
    return df.limit(n)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    *,
    k: int,
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: the top-k
    rows by the exponential-key order of Efraimidis & Spirakis (2006),
    ``key = ln(u) / w`` with a portable per-id uniform ``u`` — a row's
    inclusion probability is proportional to its weight, and the whole
    draw is one TakeOrderedAndProject (no shuffle beyond top-k, no
    state, reproducible across engines and partitionings).

    This is the same machinery as DSIR's Gumbel top-k resampling
    (text/dsir.py) exposed as a general operator: any importance- or
    quality-weighted subset selection (eval-set carving, curriculum
    head sampling) is this one call.  Zero/negative/null weights are
    excluded (they cannot be drawn)."""
    from pyspark.sql import functions as F

    u_m = 2_147_483_648
    key = F.concat(
        F.lit(f"{seed}|"), F.col(id_col).cast("string")
    )
    u = (
        F.pmod(
            F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint"),
            F.lit(u_m),
        )
        / F.lit(float(u_m))
    )
    w = F.col(weight_col).cast("double")
    # ln(u)/w in (-inf, 0): maximizing it == the E-S key u^(1/w);
    # guard u=0 by the +1 shift into (0, 1]
    es_key = F.log((u * F.lit(u_m) + 1.0) / F.lit(float(u_m + 1))) / w
    return (
        df.where(w.isNotNull() & (w > 0))
        .withColumn("__es", es_key)
        .orderBy(F.col("__es").desc(), F.col(id_col))
        .limit(k)
        .drop("__es")
    )


def weighted_sample_per_group(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    group_cols,
    *,
    k: int,
    seed: int = 0,
) -> DataFrame:
    """Stratified :func:`weighted_sample`: an independent
    Efraimidis-Spirakis draw of ``k`` rows inside EVERY group (balanced
    per-source/per-language subsets — the corpus-curation staple).  One
    rank window partitioned by the group keys; state per group is the
    top-k heap, never the group's rows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    u_m = 2_147_483_648
    key = F.concat(F.lit(f"{seed}|"), F.col(id_col).cast("string"))
    u = (
        F.pmod(
            F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint"),
            F.lit(u_m),
        )
        / F.lit(float(u_m))
    )
    w = F.col(weight_col).cast("double")
    es_key = F.log((u * F.lit(u_m) + 1.0) / F.lit(float(u_m + 1))) / w
    win = Window.partitionBy(*groups).orderBy(
        F.col("__es").desc(), F.col(id_col)
    )
    return (
        df.where(w.isNotNull() & (w > 0))
        .withColumn("__es", es_key)
        .withColumn("__rn", F.row_number().over(win))
        .where(F.col("__rn") <= k)
        .drop("__es", "__rn")
    )


def neyman_sample(
    df: DataFrame,
    strata_col: str,
    value_col: str,
    id_col: str,
    *,
    total: int,
    seed: int = 0,
) -> DataFrame:
    """Optimal-allocation stratified sampling (Neyman, JRSS 1934):
    stratum h receives ``n_h = total * N_h S_h / sum(N_g S_g)`` — more
    budget where the stratum is bigger OR noisier, the
    minimum-variance allocation for estimating the population mean.

    ONE moment pass computes every stratum's exact milli-unit
    (N, sum, sumsq); rates broadcast back and rows keep
    ``md5_uniform(id, seed) < rate_h`` — a pure projection filter, so
    the sample is deterministic, repartition-stable, and replayable by
    an engine oracle.  Zero-variance or empty-budget strata sample
    nothing beyond the rate floor; rates clamp at 1.  Appends nothing —
    returns the sampled rows."""
    from gofast_spark.text.hashing import md5_hash64

    if total < 1:
        raise ValueError("total must be >= 1")
    x3 = F.floor(F.col(value_col).cast("double") * 1e3 + F.lit(0.5)).cast(
        "bigint"
    )
    per = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(F.col(strata_col).alias("__h"))
        .agg(
            F.count(F.lit(1)).alias("n_h"),
            F.sum(x3).alias("s_h"),
            F.sum(
                x3.cast("decimal(19,0)") * x3
            ).alias("ss_h"),
        )
    )
    nh = F.col("n_h").cast("double")
    sh = F.col("s_h").cast("double")
    ssh = F.col("ss_h").cast("double")
    sd = F.when(
        F.col("n_h") > 1,
        F.sqrt(
            (ssh - sh * sh / nh) / (nh - F.lit(1.0)) / F.lit(1e6)
        ),
    ).otherwise(F.lit(0.0))
    weights = per.select("__h", "n_h", (nh * sd).alias("w_h"))
    # deterministic float fold: cumulative over the stratum-ordered
    # window, last row picked by argmax — never an unordered double sum
    from pyspark.sql import Window

    w_cum = Window.orderBy("__h").rowsBetween(Window.unboundedPreceding, 0)
    tot = (
        weights.select("__h", F.sum("w_h").over(w_cum).alias("__c"))
        .agg(F.max_by(F.col("__c"), F.col("__h")).alias("__wsum"))
    )
    rates = weights.crossJoin(F.broadcast(tot)).select(
        "__h",
        "n_h",
        F.least(
            F.lit(1.0),
            F.lit(float(total))
            * F.col("w_h")
            / F.col("__wsum")
            / F.col("n_h").cast("double"),
        ).alias("rate"),
    )
    u = (
        F.pmod(
            md5_hash64(
                F.concat(
                    F.col(id_col).cast("string"), F.lit(f"_ney_{seed}")
                )
            ),
            F.lit(2**31),
        )
        / F.lit(float(2**31))
    )
    j = df.join(
        F.broadcast(rates.select(F.col("__h").alias(strata_col), "rate")),
        strata_col,
    )
    return j.where(u < F.col("rate")).drop("rate")
