"""Resampling statistics: distributed bootstrap.

Reference: ``bootstrap`` (gofast/stats/inferential.py:1713) draws ``n``
with-replacement resamples of an in-memory array and evaluates a statistic
on each.  At 100 TB you cannot materialize one resample, let alone 1000 —
the scalable re-expression is the **Poisson bootstrap** (the standard
large-scale variant: for N large, each row's multiplicity in a resample is
~Poisson(1), independent across rows).  Each partition draws, for every
row, one Poisson(1) weight per replicate with numpy (vectorized, one Arrow
batch in and one tiny partial-sums frame out), emits per-replicate partial
moments, and a single groupBy(replicate) reduce assembles the statistic —
total shuffled data is ``n_replicates x n_partitions`` rows regardless of
input size.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Cumulative Poisson(1) CDF, k = 0..11: e^-1 * sum_{i<=k} 1/i!.
POIS1_CDF = [
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238463, 0.9963401531726563, 0.9994058151824183,
    0.999916758850712, 0.9999897508033253, 0.999998874797402,
    0.9999998885745216, 0.9999999899522336, 0.9999999991683892,
]

# The uniform draw has 31-bit resolution (u = h/2^31 with integer h), so
# the inverse-CDF comparison u < cdf[k] is EXACTLY h < ceil(cdf[k]*2^31)
# — integer thresholds computed once with exact rational arithmetic.
# Both engines compare integers; no float literal crosses the SQL text
# (r9 guard: DuckDB's DECIMAL-literal -> double conversion is 1 ulp off
# for some 17-digit literals, four of them in this very table).
def _int_thresholds() -> list[int]:
    import math
    from fractions import Fraction

    return [math.ceil(Fraction(t) * 2**31) for t in POIS1_CDF]


POIS1_CDF_INT = _int_thresholds()


def _portable_uniform_int(key_col: str, seed: int):
    """31-bit integer uniform from the md5-based portable hash of
    (key, replicate, seed) — identical in Spark and DuckDB (see
    text.hashing.md5_hash64)."""
    from gofast_spark.text.hashing import md5_hash64

    s = F.concat(
        F.col(key_col).cast("string"),
        F.lit("_"),
        F.col("replicate").cast("string"),
        F.lit(f"_{seed}"),
    )
    return F.pmod(md5_hash64(s), F.lit(2**31))


def _poisson1_weight(h):
    """Inverse-CDF Poisson(1) draw from a 31-bit INTEGER uniform column
    (from :func:`_portable_uniform_int`) — integer comparisons only."""
    w = F.lit(len(POIS1_CDF_INT))
    for k in range(len(POIS1_CDF_INT) - 1, -1, -1):
        w = F.when(h < F.lit(POIS1_CDF_INT[k]), F.lit(k)).otherwise(w)
    return w


def poisson1_weight_sql(h_sql: str) -> str:
    """The same inverse-CDF draw as DuckDB SQL text (for oracle
    queries); ``h_sql`` must be the 31-bit INTEGER uniform expression
    (the md5 hash mod 2^31, NOT divided down to [0,1))."""
    cases = " ".join(
        f"WHEN {h_sql} < {POIS1_CDF_INT[k]} THEN {k}"
        for k in range(len(POIS1_CDF_INT))
    )
    return f"CASE {cases} ELSE {len(POIS1_CDF_INT)} END"


def bootstrap(
    df: DataFrame,
    value_col: str,
    *,
    n: int = 200,
    statistic: str = "mean",
    seed: int = 42,
    key_col: str | None = None,
) -> DataFrame:
    """Poisson-bootstrap distribution of ``statistic`` over ``value_col``.

    Returns a small DataFrame (replicate bigint, stat double) with one row
    per bootstrap replicate.  ``statistic``: 'mean', 'sum', or 'std'
    (population std of the weighted resample).

    Two draw modes:

    - ``key_col=None`` (default): numpy Poisson(1) weights per partition,
      seeded ``seed * 100003 + partition`` — fast, but deterministic only
      for a fixed input partitioning.
    - ``key_col='id'``: **portable** draws — each row's weight in each
      replicate is an inverse-CDF Poisson(1) from the md5 hash of
      (key, replicate, seed).  Partitioning-independent AND reproducible
      in plain SQL, so the differential oracle can verify the whole
      bootstrap distribution, not just its shape.  The plan explodes
      ``n`` replicates per row but partially aggregates per replicate
      map-side, so the shuffle still carries only
      ``n x partitions`` rows.
    """
    if statistic not in ("mean", "sum", "std"):
        raise ValueError(f"unsupported statistic {statistic!r}")
    if key_col is not None:
        rows = (
            df.select(
                F.col(key_col).alias("__k"),
                F.col(value_col).cast("double").alias("x"),
            )
            .na.drop(subset=["x"])
            .select(
                "__k",
                "x",
                F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias(
                    "replicate"
                ),
            )
        )
        h = _portable_uniform_int("__k", seed)
        weighted = rows.select(
            F.col("replicate").cast("bigint").alias("replicate"),
            _poisson1_weight(h).cast("double").alias("w"),
            "x",
        )
        agg = weighted.groupBy("replicate").agg(
            F.sum("w").alias("w"),
            F.sum(F.col("w") * F.col("x")).alias("wx"),
            F.sum(F.col("w") * F.col("x") * F.col("x")).alias("wx2"),
        )
        return _bootstrap_stat(agg, statistic)
    src = df.select(F.col(value_col).cast("double").alias("x")).na.drop()

    def partials(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        rng = np.random.default_rng(seed * 100003 + pid)
        acc_w = np.zeros(n)
        acc_wx = np.zeros(n)
        acc_wx2 = np.zeros(n)
        for pdf in batches:
            x = pdf["x"].to_numpy(dtype=float)
            if len(x) == 0:
                continue
            # (rows x replicates) Poisson(1) weights, reduced immediately
            w = rng.poisson(1.0, size=(len(x), n))
            acc_w += w.sum(axis=0)
            acc_wx += x @ w
            acc_wx2 += (x * x) @ w
        yield pd.DataFrame(
            {
                "replicate": np.arange(n, dtype="int64"),
                "w": acc_w,
                "wx": acc_wx,
                "wx2": acc_wx2,
            }
        )

    parts = src.mapInPandas(
        partials, schema="replicate bigint, w double, wx double, wx2 double"
    )
    agg = parts.groupBy("replicate").agg(
        F.sum("w").alias("w"),
        F.sum("wx").alias("wx"),
        F.sum("wx2").alias("wx2"),
    )
    return _bootstrap_stat(agg, statistic)


def _bootstrap_stat(agg: DataFrame, statistic: str) -> DataFrame:
    if statistic == "sum":
        stat = F.col("wx")
    elif statistic == "mean":
        stat = F.col("wx") / F.col("w")
    else:  # std
        mean = F.col("wx") / F.col("w")
        stat = F.sqrt(F.col("wx2") / F.col("w") - mean * mean)
    return agg.select("replicate", stat.alias("stat"))


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    *,
    n: int = 200,
    statistic: str = "mean",
    ci: float = 0.95,
    seed: int = 42,
) -> tuple[float, float]:
    """Percentile confidence interval from the bootstrap distribution
    (reference ``bootstrap(return_ci=True)``).  Collects only the ``n``
    replicate statistics — bounded by contract."""
    import numpy as np

    stats = np.array(
        [
            r["stat"]
            for r in bootstrap(
                df, value_col, n=n, statistic=statistic, seed=seed
            ).collect()
        ]
    )
    lo = (1.0 - ci) / 2.0
    return (
        float(np.quantile(stats, lo)),
        float(np.quantile(stats, 1.0 - lo)),
    )


def permutation_sign_test(
    df: DataFrame,
    order_col: str,
    value_col: str,
    *,
    n_perms: int = 500,
    units: float = 1e4,
) -> DataFrame:
    """Sign-flip permutation test that a (difference) series is
    symmetric about zero (Fisher's randomization test, *Design of
    Experiments* 1935; the exact nonparametric alternative to the
    one-sample t): compare |sum(x)| against the null distribution of
    ``sum(s_p * x)`` over deterministic +/-1 sign vectors.

    Signs come from the portable md5 hash of (row key, perm id), so
    the 'random' flips are bit-reproducible on any engine — the same
    determinism trick as the weighted sampler; the per-permutation
    sums are exact quantized integers.  Shapes: rows x ``n_perms``
    explode of the ROLLUP-sized series, one groupBy(perm).  Output:
    ``(observed_mean, p_value, n, n_perms)`` with the add-one
    (Phipson & Smyth 2010) p-value."""
    from gofast_spark.text.hashing import md5_hash64

    vu = F.floor(F.col(value_col).cast("double") * F.lit(units)
                 + F.lit(0.5)).cast("bigint")
    base = df.where(F.col(value_col).isNotNull()).select(
        F.col(order_col).cast("bigint").alias("__o"), vu.alias("__vu")
    )
    obs = base.agg(
        F.sum(F.col("__vu").cast("decimal(19,0)")).alias("__obs"),
        F.count(F.lit(1)).alias("__n"),
    )
    perms = base.select(
        "__o", "__vu",
        F.explode(F.sequence(F.lit(1), F.lit(n_perms))).alias("__p"),
    )
    sign = (
        md5_hash64(
            F.concat(F.col("__o").cast("string"), F.lit(":"),
                     F.col("__p").cast("string"))
        ) % 2 * 2 - 1
    ).cast("bigint")
    stats = perms.groupBy("__p").agg(
        F.sum((sign * F.col("__vu")).cast("decimal(19,0)"))
        .alias("__st")
    )
    hits = stats.crossJoin(F.broadcast(obs)).agg(
        F.sum(
            F.when(F.abs(F.col("__st")) >= F.abs(F.col("__obs")), 1)
            .otherwise(0)
        ).alias("__hits"),
        F.first("__obs").alias("__obs"),
        F.first("__n").alias("__n"),
    )
    return hits.select(
        (F.col("__obs").cast("double") / F.col("__n").cast("double")
         / F.lit(units)).alias("observed_mean"),
        ((F.col("__hits") + F.lit(1)).cast("double")
         / F.lit(float(n_perms + 1))).alias("p_value"),
        F.col("__n").cast("bigint").alias("n"),
        F.lit(n_perms).cast("int").alias("n_perms"),
    )


def jackknife_ratio(
    df: DataFrame,
    num_col: str,
    den_col: str,
    *,
    num_quantize: int = 1_000_000,
    ratio_quantize: int = 1000,
) -> DataFrame:
    """Delete-one jackknife variance and bias of the ratio estimator
    R = sum(x) / sum(y) (Quenouille 1956; Tukey 1958; Efron 1982 ch.
    2) — the classic survey-sampling ratio diagnostic, exactly
    computable in ONE scan because the leave-one-out replicate has
    the closed form R_(i) = (Sx - x_i) / (Sy - y_i):

        var_jack  = (n-1)/n * sum_i (R_(i) - Rbar)^2
        bias_jack = (n-1) * (Rbar - R)

    Numerators quantize to micro-units (exact money domain) and every
    per-row replicate is floor-quantized to ``1/ratio_quantize`` of a
    micro-unit-per-den-unit BEFORE summation, so the replicate sums
    are pure integers and commute across partitions (the u6-summand
    discipline).  Totals arrive via one broadcast spine row."""
    x = F.floor(
        F.col(num_col).cast("double") * F.lit(float(num_quantize))
        + F.lit(0.5)
    ).cast("bigint")
    # floor (not cast) the denominator: Spark's double->bigint cast
    # truncates toward zero while DuckDB's rounds — floor is the one
    # spelling both engines share, and it matches the oracle's
    # CAST(floor(...) AS BIGINT)
    y = F.floor(F.col(den_col).cast("double")).cast("bigint")
    base = df.where(
        F.col(num_col).isNotNull() & F.col(den_col).isNotNull()
    ).select(x.alias("__x"), y.alias("__y"))
    tot = base.agg(
        F.sum(F.col("__x").cast("decimal(19,0)")).alias("__sx"),
        F.sum(F.col("__y").cast("decimal(19,0)")).alias("__sy"),
        F.count(F.lit(1)).alias("__n"),
    )
    j = base.crossJoin(F.broadcast(tot))
    r_i = (
        (F.col("__sx") - F.col("__x")).cast("double")
        / (F.col("__sy") - F.col("__y")).cast("double")
    )
    rq = F.floor(r_i * F.lit(float(ratio_quantize))).cast("bigint")
    agg = j.agg(
        F.sum(rq.cast("decimal(19,0)")).alias("sr"),
        F.sum(rq.cast("decimal(19,0)") * rq).alias("sr2"),
        F.max("__n").alias("n"),
        F.max("__sx").alias("sx"),
        F.max("__sy").alias("sy"),
    )
    scale = float(num_quantize) * float(ratio_quantize)
    n = F.col("n").cast("double")
    sr = F.col("sr").cast("double")
    sr2 = F.col("sr2").cast("double")
    theta = F.col("sx").cast("double") / F.col("sy").cast("double") / float(
        num_quantize
    )
    rbar = sr / n / scale
    var_jack = (
        (n - 1.0)
        / n
        * (sr2 - sr * sr / n)
        / F.lit(scale * scale)
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        theta.alias("theta_hat"),
        rbar.alias("theta_jack"),
        F.sqrt(var_jack).alias("se_jack"),
        ((n - 1.0) * (rbar - theta)).alias("bias_jack"),
    )
