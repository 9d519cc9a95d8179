"""gofast_spark.pin: the one eager-materialization primitive.

Covers the observed metrics on degenerate inputs, the pinned plan
shape, the per-call Spark job counts of operators built on it, the
``broadcast_limit=None`` contract of the gated broadcasts that read the
pin's row count, and a source guard that keeps hand-written
``localCheckpoint`` / ``Observation`` sites from coming back."""

from __future__ import annotations

import itertools
import pathlib
import re

import pytest
from pyspark.sql import functions as F

PKG = pathlib.Path(__file__).resolve().parent.parent / "gofast_spark"


def test_pin_observed_degenerate_inputs(spark):
    from gofast_spark.pin import pin_observed

    df = spark.range(5).select(F.col("id").alias("x"))
    empty_rdd = spark.createDataFrame(
        spark.sparkContext.emptyRDD(), "x long"
    )
    assert empty_rdd.rdd.getNumPartitions() == 0
    cases = {
        "empty_filter": (df.where(F.col("x") < 0), 0),
        "zero_partitions": (empty_rdd, 0),
        "one_row": (df.where(F.col("x") == 3), 1),
    }
    for name, (frame, n) in cases.items():
        pinned, m = pin_observed(frame, s=F.sum("x"))
        assert m["n"] == n, name
        assert m["s"] == (3 if n else None), name
        assert pinned.count() == n, name


def test_pin_keeps_rows_and_cuts_the_plan(spark):
    from gofast_spark.pin import pin, pin_observed

    df = spark.range(100).select((F.col("id") % 7).alias("k"))
    agg = df.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
    want = sorted(agg.collect())
    for pinned in (pin(agg), pin_observed(agg)[0]):
        plan = pinned._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert sorted(pinned.collect()) == want


def _events(spark):
    rows = [
        (1, 1, "view"), (1, 2, "click"), (1, 3, "buy"),
        (2, 1, "view"), (2, 5, "click"),
        (3, 2, "view"), (3, 1, "click"),
        (4, 4, "click"), (4, 6, "buy"),
    ]
    return spark.createDataFrame(rows, "u long, t long, ty string").select(
        "u", F.timestamp_seconds("t").alias("ts"), "ty"
    )


def _job_count_cases(spark):
    """name -> zero-argument callable returning the operator's output."""
    from gofast_spark.dedup.cluster import connected_components
    from gofast_spark.ml.encoding import target_encode
    from gofast_spark.ml.graph import kcore_members
    from gofast_spark.operators.funnel import funnel
    from gofast_spark.text.cooccur import bigram_pmi

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (1, 4), (2, 4)],
        "src long, dst long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 6), (7, 8), (8, 9)],
        "id_a long, id_b long",
    )
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            "new york is big", "new york city", "machine learning in new york",
            "machine learning rocks", "big city lights", "",
        ])],
        "id long, text string",
    )
    labeled = spark.createDataFrame(
        [("a", 1.0), ("a", 0.0), ("b", 1.0), (None, 1.0), ("c", 0.0)],
        "cat string, y double",
    )
    return {
        "funnel": lambda: funnel(
            _events(spark), "u", "ts", "ty", ["view", "click", "buy"]
        ),
        "kcore_members": lambda: kcore_members(edges, 3),
        "connected_components": lambda: connected_components(pairs),
        "bigram_pmi": lambda: bigram_pmi(docs, "text", min_count=1),
        "target_encode": lambda: target_encode(labeled, "cat", "y"),
    }


_GROUPS = itertools.count()


def _jobs_per_call(spark, build) -> int:
    sc = spark.sparkContext
    group = f"pin-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        build().collect()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# Spark jobs per call (operator call plus one collect of its output),
# local[8], AQE on.  Equal to the counts before these operators moved
# to gofast_spark.pin, except target_encode (10 before): its broadcast
# gate reads the pin's observed row count instead of running a
# count(), which under AQE was two jobs (shuffle map stage + result).
EXPECTED_JOBS = {
    "funnel": 9,
    "kcore_members": 14,
    "connected_components": 20,
    "bigram_pmi": 10,
    "target_encode": 8,
}


@pytest.mark.parametrize("name", sorted(EXPECTED_JOBS))
def test_jobs_per_call(spark, name):
    build = _job_count_cases(spark)[name]
    build().collect()  # warm: first-use planning must not skew the count
    assert _jobs_per_call(spark, build) == EXPECTED_JOBS[name]


def _broadcast_hints(df) -> int:
    return df._jdf.queryExecution().analyzed().toString().count(
        "strategy=broadcast"
    )


def test_broadcast_limit_none_always_broadcasts(spark):
    from gofast_spark.ml.encoding import target_encode
    from gofast_spark.ml.itemsets import frequent_pairs

    labeled = spark.createDataFrame(
        [("a", 1.0), ("a", 0.0), ("b", 1.0), (None, 1.0), ("c", 0.0)],
        "cat string, y double",
    )
    baskets = spark.createDataFrame(
        [(b, i) for b, items in enumerate([
            [1, 2, 3], [1, 2], [2, 3], [1, 2, 3, 4], [4, 5], [1, 2, 5],
        ]) for i in items],
        "basket long, item long",
    )
    for build in (
        lambda lim: target_encode(labeled, "cat", "y", broadcast_limit=lim),
        lambda lim: frequent_pairs(
            baskets, "basket", "item", min_support=2, broadcast_limit=lim
        ),
    ):
        default, unlimited = build(100_000), build(None)
        assert sorted(map(repr, unlimited.collect())) == sorted(
            map(repr, default.collect())
        )
        # the small inputs pass the default gate, so both plans carry
        # the gated broadcast hint on top of the unconditional ones,
        # which are all a closed gate leaves
        assert _broadcast_hints(unlimited) == _broadcast_hints(default)
        assert _broadcast_hints(build(0)) < _broadcast_hints(default)


_IDIOM = re.compile(r"localCheckpoint\(|Observation\(")
# observe_quality hands a lazy Observation to its caller by design
_ALLOWED = {"pin.py", "quality/observe.py"}


def test_materialization_idiom_lives_in_pin_only():
    offenders = [
        f"{p.relative_to(PKG)}:{i}"
        for p in sorted(PKG.rglob("*.py"))
        if p.relative_to(PKG).as_posix() not in _ALLOWED
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if _IDIOM.search(line)
    ]
    assert not offenders, (
        "eager materialization goes through gofast_spark.pin "
        f"(pin / pin_observed): {offenders}"
    )
