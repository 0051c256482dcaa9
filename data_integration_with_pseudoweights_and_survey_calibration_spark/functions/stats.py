"""Weighted-moment aggregate expressions (SURVEY §2 E2/E3/E9).

These are the ``svytotal`` / ``svymean`` primitives of the reference
(``taylor_deviate.R:968,993``, ``simu_fun.R:315``) expressed as single
-pass Spark aggregate expressions (map-side partial aggregation for
free).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def weighted_total(value: str | Column, weight: str | Column) -> Column:
    """svytotal: sum(w * x)."""
    return F.sum(_c(weight) * _c(value))


def weighted_mean(value: str | Column, weight: str | Column) -> Column:
    """svymean: sum(w * x) / sum(w)."""
    return F.sum(_c(weight) * _c(value)) / F.sum(_c(weight))


def weighted_var(value: str | Column, weight: str | Column) -> Column:
    """Weighted (population-style) variance sum(w*(x-mu)^2)/sum(w),
    computed single-pass as E[x^2] - E[x]^2 under weights."""
    w = _c(weight)
    x = _c(value)
    mean = F.sum(w * x) / F.sum(w)
    mean_sq = F.sum(w * x * x) / F.sum(w)
    return mean_sq - mean * mean


def weighted_quantiles(
    df, value: str, weight: str, probs: list[float]
):
    """Design-weighted quantiles (lower/type-1: smallest x with
    cumulative weight share >= p) — the survey-methodology staple the
    reference reaches via ``survey::svyquantile``-style summaries.

    Scale shape: the deterministic-bucket prefix-offset cumsum
    (``functions/cumsum.partitioned_cumsum`` — quantile-edge buckets
    assigned as a PURE FUNCTION of the value, per-bucket parallel
    windows, driver prefix offsets), then ALL probs resolved in one
    pass via a broadcast probs table.  Returns (prob, q); empty input
    (or all-null weights) returns an empty frame.

    Determinism note: an earlier version range-partitioned by value and
    labeled buckets with ``spark_partition_id()``. That pattern is NOT
    re-evaluation-stable — each physical execution of a
    ``repartitionByRange`` exchange re-samples its boundaries with a
    fresh RDD id, so when Catalyst evaluates the frame once for the
    partition totals and again for the probe side (exchange reuse is an
    optimization, not a guarantee; the survey_scalars broadcast chain
    broke it), the two passes can disagree on bucket membership and the
    offsets silently shift the cumulative weights (observed at sf0.1:
    quantiles off by one data point, varying run to run). Bucket labels
    must depend only on the DATA."""
    from .cumsum import partitioned_cumsum

    spark = df.sparkSession
    probs_df = spark.createDataFrame(
        [(float(p),) for p in probs], "prob double"
    )
    n_part = spark.sparkContext.defaultParallelism
    base = df.select(F.col(value).alias("_x"), F.col(weight).alias("_w")).where(
        F.col("_x").isNotNull()
    )
    # Denominator over the SAME null-filtered rows as the cumulative
    # pass: with null values present, a whole-df total would make the
    # cumulative share top out below 1.0 and silently drop high-prob
    # quantiles from the output.
    tot = base.agg(F.sum("_w")).collect()[0][0]
    if tot is None:
        return probs_df.where(F.lit(False)).withColumn(
            "q", F.lit(None).cast("double")
        )
    # rangeBetween tie semantics: every tie row carries the full
    # tie-group cumulative, which is exactly the type-1 decision value
    cum = partitioned_cumsum(base, "_x", ["_w"], n_buckets=n_part).withColumn(
        "_cw", F.col("cum__w") / F.lit(float(tot))
    )
    return (
        cum.join(F.broadcast(probs_df), F.col("_cw") >= F.col("prob"))
        .groupBy("prob")
        .agg(F.min("_x").alias("q"))
    )
