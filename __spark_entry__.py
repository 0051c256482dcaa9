"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (SURVEY §7 minimum slice):
stack cohort+survey derived from ``orders`` -> weighted-logistic
propensity fit (IRLS, one distributed Gram pass per iteration) -> IPSW
pseudo-weights -> design-weighted prevalence + KW kernel weights.

``queries()`` / ``oracle_sql()`` register every SQL-expressible operator
from SURVEY §2 against the DuckDB oracle. Iterative model fits (H1/H2)
are validated by golden tests in ``tests/`` instead (SURVEY §5).

All floating outputs are rounded identically on both sides: per-row
arithmetic can differ between JVM and DuckDB libm by ~1 ulp, and
aggregation order differs, so raw doubles would sporadically
hash-mismatch; means (not grand sums) + round(…, 6) keep the comparison
deterministic.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_integration_with_pseudoweights_and_survey_calibration_spark.functions.design import (  # noqa: E402
    DesignMatrix,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.glm import (  # noqa: E402
    weighted_logistic,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.pseudoweights import (  # noqa: E402
    bw_nrd0,
    kw_weights,
    stack_samples,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.calibration import (  # noqa: E402
    composite_factors,
    greg_calibrate,
    grouped_matrix_product,
    post_stratify,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.cox import (  # noqa: E402
    cox_fit,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.influence import (  # noqa: E402
    cox_score_influence,
    gamma_influence,
    var_poisson,
    var_pps,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.hazard_influence import (  # noqa: E402
    hazard_influence,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.sampling import (  # noqa: E402
    domain_mix_sample,
    materialize_mixture,
    pps_sample,
    salted_agg,
    stratified_sample,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.jackknife import (  # noqa: E402
    jk_linear_replicates,
    jk_refit_grouped,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.survival import (  # noqa: E402
    absolute_risk,
    breslow_cum_hazard,
    gail_cum_hazard,
    hazard_grid,
    lambda_star_pop,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators import (  # noqa: E402
    bloom as bloom_ops,
    dedup as dedup_ops,
    html as html_ops,
    pii as pii_ops,
    quality as quality_ops,
    text as text_ops,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.dedup import (  # noqa: E402
    connected_components,
    embedding_cosine_pairs,
    exact_duplicates,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.asof import (  # noqa: E402
    asof_join,
    range_join,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.bpe import (  # noqa: E402
    learn_bpe_merges,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.embedding import (  # noqa: E402
    embedding_moments,
    embedding_pca,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.ordering import (  # noqa: E402
    corpus_shuffle_split,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.packing import (  # noqa: E402
    pack_sequences,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.pq import (  # noqa: E402
    ivfpq_topk,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.similarity import (  # noqa: E402
    brute_force_topk,
    ivf_topk,
    lsh_topk,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.text import (  # noqa: E402
    language_scores,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.text import (  # noqa: E402
    quality_features as text_quality_features,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.sources import tpch  # noqa: E402
from data_integration_with_pseudoweights_and_survey_calibration_spark.session import (  # noqa: E402
    AQE_OFF,
    scoped_conf,
)

SF0001 = "/root/testdata/sf0.001"

# Fixed propensity coefficients used by the oracle-checked weight queries
# (frozen so the scoring expressions B9/I1/I3 are SQL-expressible; the
# *fitted* path is exercised by entry() and golden tests).
GAMMA0, GAMMA1, GAMMA2 = -1.0, 0.05, 0.1
KW_H = 0.05  # fixed bandwidth for the oracle KW query
KW_TRIANG_H = 0.12  # wider fixed bandwidth for the triangular-kernel query


def _spark_units(sf_dir: str) -> str:
    """Spark-side derived units table (matches tpch.orders_units)."""
    return f"""
    SELECT o_orderkey AS id,
           {tpch.X1_SQL} AS x1,
           {tpch.X2_SQL} AS x2,
           {tpch.T_SQL_SPARK} AS t,
           {tpch.D_SQL} AS d,
           {tpch.WT_SQL} AS wt,
           o_orderkey
    FROM parquet.`{sf_dir}/orders.parquet`
    """


def _duck_units() -> str:
    return f"""
    SELECT o_orderkey AS id,
           {tpch.X1_SQL} AS x1,
           {tpch.X2_SQL} AS x2,
           {tpch.T_SQL} AS t,
           {tpch.D_SQL} AS d,
           {tpch.WT_SQL} AS wt,
           o_orderkey
    FROM orders
    """


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: IPSW + KW weighted prevalence on sf0.001 (SURVEY §7)."""
    return flagship(spark, SF0001)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cohort, survey = tpch.survey_frames(spark, sf_dir)
    # one scan for both scalars (survey size + population size)
    row = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr(f"cast({tpch.SURVEY_PRED} as int)")).alias("ns"),
        )
        .collect()[0]
    )
    a = row["ns"] / row["n"]
    stacked = stack_samples(cohort, survey, "wt", sampling_fraction=a).cache()
    stacked, x_cols = DesignMatrix("x1 + x2").attach(stacked)
    fit = weighted_logistic(stacked, x_cols, "trt", "w")
    scored = stacked.withColumn("p_score", fit.eta())
    cohort_s = scored.where(F.col("trt") == 1)
    survey_s = scored.where(F.col("trt") == 0)
    cohort_w = cohort_s.withColumn("ipsw", F.exp(-F.col("p_score")) / a)
    kw = kw_weights(
        cohort_s.select("id", "p_score"),
        survey_s.select("id", "p_score", "wt"),
        weight_col="wt",
    )
    cohort_w = cohort_w.join(kw.weights, "id")
    return cohort_w.agg(
        F.count(F.lit(1)).alias("n_cohort"),
        (F.sum(F.col("ipsw") * F.col("d")) / F.sum("ipsw")).alias("prev_ipsw"),
        (F.sum(F.col("kw") * F.col("d")) / F.sum("kw")).alias("prev_kw"),
        F.sum("ipsw").alias("ipsw_total"),
        F.sum("kw").alias("kw_total"),
    )


# ---------------------------------------------------------------------------
# Oracle-checked queries. Each pair computes the same thing on the same
# parquet; column names/aliases match exactly.
# ---------------------------------------------------------------------------


def _q_stack_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cohort, survey = tpch.survey_frames(spark, sf_dir)
    # one scan for both scalars (flagship's shape; formerly two
    # serialized count jobs — optimization round 11, guide §1.2)
    row = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr(f"cast({tpch.SURVEY_PRED} as int)")).alias("ns"),
        )
        .collect()[0]
    )
    a = row["ns"] / row["n"]
    stacked = stack_samples(cohort, survey, "wt", sampling_fraction=a)
    return stacked.select(
        "id",
        "trt",
        F.round("w", 6).alias("w"),
        F.round("w_s", 6).alias("w_s"),
    )


def _sql_stack_weights(sf_dir: str) -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    c AS (SELECT * FROM units WHERE {tpch.COHORT_PRED}),
    s AS (SELECT * FROM units WHERE {tpch.SURVEY_PRED}),
    a AS (SELECT (SELECT count(*) FROM s) * 1.0 / (SELECT count(*) FROM units) AS a)
    SELECT id, 1 AS trt, round(1.0, 6) AS w, round(1.0, 6) AS w_s FROM c
    UNION ALL
    SELECT id, 0 AS trt, round(wt, 6) AS w, round(wt * a.a, 6) AS w_s FROM s, a
    """


def _sql_ipsw_prevalence(sf_dir: str) -> str:
    # B9+I1+E3 with frozen gamma: score -> ipsw -> weighted prevalence.
    # Spark side lives in _q_prev_bw_scalars (fused with the Silverman
    # bandwidth pass since round 12).
    return f"""
    WITH units AS ({_duck_units()}),
    c AS (SELECT *, exp(-({GAMMA0} + {GAMMA1} * x1 + {GAMMA2} * x2)) AS ipsw
          FROM units WHERE {tpch.COHORT_PRED})
    SELECT count(*) AS n,
           round(sum(ipsw * d) / sum(ipsw), 6) AS prev,
           round(avg(ipsw), 6) AS ipsw_mean
    FROM c
    """


def _q_gram_means(spark: SparkSession, sf_dir: str, frames=None) -> DataFrame:
    """E4 Gram aggregation (as means for float stability)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cohort, survey = frames or tpch.survey_frames(spark, sf_dir)
    stacked = stack_samples(cohort, survey, "wt")
    stacked, cols = DesignMatrix("x1 + x2").attach(stacked)
    exprs = []
    for i, xi in enumerate(cols):
        for xj in cols[i:]:
            exprs.append(
                F.round(F.avg(F.col("w") * F.col(xi) * F.col(xj)), 6).alias(
                    f"g_{i}{cols.index(xj)}"
                )
            )
    return stacked.agg(*exprs)


def _sql_gram_means(sf_dir: str) -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    stacked AS (
      SELECT 1.0 AS w, x1, x2 FROM units WHERE {tpch.COHORT_PRED}
      UNION ALL
      SELECT wt AS w, x1, x2 FROM units WHERE {tpch.SURVEY_PRED}
    )
    SELECT round(avg(w * 1.0 * 1.0), 6) AS g_00,
           round(avg(w * 1.0 * x1), 6) AS g_01,
           round(avg(w * 1.0 * x2), 6) AS g_02,
           round(avg(w * x1 * x1), 6) AS g_11,
           round(avg(w * x1 * x2), 6) AS g_12,
           round(avg(w * x2 * x2), 6) AS g_22
    FROM stacked
    """


def _q_prev_bw_scalars(
    spark: SparkSession, sf_dir: str, frames
) -> tuple[DataFrame, DataFrame]:
    """The survey_scalars ``prev`` (B9+I1+E3 frozen-gamma IPSW
    prevalence) and ``h`` (I5 Silverman bandwidth) pieces from ONE
    aggregate pass over the cached cohort (optimization round 12,
    guide §1.2 / VERDICT-r11 item 6): both certificates aggregate the
    SAME frozen-score cohort, so the prevalence sums ride
    ``bw_nrd0``'s single job via ``extra_aggs`` — same partial-sum
    set over the same cache partitions as the former standalone
    aggregate (output captured byte-identical at three SFs).  The
    divisions and 6-dp rounds happen in the JVM on the collected
    literals, exactly where the old plan's final-aggregate projection
    computed them.  Both frames return as constant-foldable 1-row
    projections (the pre-round-11 wrappers re-aggregated the cache in
    the final action just to carry already-computed values)."""
    cohort, _ = frames
    c = cohort.withColumn(
        "p_score",
        F.lit(GAMMA0) + F.lit(GAMMA1) * F.col("x1") + F.lit(GAMMA2) * F.col("x2"),
    )
    # ipsw = exp(-p_score): the same frozen-score expression the
    # standalone prevalence piece derived (exp(-score))
    h, ex = bw_nrd0(
        c,
        "p_score",
        extra_aggs={
            "_n": F.count(F.lit(1)),
            "_sid": F.sum(F.exp(-F.col("p_score")) * F.col("d")),
            "_si": F.sum(F.exp(-F.col("p_score"))),
        },
    )
    bw = spark.range(1).select(F.round(F.lit(h), 8).alias("h"))
    prev = spark.range(1).select(
        F.lit(int(ex["_n"])).cast("long").alias("n"),
        F.round(
            F.lit(float(ex["_sid"])) / F.lit(float(ex["_si"])), 6
        ).alias("prev"),
        F.round(
            F.lit(float(ex["_si"])) / F.lit(float(int(ex["_n"]))), 6
        ).alias("ipsw_mean"),
    )
    return prev, bw


def _sql_bw_nrd0(sf_dir: str) -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    c AS (SELECT {GAMMA0} + {GAMMA1} * x1 + {GAMMA2} * x2 AS p_score
          FROM units WHERE {tpch.COHORT_PRED}),
    stats AS (
      SELECT stddev_samp(p_score) AS sd,
             quantile_cont(p_score, 0.75) - quantile_cont(p_score, 0.25) AS iqr,
             count(*) AS n
      FROM c
    )
    SELECT round(0.9 * least(sd, iqr / 1.34) * power(n, -0.2), 8) AS h, n
    FROM stats
    """



def _sql_kw_weights(sf_dir: str) -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    c AS (SELECT id, {GAMMA0} + {GAMMA1} * x1 + {GAMMA2} * x2 AS ps
          FROM units WHERE {tpch.COHORT_PRED}),
    s AS (SELECT id, {GAMMA0} + {GAMMA1} * x1 + {GAMMA2} * x2 AS ps, wt
          FROM units WHERE {tpch.SURVEY_PRED}),
    m AS (SELECT count(*) AS m FROM c),
    pairs AS (
      SELECT s.id AS sid, c.id AS cid, s.wt,
             exp(-((s.ps - c.ps) / {KW_H}) * ((s.ps - c.ps) / {KW_H}) / 2.0)
               / sqrt(2.0 * pi()) AS k
      FROM s CROSS JOIN c
    ),
    rs AS (SELECT sid, sum(k) AS rs FROM pairs GROUP BY sid),
    matched AS (
      SELECT cid, sum(p.wt * p.k / r.rs) AS kw
      FROM pairs p JOIN rs r ON p.sid = r.sid
      WHERE r.rs > 0
      GROUP BY cid
    ),
    unmatched AS (
      SELECT coalesce(sum(wt), 0.0) AS tot
      FROM (SELECT DISTINCT p.sid, p.wt FROM pairs p JOIN rs r ON p.sid = r.sid
            WHERE r.rs <= 0)
    )
    SELECT c.id AS id,
           round(coalesce(matched.kw, 0.0) + unmatched.tot / m.m, 6) AS kw
    FROM c LEFT JOIN matched ON c.id = matched.cid
    CROSS JOIN unmatched CROSS JOIN m
    """


# --- calibration layer ----------------------------------------------------

CELL_SQL = "d * 10 + o_orderkey % 7"  # B7 cell-code arithmetic


def _q_post_strat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6+B7+D5: post-stratification of cohort weights to population
    cell counts."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    units = spark.sql(_spark_units(sf_dir)).withColumn("cell", F.expr(CELL_SQL))
    cohort = units.where(F.expr(tpch.COHORT_PRED)).drop("o_orderkey")
    pop_totals = units.groupBy("cell").agg(
        F.count(F.lit(1)).cast("double").alias("Nh")
    )
    res = post_stratify(cohort, "cell", "wt", pop_totals)
    return res.df.select(
        "id",
        "cell",
        F.round("f", 9).alias("f"),
        F.round("post_wt", 6).alias("post_wt"),
    )


def _sql_post_strat(sf_dir: str) -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    cells AS (SELECT *, {CELL_SQL} AS cell FROM units),
    pop AS (SELECT cell, count(*) * 1.0 AS nh FROM cells GROUP BY cell),
    c AS (SELECT * FROM cells WHERE {tpch.COHORT_PRED}),
    hat AS (SELECT cell, sum(wt) AS nh_hat FROM c GROUP BY cell)
    SELECT c.id, c.cell,
           round(pop.nh / hat.nh_hat, 9) AS f,
           round(c.wt * pop.nh / hat.nh_hat, 6) AS post_wt
    FROM c JOIN hat ON c.cell = hat.cell JOIN pop ON c.cell = pop.cell
    """


def _q_greg_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I8: GREG g-weights calibrating cohort (1, x1) totals to the
    population benchmarks (N, sum x1)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    units = spark.sql(_spark_units(sf_dir))
    bench = units.agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.sum("x1").alias("sx1")
    ).collect()[0]
    cohort = units.where(F.expr(tpch.COHORT_PRED)).drop("o_orderkey")
    cohort = cohort.withColumn("_icpt", F.lit(1.0))
    res = greg_calibrate(
        cohort, "wt", ["_icpt", "x1"], [float(bench["n"]), float(bench["sx1"])]
    )
    # g rounded to 6 (not 9): the g-weights are quotients of sums over
    # the whole cohort, and at sf0.1 the Spark-vs-DuckDB summation-order
    # drift (~5e-10 relative) crosses a 9th-decimal rounding boundary
    # on ~1/50k rows — the standard 6-dp float-parity discipline applies
    return res.df.select(
        "id", F.round("g", 6).alias("g"), F.round("calib_wt", 6).alias("calib_wt")
    )


def _sql_greg_weights(sf_dir: str) -> str:
    # 2x2 Gram inverse via Cramer's rule; g = 1 + (V-Vhat)' G^-1 x.
    return f"""
    WITH units AS ({_duck_units()}),
    c AS (SELECT id, x1, wt FROM units WHERE {tpch.COHORT_PRED}),
    bench AS (SELECT count(*) * 1.0 AS v0, sum(x1) AS v1 FROM units),
    agg AS (SELECT sum(wt) AS g00, sum(wt * x1) AS g01,
                   sum(wt * x1 * x1) AS g11,
                   sum(wt) AS vh0, sum(wt * x1) AS vh1
            FROM c),
    coefs AS (
      SELECT ((bench.v0 - agg.vh0) * agg.g11 - (bench.v1 - agg.vh1) * agg.g01)
               / (agg.g00 * agg.g11 - agg.g01 * agg.g01) AS b0,
             ((bench.v1 - agg.vh1) * agg.g00 - (bench.v0 - agg.vh0) * agg.g01)
               / (agg.g00 * agg.g11 - agg.g01 * agg.g01) AS b1
      FROM agg, bench
    )
    SELECT c.id,
           round(1.0 + coefs.b0 + coefs.b1 * c.x1, 6) AS g,
           round(c.wt * (1.0 + coefs.b0 + coefs.b1 * c.x1), 6) AS calib_wt
    FROM c, coefs
    """


JK_G = 8  # groups for the oracle jackknife query


JK_COX_G = 90  # reference geometry: 90 leave-group-out replicates


def _q_jk_cox_refits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I22 regime 2 -- the reference's compute hot spot (~90 jackknife
    replicates x iterative Cox refits per simulation replicate,
    ``jk_fun.R:314-374``): all 90 leave-group-out weighted Cox refits
    run in ONE applyInPandas job (Arrow-batched dense Newton per
    replicate group, executors in parallel). Iterative -> rows-only
    oracle; the fit itself is golden-tested in tests/.
    """
    from data_integration_with_pseudoweights_and_survey_calibration_spark.dense import dense_cox

    samp = _cohort_surv(spark, sf_dir).withColumn(
        "jk_group", (F.col("id") % JK_COX_G + 1).cast("int")
    )

    def fit(batch):
        import pandas as pd

        beta = dense_cox(
            batch[["x1", "x2"]].to_numpy(),
            batch["t"].to_numpy(),
            batch["d"].to_numpy(dtype=float),
            batch["wt"].to_numpy(),
        )
        return pd.DataFrame(
            {
                "replicate": [int(batch["replicate"].iloc[0])],
                "beta_x1": [float(beta[0])],
                "beta_x2": [float(beta[1])],
            }
        )

    # Project to what the refit actually reads before the explode
    # shuffle (guide §2.3 — `id` was shipped through the g x n pair
    # shuffle and never referenced by the fit).
    reps = jk_refit_grouped(
        samp.select("jk_group", "x1", "x2", "t", "d", "wt"),
        JK_COX_G,
        fit,
        "replicate int, beta_x1 double, beta_x2 double",
        rescale_cols=("wt",),
    )
    # replicate 0 = the full-data weighted Cox fit (H2, the operator the
    # replicates perturb), with its solver diagnostics; jackknife rows
    # carry NULL diagnostics. Folding the full fit in here keeps both
    # iterative certificates in one driver row.
    #
    # The 90-replicate Arrow refit job and the full fit's sequential
    # Newton jobs are independent; materialize the replicate frame in a
    # second driver thread while the Newton loop runs (optimization
    # round 11, guide §2.6) — the refit job's executor work backfills
    # the scheduling-latency-bound Newton passes.
    from concurrent.futures import ThreadPoolExecutor

    # AQE_OFF across the WHOLE overlap region, not only cox_fit's own
    # Newton scope: the replicate checkpoint is planned concurrently and
    # must see ONE deterministic value whichever thread gets there
    # first.  Its only exchange is the user-specified repartition on
    # the group key, which AQE never touches anyway — output captured
    # byte-identical at sf0.001/0.01/0.1.
    with scoped_conf(spark, AQE_OFF), ThreadPoolExecutor(max_workers=1) as pool:
        reps_fut = pool.submit(lambda: reps.localCheckpoint(eager=True))
        full = cox_fit(samp, ["x1", "x2"], w="wt")
        reps = reps_fut.result()
    spark = samp.sparkSession
    full_row = spark.createDataFrame(
        [
            (
                0,
                float(full.beta[0]),
                float(full.beta[1]),
                int(full.n_iter),
                bool(full.converged),
                float(full.score_norm),
            )
        ],
        "replicate int, beta_x1 double, beta_x2 double,"
        " n_iter int, converged boolean, score_norm double",
    )
    return full_row.unionByName(
        reps, allowMissingColumns=True
    ).orderBy("replicate")


def _q_jk_replicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I22+G5 (linear regime): leave-group-out replicate totals from
    per-group partials, T_(k) = (T - T_k) * g/(g-1), PLUS the
    reference's jackknife variance combine over the ``tot_wtd``
    replicates, sum((g-1)/g * (theta_k - theta_bar)^2)
    (``calib_simu_noninf0315.R:228-233``) — replicates AND combine
    value-checked in one query (the combine columns repeat on every
    replicate row). Variance is computed from the UNROUNDED replicate
    totals on both sides; rounding happens only at the final select."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cohort, _ = tpch.survey_frames(spark, sf_dir)
    cohort = cohort.withColumn("jk_group", (F.col("id") % JK_G + 1).cast("int"))
    reps = jk_linear_replicates(
        cohort,
        {
            "tot_wt": F.sum("wt"),
            "tot_wtd": F.sum(F.col("wt") * F.col("d")),
        },
        JK_G,
    ).localCheckpoint(eager=True)  # g rows; 3 consumers below share one execution
    fac = float((JK_G - 1) / JK_G)
    mean = reps.agg(F.avg("tot_wtd")).collect()[0][0]
    dev = F.col("tot_wtd") - F.lit(mean)
    stats = reps.agg(
        F.round(F.lit(mean), 6).alias("theta_mean"),
        F.round(F.sum(F.lit(fac) * dev * dev), 4).alias("jk_var"),
    )
    return reps.crossJoin(F.broadcast(stats)).select(
        F.col("replicate").cast("int").alias("replicate"),
        F.round("tot_wt", 6).alias("tot_wt"),
        F.round("tot_wtd", 6).alias("tot_wtd"),
        "theta_mean",
        "jk_var",
    )


def _sql_jk_replicates(sf_dir: str) -> str:
    g = JK_G
    return f"""
    WITH units AS ({_duck_units()}),
    c AS (SELECT *, cast(id % {g} + 1 AS int) AS jk_group
          FROM units WHERE {tpch.COHORT_PRED}),
    parts AS (SELECT jk_group, sum(wt) AS p_wt, sum(wt * d) AS p_wtd
              FROM c GROUP BY jk_group),
    tot AS (SELECT sum(wt) AS t_wt, sum(wt * d) AS t_wtd FROM c),
    reps(replicate) AS (SELECT * FROM generate_series(1, {g})),
    theta AS (
      SELECT cast(reps.replicate AS int) AS replicate,
             (tot.t_wt - coalesce(parts.p_wt, 0.0)) * {g}.0 / {g - 1}.0
               AS tot_wt,
             (tot.t_wtd - coalesce(parts.p_wtd, 0.0)) * {g}.0 / {g - 1}.0
               AS tot_wtd
      FROM reps LEFT JOIN parts ON reps.replicate = parts.jk_group
      CROSS JOIN tot),
    m AS (SELECT avg(tot_wtd) AS mu FROM theta),
    v AS (SELECT round(sum({g - 1}.0 / {g}.0
                          * (tot_wtd - (SELECT mu FROM m))
                          * (tot_wtd - (SELECT mu FROM m))), 4) AS jk_var
          FROM theta)
    SELECT theta.replicate,
           round(theta.tot_wt, 6) AS tot_wt,
           round(theta.tot_wtd, 6) AS tot_wtd,
           round(m.mu, 6) AS theta_mean,
           v.jk_var
    FROM theta CROSS JOIN m CROSS JOIN v
    """


def _q_composite_factors(spark: SparkSession, sf_dir: str, frames=None) -> DataFrame:
    """I11 a_cv: effective-sample-size composite scaling factors."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cohort, survey = frames or tpch.survey_frames(spark, sf_dir)
    cohort = cohort.withColumn(
        "ipsw",
        F.exp(-(F.lit(GAMMA0) + F.lit(GAMMA1) * F.col("x1") + F.lit(GAMMA2) * F.col("x2"))),
    )
    a_c, a_s = composite_factors(cohort, survey, cohort_wt="ipsw", survey_wt="wt")
    return spark.createDataFrame(
        [(round(a_c, 9), round(a_s, 9))], "a_c double, a_s double"
    )


def _sql_composite_factors(sf_dir: str) -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    c AS (SELECT exp(-({GAMMA0} + {GAMMA1} * x1 + {GAMMA2} * x2)) AS ipsw
          FROM units WHERE {tpch.COHORT_PRED}),
    s AS (SELECT wt FROM units WHERE {tpch.SURVEY_PRED}),
    mo AS (
      SELECT (SELECT (var_samp(ipsw) / avg(ipsw * ipsw) + 1) / count(*) FROM c) AS cv_c,
             (SELECT (var_samp(wt) / avg(wt * wt) + 1) / count(*) FROM s) AS cv_s,
             (SELECT sum(ipsw) FROM c) AS s_c,
             (SELECT sum(wt) FROM s) AS s_s)
    SELECT round((s_c + s_s) * (1 - cv_c / (cv_c + cv_s)) / s_c / 2, 9) AS a_c,
           round((s_c + s_s) * (1 - cv_s / (cv_c + cv_s)) / s_s / 2, 9) AS a_s
    FROM mo
    """


def _q_tercile_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 quantile binning: exact-percentile tercile codes of x1."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cohort, _ = tpch.survey_frames(spark, sf_dir)
    qs = cohort.agg(F.expr("percentile(x1, array(0.3, 0.6))").alias("q")).collect()[0]["q"]
    out = cohort.withColumn(
        "x1_c",
        F.when(F.col("x1") <= float(qs[0]), 1)
        .when(F.col("x1") <= float(qs[1]), 2)
        .otherwise(3),
    )
    return out.groupBy("x1_c").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("x1"), 6).alias("mean_x1")
    )


def _sql_tercile_codes(sf_dir: str) -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    c AS (SELECT x1 FROM units WHERE {tpch.COHORT_PRED}),
    qs AS (SELECT quantile_cont(x1, 0.3) AS q1, quantile_cont(x1, 0.6) AS q2 FROM c),
    coded AS (SELECT CASE WHEN x1 <= qs.q1 THEN 1
                          WHEN x1 <= qs.q2 THEN 2 ELSE 3 END AS x1_c, x1
              FROM c, qs)
    SELECT x1_c, count(*) AS n, round(avg(x1), 6) AS mean_x1
    FROM coded GROUP BY x1_c
    """


def _q_absolute_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I16: absR(t*, x0) = 1 - exp(-Lambda(t*) e^{x0 beta}) over the
    Breslow grid at frozen beta and three x0 profiles."""
    lam = breslow_cum_hazard(
        _cohort_surv(spark, sf_dir), T_STAR, w="wt", rel_hzd="rel"
    )
    out = absolute_risk([0.1], [(0.0,), (1.0,), (2.0,)], lam)
    return out.select("t_star", "x0_id", F.round("absR", 9).alias("absR"))


def _sql_absolute_risk() -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    base AS (SELECT t, d, wt AS w, {REL_SQL} AS rel
             FROM units WHERE {tpch.COHORT_PRED}),
    g AS (SELECT t, sum(w * rel) AS we_sum, sum(w * d) AS nt, max(d) AS has_e
          FROM base GROUP BY t),
    rc AS (SELECT t, nt, has_e, sum(we_sum) OVER (ORDER BY t DESC) AS zt FROM g),
    cum AS (SELECT t, sum(nt / zt) OVER (ORDER BY t) AS cum
            FROM rc WHERE has_e > 0),
    ts(t_star) AS (VALUES {_TS_VALUES}),
    lam AS (SELECT ts.t_star, coalesce(max_by(cum.cum, cum.t), 0.0) AS l
            FROM ts LEFT JOIN cum ON cum.t <= ts.t_star GROUP BY ts.t_star),
    x0(x0_id, v) AS (VALUES (0, cast(0.0 as double)), (1, cast(1.0 as double)),
                            (2, cast(2.0 as double)))
    SELECT lam.t_star, x0.x0_id,
           round(1.0 - exp(-lam.l * exp(cast(0.1 as double) * x0.v)), 9) AS "absR"
    FROM lam CROSS JOIN x0
    """


# --- survival layer -------------------------------------------------------

REL_SQL = "exp(cast(0.1 as double) * x2)"  # frozen relative hazard for oracles
T_STAR = [2.0, 5.0, 10.0, 15.0, 20.0]
_TS_VALUES = ", ".join(f"(cast({x} as double))" for x in T_STAR)


def _cohort_surv(spark: SparkSession, sf_dir: str, frames=None) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cohort, _ = frames or tpch.survey_frames(spark, sf_dir)
    return cohort.withColumn("rel", F.expr(REL_SQL))


def _q_hazard_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E11+F1: weighted event/risk-set grid over derived event times."""
    g = hazard_grid(_cohort_surv(spark, sf_dir), w="wt", rel_hzd="rel")
    return g.select(
        "t",
        F.round("Nt", 6).alias("Nt"),
        F.round("lambda", 9).alias("lambda"),
        F.round("one_minus_ar", 9).alias("one_minus_ar"),
    )


def _sql_hazard_grid() -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    base AS (SELECT t, d, wt AS w, {REL_SQL} AS rel
             FROM units WHERE {tpch.COHORT_PRED}),
    g AS (SELECT t, sum(w * rel) AS we_sum, sum(w) AS w_sum,
                 sum(w * d) AS nt, max(d) AS has_e
          FROM base GROUP BY t),
    rc AS (SELECT t, nt, has_e,
                  sum(we_sum) OVER (ORDER BY t DESC) AS zt,
                  sum(w_sum) OVER (ORDER BY t DESC) AS yt
           FROM g)
    SELECT t, round(nt, 6) AS "Nt",
           round(nt / zt, 9) AS "lambda",
           round(yt / zt, 9) AS one_minus_ar
    FROM rc WHERE has_e > 0
    """


def _q_breslow_cum_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I17+F2+D4: Breslow cumulative baseline hazard at the t* grid."""
    out = breslow_cum_hazard(
        _cohort_surv(spark, sf_dir), T_STAR, w="wt", rel_hzd="rel"
    )
    return out.select("t_star", F.round("cum_hzd", 9).alias("cum_hzd"))


def _sql_breslow_cum_hazard() -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    base AS (SELECT t, d, wt AS w, {REL_SQL} AS rel
             FROM units WHERE {tpch.COHORT_PRED}),
    g AS (SELECT t, sum(w * rel) AS we_sum, sum(w * d) AS nt, max(d) AS has_e
          FROM base GROUP BY t),
    rc AS (SELECT t, nt, has_e, sum(we_sum) OVER (ORDER BY t DESC) AS zt FROM g),
    cum AS (SELECT t, sum(nt / zt) OVER (ORDER BY t) AS cum
            FROM rc WHERE has_e > 0),
    ts(t_star) AS (VALUES {_TS_VALUES})
    SELECT ts.t_star, round(coalesce(max_by(cum.cum, cum.t), 0.0), 9) AS cum_hzd
    FROM ts LEFT JOIN cum ON cum.t <= ts.t_star
    GROUP BY ts.t_star
    """


def _q_lambda_star_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I18: population hazard grid re-binned at the t* cut points."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pop = spark.sql(_spark_units(sf_dir)).drop("o_orderkey")
    out = lambda_star_pop(pop, t_star=T_STAR)
    return out.select(
        "t",
        F.round("lambda_star", 9).alias("lambda_star"),
        F.round("event_set", 6).alias("event_set"),
    )


def _sql_lambda_star_binned() -> str:
    bins = " + ".join(f"cast(t > cast({e} as double) as int)" for e in T_STAR)
    return f"""
    WITH units AS ({_duck_units()}),
    g AS (SELECT t, sum(d) AS nt, count(*) AS cnt, max(d) AS has_e
          FROM units GROUP BY t),
    rc AS (SELECT t, nt, has_e,
                  sum(cnt * 1.0) OVER (ORDER BY t DESC) AS zt FROM g),
    ev AS (SELECT t, (nt * 1.0)::DOUBLE AS event_set,
                  zt::DOUBLE AS risk_set
           FROM rc WHERE has_e > 0),
    binned AS (SELECT *, {bins} AS bin FROM ev)
    SELECT max(t) AS t,
           round(sum(event_set) / max_by(risk_set, t), 9) AS lambda_star,
           round(sum(event_set), 6) AS event_set
    FROM binned GROUP BY bin
    """


def _q_gail_cum_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I15+F4+D3: Gail cumulative hazard (population grid x sample AR)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    pop = spark.sql(_spark_units(sf_dir)).drop("o_orderkey")
    lam_star = lambda_star_pop(pop)
    samp = _cohort_surv(spark, sf_dir)
    out = gail_cum_hazard(lam_star, samp, T_STAR, w="wt", rel_hzd="rel")
    return out.select(
        "t_star",
        F.round("cum_hzd", 9).alias("cum_hzd"),
        F.round("samp_1_ar", 9).alias("samp_1_ar"),
    )


def _sql_gail_cum_hazard() -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    pg0 AS (SELECT t, sum(d) AS nt, count(*) AS cnt, max(d) AS has_e
            FROM units GROUP BY t),
    pg1 AS (SELECT t, nt, has_e,
                   sum(cnt * 1.0) OVER (ORDER BY t DESC) AS zt FROM pg0),
    pg AS (SELECT t, nt / zt AS lambda_star FROM pg1 WHERE has_e > 0),
    sbase AS (SELECT t, d, wt AS w, {REL_SQL} AS rel
              FROM units WHERE {tpch.COHORT_PRED}),
    sg0 AS (SELECT t, sum(w * rel) AS we_sum, sum(w) AS w_sum, max(d) AS has_e
            FROM sbase GROUP BY t),
    sg1 AS (SELECT t, has_e,
                   sum(we_sum) OVER (ORDER BY t DESC) AS zt,
                   sum(w_sum) OVER (ORDER BY t DESC) AS yt FROM sg0),
    sg AS (SELECT t, yt / zt AS ar FROM sg1 WHERE has_e > 0),
    all_t AS (SELECT t FROM pg UNION SELECT t FROM sg),
    filled AS (SELECT a.t,
                      coalesce(pg.lambda_star, 0.0) AS lam,
                      (SELECT min_by(sg.ar, sg.t) FROM sg WHERE sg.t >= a.t) AS arc
               FROM all_t a LEFT JOIN pg ON a.t = pg.t),
    kept AS (SELECT * FROM filled WHERE arc IS NOT NULL),
    cum AS (SELECT t, sum(lam * arc) OVER (ORDER BY t) AS cum FROM kept),
    ts(t_star) AS (VALUES {_TS_VALUES})
    SELECT ts.t_star,
           round(coalesce(max_by(cum.cum, cum.t), 0.0), 9) AS cum_hzd,
           coalesce(round((SELECT max_by(sg.ar, sg.t) FROM sg
                           WHERE sg.t <= ts.t_star), 9),
                    cast('NaN' as double)) AS samp_1_ar
    FROM ts LEFT JOIN cum ON cum.t <= ts.t_star
    GROUP BY ts.t_star
    """


def _q_cox_dfbeta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I12: Cox score influence / dfbeta at frozen beta (p=1, so the
    U_beta inverse is a scalar and the whole chain is SQL-expressible)."""
    samp = _cohort_surv(spark, sf_dir)
    inf = cox_score_influence(samp, ["x2"], [0.1], pw="wt")
    return inf.df.select(
        "id",
        F.round("ui_0", 9).alias("ui"),
        F.round("delta_beta_0", 9).alias("delta_beta"),
    )


def _sql_cox_dfbeta() -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    base AS (SELECT id, t, d, x2, wt, {REL_SQL} AS rel
             FROM units WHERE {tpch.COHORT_PRED}),
    g AS (SELECT t, sum(wt * rel) AS s0p, sum(wt * d) AS du,
                 sum(wt * rel * x2) AS s1p, sum(wt * rel * x2 * x2) AS s2p
          FROM base GROUP BY t),
    rc AS (SELECT t, du,
                  sum(s0p) OVER (ORDER BY t DESC) AS s0,
                  sum(s1p) OVER (ORDER BY t DESC) AS s1,
                  sum(s2p) OVER (ORDER BY t DESC) AS s2
           FROM g),
    cum AS (SELECT t, du, s0, s1, s2,
                   sum(du / s0) OVER (ORDER BY t) AS ca,
                   sum(du * s1 / (s0 * s0)) OVER (ORDER BY t) AS cb
            FROM rc),
    ub AS (SELECT -sum(du * (s2 / s0 - s1 * s1 / (s0 * s0))) AS u_beta
           FROM cum WHERE du > 0)
    SELECT b.id,
           round(b.d * (b.x2 - c.s1 / c.s0)
                 - b.rel * (b.x2 * c.ca - c.cb), 9) AS ui,
           round(b.wt * -(b.d * (b.x2 - c.s1 / c.s0)
                          - b.rel * (b.x2 * c.ca - c.cb)) / ub.u_beta, 9)
             AS delta_beta
    FROM base b JOIN cum c ON b.t = c.t CROSS JOIN ub
    """



# --- sampling / score-check / influence layer -----------------------------

PPS_N = 200  # sample size for the deterministic PPS oracle query
SCORE_B1, SCORE_B2 = 0.05, -0.02  # frozen beta for the Cox score check


def _q_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 ``sam.pps``: PPS-without-replacement via Efraimidis-Spirakis
    keys -log(u)/size with a hashed deterministic uniform (portable to
    the oracle; ``rand(seed)`` depends on input partitioning)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = orders.select(
        F.col("o_orderkey").alias("id"), F.col("o_totalprice").alias("size")
    )
    u = (dedup_ops.md5_int(F.col("id").cast("string")) + F.lit(1.0)) / F.lit(2.0**48)
    samp = pps_sample(base, "size", PPS_N, u=u)
    return samp.select("id", F.round("wt", 6).alias("wt"))


def _sql_pps_sample() -> str:
    return f"""
    WITH base AS (
      SELECT o_orderkey AS id, o_totalprice AS size,
             (('0x' || substr(md5(cast(o_orderkey AS varchar)), 1, 12))::BIGINT
              + 1.0) / 281474976710656.0 AS u
      FROM orders
    ),
    tot AS (SELECT sum(size) AS s FROM base),
    ranked AS (
      SELECT id, size FROM base ORDER BY -ln(u) / size LIMIT {PPS_N}
    )
    SELECT id, round(tot.s / ({PPS_N} * size), 6) AS wt
    FROM ranked CROSS JOIN tot
    """


def _q_cox_score(spark: SparkSession, sf_dir: str, frames=None) -> DataFrame:
    """I23 ``U``: Cox partial-likelihood score at a frozen beta -- the
    reference's solver self-check, one distributed grid pass."""
    samp = _cohort_surv(spark, sf_dir, frames)
    import numpy as np

    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.cox import (
        _grid_terms,
        _score_hessian,
    )

    grid = _grid_terms(samp, ["x1", "x2"], np.array([SCORE_B1, SCORE_B2]), "t", "d", "wt")
    u, _, norm = _score_hessian(grid, 2)
    return spark.createDataFrame(
        [(round(float(u[0]), 6), round(float(u[1]), 6), round(float(norm), 6))],
        "u_x1 double, u_x2 double, score_norm double",
    )


def _sql_cox_score() -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    base AS (SELECT t, d, x1, x2, wt,
                    exp({SCORE_B1} * x1 + {SCORE_B2} * x2) AS rel
             FROM units WHERE {tpch.COHORT_PRED}),
    g AS (SELECT t,
                 sum(wt * rel) AS s0p,
                 sum(wt * d) AS du,
                 sum(wt * rel * x1) AS s1p_0,
                 sum(wt * rel * x2) AS s1p_1,
                 sum(wt * d * x1) AS dx_0,
                 sum(wt * d * x2) AS dx_1
          FROM base GROUP BY t),
    rc AS (SELECT t, du, dx_0, dx_1,
                  sum(s0p) OVER (ORDER BY t DESC) AS s0,
                  sum(s1p_0) OVER (ORDER BY t DESC) AS s1_0,
                  sum(s1p_1) OVER (ORDER BY t DESC) AS s1_1
           FROM g),
    u AS (SELECT sum(dx_0 - du * s1_0 / s0) AS u0,
                 sum(dx_1 - du * s1_1 / s0) AS u1
          FROM rc WHERE du > 0)
    SELECT round(u0, 6) AS u_x1, round(u1, 6) AS u_x2,
           round(abs(u0) + abs(u1), 6) AS score_norm
    FROM u
    """


def _q_cox_newton_step(spark: SparkSession, sf_dir: str, frames=None) -> DataFrame:
    """One full Newton-Raphson update of the weighted Breslow Cox fit
    from a frozen beta0 — score U, observed information H (same single
    distributed grid pass as ``cox_fit``, ``operators/cox.py``), then
    the 2x2 solve written out as Cramer's rule so the ENTIRE update is
    value-checked against the oracle.  This certifies the inner loop of
    the engine's hardest iterative operator (H2): if one step matches
    exactly, the iteration the driver repeats is the reference's
    (``taylor_deviate.R:1167-1198`` evaluates the same structure)."""
    samp = _cohort_surv(spark, sf_dir, frames)
    import numpy as np

    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.cox import (
        _grid_terms,
        _score_hessian,
    )

    grid = _grid_terms(
        samp, ["x1", "x2"], np.array([SCORE_B1, SCORE_B2]), "t", "d", "wt"
    )
    u, h, _ = _score_hessian(grid, 2)
    det = h[0, 0] * h[1, 1] - h[0, 1] * h[0, 1]
    b1 = SCORE_B1 + (h[1, 1] * u[0] - h[0, 1] * u[1]) / det
    b2 = SCORE_B2 + (h[0, 0] * u[1] - h[0, 1] * u[0]) / det
    return spark.createDataFrame(
        [
            (
                round(float(h[0, 0]), 4),
                round(float(h[0, 1]), 4),
                round(float(h[1, 1]), 4),
                round(float(b1), 8),
                round(float(b2), 8),
            )
        ],
        "h_11 double, h_12 double, h_22 double, beta1_x1 double, beta1_x2 double",
    )


def _sql_cox_newton_step() -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    base AS (SELECT t, d, x1, x2, wt,
                    exp({SCORE_B1} * x1 + {SCORE_B2} * x2) AS rel
             FROM units WHERE {tpch.COHORT_PRED}),
    g AS (SELECT t,
                 sum(wt * rel) AS s0p,
                 sum(wt * d) AS du,
                 sum(wt * rel * x1) AS s1p_0,
                 sum(wt * rel * x2) AS s1p_1,
                 sum(wt * d * x1) AS dx_0,
                 sum(wt * d * x2) AS dx_1,
                 sum(wt * rel * x1 * x1) AS s2p_00,
                 sum(wt * rel * x1 * x2) AS s2p_01,
                 sum(wt * rel * x2 * x2) AS s2p_11
          FROM base GROUP BY t),
    rc AS (SELECT t, du, dx_0, dx_1,
                  sum(s0p) OVER (ORDER BY t DESC) AS s0,
                  sum(s1p_0) OVER (ORDER BY t DESC) AS s1_0,
                  sum(s1p_1) OVER (ORDER BY t DESC) AS s1_1,
                  sum(s2p_00) OVER (ORDER BY t DESC) AS s2_00,
                  sum(s2p_01) OVER (ORDER BY t DESC) AS s2_01,
                  sum(s2p_11) OVER (ORDER BY t DESC) AS s2_11
           FROM g),
    uh AS (SELECT sum(dx_0 - du * s1_0 / s0) AS u0,
                  sum(dx_1 - du * s1_1 / s0) AS u1,
                  sum(du * (s2_00 / s0 - s1_0 * s1_0 / (s0 * s0))) AS h00,
                  sum(du * (s2_01 / s0 - s1_0 * s1_1 / (s0 * s0))) AS h01,
                  sum(du * (s2_11 / s0 - s1_1 * s1_1 / (s0 * s0))) AS h11
           FROM rc WHERE du > 0)
    SELECT round(h00, 4) AS h_11, round(h01, 4) AS h_12, round(h11, 4) AS h_22,
           round({SCORE_B1} + (h11 * u0 - h01 * u1) / (h00 * h11 - h01 * h01), 8)
             AS beta1_x1,
           round({SCORE_B2} + (h00 * u1 - h01 * u0) / (h00 * h11 - h01 * h01), 8)
             AS beta1_x2
    FROM uh
    """


def _q_cox_scalars(
    spark: SparkSession, sf_dir: str, frames=None
) -> tuple[DataFrame, DataFrame]:
    """I23 + the H2 inner loop from ONE distributed grid pass
    (optimization round 11, guide §1.2): ``_q_cox_score`` and
    ``_q_cox_newton_step`` each evaluated the SAME
    ``_grid_terms``/``_score_hessian`` at the same frozen beta — two
    route probes plus two grid collects for one set of (u, H, norm)
    values.  One pass computes them once; both 1-row certificate
    frames are built from it with arithmetic identical to the
    standalone helpers (and to their DuckDB oracle twins)."""
    samp = _cohort_surv(spark, sf_dir, frames)
    import numpy as np

    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.cox import (
        _grid_terms,
        _score_hessian,
    )

    grid = _grid_terms(
        samp, ["x1", "x2"], np.array([SCORE_B1, SCORE_B2]), "t", "d", "wt"
    )
    u, h, norm = _score_hessian(grid, 2)
    score = spark.createDataFrame(
        [(round(float(u[0]), 6), round(float(u[1]), 6), round(float(norm), 6))],
        "u_x1 double, u_x2 double, score_norm double",
    )
    det = h[0, 0] * h[1, 1] - h[0, 1] * h[0, 1]
    b1 = SCORE_B1 + (h[1, 1] * u[0] - h[0, 1] * u[1]) / det
    b2 = SCORE_B2 + (h[0, 0] * u[1] - h[0, 1] * u[0]) / det
    newton = spark.createDataFrame(
        [
            (
                round(float(h[0, 0]), 4),
                round(float(h[0, 1]), 4),
                round(float(h[1, 1]), 4),
                round(float(b1), 8),
                round(float(b2), 8),
            )
        ],
        "h_11 double, h_12 double, h_22 double, beta1_x1 double, beta1_x2 double",
    )
    return score, newton


JK_NEWTON_G = 8


def _q_jk_newton_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I22 x H2 composition, value-checked: per jackknife replicate,
    one full Newton update of the weighted Cox fit (p=1) over the
    retained rows with weights rescaled g/(g-1) — the exact inner step
    ``jk_fun.R:314-374`` repeats with the iterative solver.  Runs as
    ONE distributed job: explode rows to their retained replicates,
    per-replicate grid aggregation + reverse-cumsum window + score/
    Hessian aggregate; only g rows reach the driver."""
    g = JK_NEWTON_G
    samp = _cohort_surv(spark, sf_dir).withColumn(
        "jk_group", (F.col("id") % g + 1).cast("int")
    )
    reps = samp.withColumn(
        "replicate", F.explode(F.array(*[F.lit(k) for k in range(1, g + 1)]))
    ).where(F.col("jk_group") != F.col("replicate"))
    wr = F.col("wt") * F.lit(float(g) / (g - 1))
    rel = F.exp(F.lit(SCORE_B1) * F.col("x1"))
    grid = reps.groupBy("replicate", F.col("t").alias("_t")).agg(
        F.sum(wr * rel).alias("s0p"),
        F.sum(wr * F.col("d")).alias("du"),
        F.sum(wr * rel * F.col("x1")).alias("s1p"),
        F.sum(wr * F.col("d") * F.col("x1")).alias("dx"),
        F.sum(wr * rel * F.col("x1") * F.col("x1")).alias("s2p"),
    )
    from pyspark.sql import Window

    rev = (
        Window.partitionBy("replicate")
        .orderBy(F.col("_t").desc())
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    rc = grid.select(
        "replicate",
        "du",
        "dx",
        F.sum("s0p").over(rev).alias("s0"),
        F.sum("s1p").over(rev).alias("s1"),
        F.sum("s2p").over(rev).alias("s2"),
    )
    uh = (
        rc.where(F.col("du") > 0)
        .groupBy("replicate")
        .agg(
            F.sum(F.col("dx") - F.col("du") * F.col("s1") / F.col("s0")).alias("u"),
            F.sum(
                F.col("du")
                * (
                    F.col("s2") / F.col("s0")
                    - F.col("s1") * F.col("s1") / (F.col("s0") * F.col("s0"))
                )
            ).alias("h"),
        )
    )
    return uh.select(
        F.col("replicate").cast("int").alias("replicate"),
        F.round(F.lit(SCORE_B1) + F.col("u") / F.col("h"), 8).alias("beta1_x1"),
    ).orderBy("replicate")


def _sql_jk_newton_steps() -> str:
    g = JK_NEWTON_G
    return f"""
    WITH units AS ({_duck_units()}),
    c AS (SELECT t, d, x1, wt, cast(id % {g} + 1 AS int) AS jk_group
          FROM units WHERE {tpch.COHORT_PRED}),
    reps(replicate) AS (SELECT * FROM generate_series(1, {g})),
    r AS (SELECT reps.replicate, c.t, c.d, c.x1,
                 c.wt * {g}.0 / {g - 1}.0 AS w,
                 exp({SCORE_B1} * c.x1) AS rel
          FROM c JOIN reps ON c.jk_group <> reps.replicate),
    grid AS (SELECT replicate, t,
                    sum(w * rel) AS s0p,
                    sum(w * d) AS du,
                    sum(w * rel * x1) AS s1p,
                    sum(w * d * x1) AS dx,
                    sum(w * rel * x1 * x1) AS s2p
             FROM r GROUP BY replicate, t),
    rc AS (SELECT replicate, du, dx,
                  sum(s0p) OVER (PARTITION BY replicate ORDER BY t DESC) AS s0,
                  sum(s1p) OVER (PARTITION BY replicate ORDER BY t DESC) AS s1,
                  sum(s2p) OVER (PARTITION BY replicate ORDER BY t DESC) AS s2
           FROM grid),
    uh AS (SELECT replicate,
                  sum(dx - du * s1 / s0) AS u,
                  sum(du * (s2 / s0 - s1 * s1 / (s0 * s0))) AS h
           FROM rc WHERE du > 0 GROUP BY replicate)
    SELECT cast(replicate AS int) AS replicate,
           round({SCORE_B1} + u / h, 8) AS beta1_x1
    FROM uh ORDER BY replicate
    """



def _sql_kw_derivative(sf_dir: str) -> str:
    h2 = KW_H * KW_H
    return f"""
    WITH units AS ({_duck_units()}),
    c AS (SELECT id, {GAMMA0} + {GAMMA1} * x1 + {GAMMA2} * x2 AS ps, x1
          FROM units WHERE {tpch.COHORT_PRED}),
    s AS (SELECT id, {GAMMA0} + {GAMMA1} * x1 + {GAMMA2} * x2 AS ps, wt, x1
          FROM units WHERE {tpch.SURVEY_PRED}),
    pairs AS (
      SELECT s.id AS sid, c.id AS cid, s.wt,
             exp(-((s.ps - c.ps) / {KW_H}) * ((s.ps - c.ps) / {KW_H}) / 2.0)
               / sqrt(2.0 * pi()) AS k,
             -(exp(-((s.ps - c.ps) / {KW_H}) * ((s.ps - c.ps) / {KW_H}) / 2.0)
               / sqrt(2.0 * pi()))
               * (s.ps - c.ps) * (s.x1 - c.x1) / {h2} AS kij
      FROM s CROSS JOIN c
    ),
    rs AS (SELECT sid, sum(k) AS rs, sum(kij) AS rk FROM pairs GROUP BY sid),
    d AS (
      SELECT p.cid,
             sum(p.wt * p.kij / r.rs
                 - p.wt * r.rk * p.k / (r.rs * r.rs)) AS kw_g
      FROM pairs p JOIN rs r ON p.sid = r.sid
      WHERE r.rs > 0
      GROUP BY p.cid
    )
    SELECT c.id AS id, round(coalesce(d.kw_g, 0.0), 6) AS kw_g
    FROM c LEFT JOIN d ON c.id = d.cid
    """



def _sql_kw_triang(sf_dir: str) -> str:
    h = KW_TRIANG_H
    h2 = h * h
    return f"""
    WITH units AS ({_duck_units()}),
    c AS (SELECT id, {GAMMA0} + {GAMMA1} * x1 + {GAMMA2} * x2 AS ps, x1
          FROM units WHERE {tpch.COHORT_PRED}),
    s AS (SELECT id, {GAMMA0} + {GAMMA1} * x1 + {GAMMA2} * x2 AS ps, wt, x1
          FROM units WHERE {tpch.SURVEY_PRED}),
    m AS (SELECT count(*) AS m FROM c),
    pairs AS (
      SELECT s.id AS sid, c.id AS cid, s.wt,
             greatest(0.0, 1.0 - abs((s.ps - c.ps) / {h})) AS k,
             -greatest(0.0, 1.0 - abs((s.ps - c.ps) / {h}))
               * (s.ps - c.ps) * (s.x1 - c.x1) / {h2} AS kij
      FROM s CROSS JOIN c
    ),
    rs AS (SELECT sid, sum(k) AS rs, sum(kij) AS rk FROM pairs GROUP BY sid),
    mt AS (
      SELECT p.cid,
             sum(p.wt * p.k / r.rs) AS kw,
             sum(p.wt * p.kij / r.rs
                 - p.wt * r.rk * p.k / (r.rs * r.rs)) AS kw_g
      FROM pairs p JOIN rs r ON p.sid = r.sid
      WHERE r.rs > 0
      GROUP BY p.cid
    ),
    un AS (SELECT s.id AS sid, s.wt, s.ps, s.x1
           FROM s JOIN rs r ON s.id = r.sid WHERE r.rs <= 0),
    untot AS (SELECT coalesce(sum(wt), 0.0) AS tot FROM un),
    upairs AS (
      SELECT u.sid, c.id AS cid, u.wt,
             -(1.0 / m.m) * (u.ps - c.ps) * (u.x1 - c.x1) / {h2} AS kij
      FROM un u CROSS JOIN c CROSS JOIN m
    ),
    urk AS (SELECT sid, sum(kij) AS rk FROM upairs GROUP BY sid),
    uextra AS (
      SELECT up.cid, sum(up.wt * up.kij - up.wt * k.rk / m.m) AS kw_g
      FROM upairs up JOIN urk k ON up.sid = k.sid CROSS JOIN m
      GROUP BY up.cid
    )
    SELECT c.id AS id,
           round(coalesce(mt.kw, 0.0) + untot.tot / m.m, 6) AS kw,
           round(coalesce(mt.kw_g, 0.0) + coalesce(uextra.kw_g, 0.0), 6) AS kw_g
    FROM c LEFT JOIN mt ON c.id = mt.cid
    LEFT JOIN uextra ON c.id = uextra.cid
    CROSS JOIN untot CROSS JOIN m
    """


LAM_T1, LAM_T2 = 5.0, 15.0  # t* grid for the Lambda-influence oracle


def _q_kw_kernels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I3+I4 for BOTH reference kernels in one kernel-labeled query:
    gaussian (``krn='gauss'``) and triangular (``krn='triang'``,
    ``simu_fun.R:129``) KW pseudo-weights AND their gamma-derivative.
    One banded pair pass per kernel computes kw and kw_g together
    (gemv-factored in the same block), so this consolidation is also
    the faster plan: the gaussian pair stream is materialized once, not
    once for weights and once for the derivative."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cohort, survey = tpch.survey_frames(spark, sf_dir)
    score = F.lit(GAMMA0) + F.lit(GAMMA1) * F.col("x1") + F.lit(GAMMA2) * F.col("x2")
    c = cohort.select("id", score.alias("p_score"), "x1")
    s = survey.select("id", score.alias("p_score"), "wt", "x1")

    def branch(label: str, kernel: str, h: float) -> DataFrame:
        res = kw_weights(
            c, s, weight_col="wt", h=h, kernel=kernel, deriv_cols=["x1"]
        )
        return res.weights.select(
            F.lit(label).alias("kernel"),
            "id",
            F.round("kw", 6).alias("kw"),
            F.round("kw_g_x1", 6).alias("kw_g"),
        )

    # The two kernel branches are fully independent (separate banded
    # pair passes); run their eager driver phases CONCURRENTLY
    # (optimization round 11, guide §2.6 "overlap independent jobs") —
    # the FIFO scheduler backfills one branch's block-job tail and
    # driver round trips with the other's tasks. Results are identical:
    # each branch is the same kw_weights call, just submitted from its
    # own driver thread, and both threads' AQE-off scopes join one
    # reentrant session-conf scope (``session.scoped_conf``).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fg = pool.submit(branch, "gauss", "dnorm", KW_H)
        ft = pool.submit(branch, "triang", "triang", KW_TRIANG_H)
        gauss, triang = fg.result(), ft.result()
    return gauss.unionByName(triang)


def _sql_kw_kernels(sf_dir: str) -> str:
    # reuse the three individually-certified oracle queries verbatim:
    # gaussian kw and kw_g joined on id, triangular already emits both
    return f"""
    SELECT 'gauss' AS kernel, w.id, w.kw, d.kw_g
    FROM ({_sql_kw_weights(sf_dir)}) w JOIN ({_sql_kw_derivative(sf_dir)}) d
      USING (id)
    UNION ALL
    SELECT 'triang' AS kernel, id, kw, kw_g FROM ({_sql_kw_triang(sf_dir)})
    """


def _q_lambda_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I13 (+gamma chain): per-row influence of Lambda(t*) at frozen
    beta (p=1) with frozen deterministic beta/gamma direction columns
    (q=1) -- the analytic-inference flagship chain
    (``taylor_deviate.R:746-900``) as a hash-checkable query. The
    direction columns stand in for the dfbeta / pseudo-weight-derivative
    stacks the full pipeline feeds in; the chain algebra (grid
    aggregates, reverse/forward cumulative series, as-of join, per-row
    combination) is exactly what runs in anger."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cohort, survey = tpch.survey_frames(spark, sf_dir)
    cols = ["id", "t", "d", "x1", "x2", "wt"]
    stacked = (
        cohort.select(*cols, F.lit(1).alias("trt"))
        .unionByName(survey.select(*cols, F.lit(0).alias("trt")))
        .withColumn("bw0", F.lit(0.001) * F.col("x1") * F.col("wt"))
        .withColumn("gw0", F.lit(0.0005) * F.col("x2") * F.col("wt"))
        .withColumn("pg0", F.lit(0.01) * F.col("x1"))
    )
    hi = hazard_influence(
        stacked,
        ["x2"],
        [0.1],
        [LAM_T1, LAM_T2],
        pw="wt",
        beta_wt_cols=["bw0"],
        gamma_wt_cols=["gw0"],
        pw_gamma_cols=["pg0"],
    )
    # `+ 0.0` canonicalizes IEEE negative zero (round can yield -0.0 on
    # one engine and +0.0 on the other; the value hash would differ)
    return hi.df.select(
        "id",
        "trt",
        (F.round("Lambda_wt_0", 9) + F.lit(0.0)).alias("lam_wt_0"),
        (F.round("Lambda_wt_1", 9) + F.lit(0.0)).alias("lam_wt_1"),
    )


def _sql_lambda_influence(sf_dir: str) -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    coh AS (SELECT id, t, d, x1, x2, wt, {REL_SQL} AS rel,
                   0.001 * x1 * wt AS bw0, 0.0005 * x2 * wt AS gw0,
                   0.01 * x1 AS pg0
            FROM units WHERE {tpch.COHORT_PRED}),
    svy AS (SELECT id, x1, x2, wt,
                   0.001 * x1 * wt AS bw0, 0.0005 * x2 * wt AS gw0
            FROM units WHERE {tpch.SURVEY_PRED}),
    g AS (SELECT t AS gt,
                 sum(wt * rel) AS zp, sum(wt * d) AS nt,
                 sum(wt * rel * x2) AS s1p,
                 sum(pg0 * d) AS gnp, sum(pg0 * rel) AS gzp
          FROM coh GROUP BY t),
    rc AS (SELECT gt, nt, gnp,
                  sum(zp) OVER (ORDER BY gt DESC) AS zt,
                  sum(s1p) OVER (ORDER BY gt DESC) AS s1,
                  sum(gzp) OVER (ORDER BY gt DESC) AS gz
           FROM g),
    ev AS (SELECT gt, zt,
                  sum(nt / (zt * zt)) OVER (ORDER BY gt) AS a,
                  sum((nt / zt) * s1 / zt) OVER (ORDER BY gt) AS cb,
                  sum((gnp - (nt / zt) * gz) / zt) OVER (ORDER BY gt) AS cnz
           FROM rc WHERE nt > 0),
    k AS (SELECT
            coalesce((SELECT arg_max(a, gt) FROM ev WHERE gt <= {LAM_T1}), 0.0) AS a_1,
            coalesce((SELECT arg_max(cb, gt) FROM ev WHERE gt <= {LAM_T1}), 0.0) AS cb_1,
            coalesce((SELECT arg_max(cnz, gt) FROM ev WHERE gt <= {LAM_T1}), 0.0) AS cnz_1,
            coalesce((SELECT arg_max(a, gt) FROM ev WHERE gt <= {LAM_T2}), 0.0) AS a_2,
            coalesce((SELECT arg_max(cb, gt) FROM ev WHERE gt <= {LAM_T2}), 0.0) AS cb_2,
            coalesce((SELECT arg_max(cnz, gt) FROM ev WHERE gt <= {LAM_T2}), 0.0) AS cnz_2),
    crows AS (
      SELECT c.id, 1 AS trt, c.t, c.d, c.wt, c.rel, c.bw0, c.gw0,
             coalesce(e.zt, 0.0) AS zt_asof, coalesce(e.a, 0.0) AS a_asof
      FROM coh c ASOF LEFT JOIN ev e ON c.t >= e.gt
    ),
    out AS (
      SELECT id, trt,
             (CASE WHEN d = 1 AND t <= {LAM_T1} THEN wt / zt_asof ELSE 0.0 END)
               - wt * rel * least(a_asof, k.a_1)
               + gw0 * k.cnz_1 - bw0 * k.cb_1 AS lam_wt_0,
             (CASE WHEN d = 1 AND t <= {LAM_T2} THEN wt / zt_asof ELSE 0.0 END)
               - wt * rel * least(a_asof, k.a_2)
               + gw0 * k.cnz_2 - bw0 * k.cb_2 AS lam_wt_1
      FROM crows CROSS JOIN k
      UNION ALL
      SELECT id, 0 AS trt,
             gw0 * k.cnz_1 - bw0 * k.cb_1 AS lam_wt_0,
             gw0 * k.cnz_2 - bw0 * k.cb_2 AS lam_wt_1
      FROM svy CROSS JOIN k
    )
    SELECT id, trt, round(lam_wt_0, 9) + 0.0 AS lam_wt_0,
           round(lam_wt_1, 9) + 0.0 AS lam_wt_1
    FROM out
    """


def _q_gamma_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I7 ``gamma_w``: per-row influence of the stacked logistic
    propensity fit at frozen gamma (q=2: intercept + x1), one Gram pass
    + broadcast 2x2 inverse."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cohort, survey = tpch.survey_frames(spark, sf_dir)
    stacked = stack_samples(cohort, survey, "wt")
    eta = F.lit(GAMMA0) + F.lit(GAMMA1) * F.col("x1")
    stacked = stacked.withColumn("one", F.lit(1.0)).withColumn(
        "p_est", F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
    )
    inf = gamma_influence(stacked, ["one", "x1"], p_est="p_est", ps_w="w")
    return inf.df.select(
        "id",
        "trt",
        F.round("delta_gamma_0", 9).alias("delta_g0"),
        F.round("delta_gamma_1", 9).alias("delta_g1"),
    )


def _sql_gamma_influence(sf_dir: str) -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    stacked AS (
      SELECT id, 1 AS trt, x1, 1.0 AS w FROM units WHERE {tpch.COHORT_PRED}
      UNION ALL
      SELECT id, 0 AS trt, x1, wt AS w FROM units WHERE {tpch.SURVEY_PRED}
    ),
    sc AS (SELECT *, 1.0 / (1.0 + exp(-({GAMMA0} + {GAMMA1} * x1))) AS p
           FROM stacked),
    gram AS (SELECT sum(w * p * (1 - p)) AS a,
                    sum(w * p * (1 - p) * x1) AS b,
                    sum(w * p * (1 - p) * x1 * x1) AS dd
             FROM sc)
    SELECT id, trt,
           round(w * (trt - p) * (gram.dd - x1 * gram.b)
                 / (gram.a * gram.dd - gram.b * gram.b), 9) AS delta_g0,
           round(w * (trt - p) * (x1 * gram.a - gram.b)
                 / (gram.a * gram.dd - gram.b * gram.b), 9) AS delta_g1
    FROM sc CROSS JOIN gram
    """


def _q_influence_variance(spark: SparkSession, sf_dir: str, frames=None) -> DataFrame:
    """E5: design variances of the gamma influence matrix -- PPS
    (per-stratum covariance sums x n_h) and Poisson ((1-pi)-weighted
    cross products), each one distributed pass."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cohort, survey = frames or tpch.survey_frames(spark, sf_dir)
    stacked = stack_samples(cohort, survey, "wt")
    eta = F.lit(GAMMA0) + F.lit(GAMMA1) * F.col("x1")
    stacked = stacked.withColumn("one", F.lit(1.0)).withColumn(
        "p_est", F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
    )
    inf = gamma_influence(stacked, ["one", "x1"], p_est="p_est", ps_w="w")
    vp = var_pps(inf.df, list(inf.delta_cols), "trt")
    vo = var_poisson(inf.df, list(inf.delta_cols), F.lit(1.0) / F.col("w"))
    row = tuple(
        round(float(x), 9)
        for x in (vp[0, 0], vp[0, 1], vp[1, 1], vo[0, 0], vo[0, 1], vo[1, 1])
    )
    return spark.createDataFrame(
        [row],
        "pps_00 double, pps_01 double, pps_11 double,"
        " poi_00 double, poi_01 double, poi_11 double",
    )


def _sql_influence_variance(sf_dir: str) -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    stacked AS (
      SELECT id, 1 AS trt, x1, 1.0 AS w FROM units WHERE {tpch.COHORT_PRED}
      UNION ALL
      SELECT id, 0 AS trt, x1, wt AS w FROM units WHERE {tpch.SURVEY_PRED}
    ),
    sc AS (SELECT *, 1.0 / (1.0 + exp(-({GAMMA0} + {GAMMA1} * x1))) AS p
           FROM stacked),
    gram AS (SELECT sum(w * p * (1 - p)) AS a,
                    sum(w * p * (1 - p) * x1) AS b,
                    sum(w * p * (1 - p) * x1 * x1) AS dd
             FROM sc),
    deltas AS (
      SELECT trt, w,
             w * (trt - p) * (gram.dd - x1 * gram.b)
               / (gram.a * gram.dd - gram.b * gram.b) AS d0,
             w * (trt - p) * (x1 * gram.a - gram.b)
               / (gram.a * gram.dd - gram.b * gram.b) AS d1
      FROM sc CROSS JOIN gram
    ),
    by_h AS (
      SELECT trt, count(*) AS n,
             sum(d0) AS s0, sum(d1) AS s1,
             sum(d0 * d0) AS s00, sum(d0 * d1) AS s01, sum(d1 * d1) AS s11
      FROM deltas GROUP BY trt
    ),
    pps AS (
      SELECT sum(n * (s00 - s0 * s0 / n) / (n - 1)) AS v00,
             sum(n * (s01 - s0 * s1 / n) / (n - 1)) AS v01,
             sum(n * (s11 - s1 * s1 / n) / (n - 1)) AS v11
      FROM by_h
    ),
    poi AS (
      SELECT sum((1 - 1.0 / w) * d0 * d0) AS v00,
             sum((1 - 1.0 / w) * d0 * d1) AS v01,
             sum((1 - 1.0 / w) * d1 * d1) AS v11
      FROM deltas
    )
    SELECT round(pps.v00, 9) AS pps_00, round(pps.v01, 9) AS pps_01,
           round(pps.v11, 9) AS pps_11,
           round(poi.v00, 9) AS poi_00, round(poi.v01, 9) AS poi_01,
           round(poi.v11, 9) AS poi_11
    FROM pps CROSS JOIN poi
    """


def _q_grouped_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I10 ``f_w_mtrx``: grouped post-strat derivative times an n x q
    matrix without densifying -- per-cell scalar x cell sums,
    broadcast back onto member rows."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cohort, _ = tpch.survey_frames(spark, sf_dir)
    cohort = cohort.withColumn(
        "cell", (F.col("d") * 10 + F.col("id") % 7).cast("int")
    )
    factors = cohort.groupBy("cell").agg((F.lit(1.0) / F.sum("wt")).alias("f_w"))
    out = grouped_matrix_product(cohort, factors, "cell", ["x1", "x2"])
    return out.select(
        "id",
        F.round("x1", 9).alias("gp_x1"),
        F.round("x2", 9).alias("gp_x2"),
    )


def _sql_grouped_product(sf_dir: str) -> str:
    return f"""
    WITH units AS ({_duck_units()}),
    c AS (SELECT *, cast(d * 10 + id % 7 AS int) AS cell
          FROM units WHERE {tpch.COHORT_PRED}),
    g AS (SELECT cell, 1.0 / sum(wt) AS f_w,
                 sum(x1) AS sx1, sum(x2) AS sx2
          FROM c GROUP BY cell)
    SELECT c.id, round(g.f_w * g.sx1, 9) AS gp_x1,
           round(g.f_w * g.sx2, 9) AS gp_x2
    FROM c JOIN g ON c.cell = g.cell
    """


# --- training-data pipeline layer (documents / embeddings) ----------------

TOKS_SQL = "string_split_regex(trim(text), '\\s+')"
SHINGLES_SQL = (
    "list_distinct(list_transform(generate_series(1, greatest(len(toks) - 2, 0)),"
    " i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))"
)
MD5INT_SQL = "('0x' || substr(md5({x}), 1, 12))::BIGINT"
MINHASH_K = 8
MINHASH_BANDS = 4
JACCARD_TAU = 0.5
EMB_TAU = 0.4


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _sql_text_stats() -> str:
    sw = ", ".join(f"'{s}'" for s in text_ops.STOPWORDS)
    return f"""
    WITH t AS (SELECT doc_id, text, {TOKS_SQL} AS toks FROM documents),
    feat AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             len(list_distinct(toks)) * 1.0 / len(toks) AS ttr,
             len(list_filter(toks, x -> list_contains([{sw}], x))) * 1.0
               / len(toks) AS stop_ratio,
             list_sum(list_transform(toks, x -> len(x))) * 1.0 / len(toks)
               AS mean_token_len,
             (len(text) - len(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
               / len(text) AS punct_ratio
      FROM t)
    SELECT doc_id, n_tokens, round(ttr, 9) AS ttr,
           round(stop_ratio, 9) AS stop_ratio,
           round(mean_token_len, 9) AS mean_token_len,
           round(punct_ratio, 9) AS punct_ratio,
           round(least(n_tokens / 50.0, 1.0) * (1.0 - punct_ratio)
                 * least(ttr * 2.0, 1.0), 9) AS quality
    FROM feat
    """


WINNOW_K = 5  # tokens per gram
WINNOW_W = 4  # winnowing window (hashes); guarantee length = w + k - 1


NGRAM_SPAN_N = 5


def _q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (MOSS scheme) + BPE-ish piece
    counts over ``documents`` — map-only array-HOF pass, no UDF
    (``operators/text.py winnow_fingerprints``).

    Round 5 joins in the exact-substring-dedup signal AND its removal
    twin (``operators/dedup.py repeated_ngram_spans`` /
    ``trim_repeated_spans``, Lee et al. 2021): per-doc count and
    fraction of tokens covered by 5-grams duplicated corpus-wide, plus
    the md5 of the keep-first-TRIMMED document and its removed-token
    count — the oracle recomputes the interval-union coverage, the
    keeper window, and the token-level rebuild verbatim, so the hash
    match certifies the rebuilt documents byte-exactly."""
    docs = _docs(spark, sf_dir)
    fps = text_ops.winnow_fingerprints(docs, k=WINNOW_K, w=WINNOW_W)
    bpe = docs.select(
        "doc_id", text_ops.bpe_ish_token_count("text").alias("n_pieces")
    )
    spans = dedup_ops.repeated_ngram_spans(docs, NGRAM_SPAN_N).select(
        "doc_id",
        "dup_tokens",
        F.round("dup_frac", 9).alias("dup_frac"),
    )
    trims = dedup_ops.trim_repeated_spans(docs, NGRAM_SPAN_N).select(
        "doc_id",
        F.md5("text").alias("trim_fp"),
        F.col("n_trimmed").cast("long").alias("n_trimmed"),
    )
    fp = F.col("fingerprints")
    return (
        bpe.join(fps, "doc_id")
        .join(spans, "doc_id")
        .join(trims, "doc_id")
        .select(
            "doc_id",
            F.col("n_pieces").cast("long").alias("n_pieces"),
            F.size(fp).cast("long").alias("n_fp"),
            F.element_at(fp, 1).cast("long").alias("fp_min"),
            F.aggregate(
                fp, F.lit(0).cast("long"), lambda acc, x: acc + x % F.lit(1000003)
            )
            .cast("long")
            .alias("fp_checksum"),
            "dup_tokens",
            "dup_frac",
            "trim_fp",
            "n_trimmed",
        )
        # no global orderBy: the gate's compare is row-sorted, and a
        # total sort of a per-doc output is a needless O(n log n)
        # exchange at scale
    )


def _sql_doc_fingerprints() -> str:
    kg = " || ' ' || ".join(f"toks[i + {j}]" for j in range(WINNOW_K))
    n = NGRAM_SPAN_N
    return f"""
    WITH t AS (SELECT doc_id, text, {TOKS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id, text,
            list_transform(
              generate_series(1, greatest(len(toks) - {WINNOW_K - 1}, 0)),
              i -> {kg}) AS kg
          FROM t),
    h AS (SELECT doc_id, text,
            list_transform(kg, x -> {MD5INT_SQL.format(x='x')}) AS hs
          FROM g),
    s AS (SELECT doc_id, text,
            CASE WHEN len(hs) >= {WINNOW_W} THEN
              list_sort(list_distinct(list_transform(
                generate_series(1, len(hs) - {WINNOW_W - 1}),
                j -> list_min(array_slice(hs, j, j + {WINNOW_W - 1})))))
            ELSE list_sort(list_distinct(hs)) END AS fp
          FROM h),
    tl AS (SELECT doc_id, len(toks) AS n_tok FROM t),
    gpos AS (SELECT doc_id,
                    unnest(generate_series(1, greatest(len(toks) - {n - 1}, 0)))
                      AS p1,
                    toks
             FROM t),
    gr AS (SELECT doc_id, p1 - 1 AS pos,
                  array_to_string(array_slice(toks, p1, p1 + {n - 1}), ' ')
                    AS gram
           FROM gpos),
    dg AS (SELECT gram
           FROM (SELECT gram, count(*) AS c FROM gr GROUP BY 1)
           WHERE c >= 2),
    fl AS (SELECT doc_id, pos FROM gr JOIN dg USING (gram)),
    cv AS (SELECT doc_id,
                  least({n}, coalesce(
                    lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos,
                    {n})) AS cov
           FROM fl),
    du AS (SELECT doc_id, sum(cov) AS dup_tokens FROM cv GROUP BY 1),
    k1 AS (SELECT doc_id, pos, row_number() OVER (
               PARTITION BY gram ORDER BY doc_id, pos) AS rk
           FROM gr JOIN dg USING (gram)),
    cov2 AS (SELECT DISTINCT doc_id, tp
             FROM (SELECT doc_id,
                          unnest(generate_series(pos, pos + {n - 1})) AS tp
                   FROM k1 WHERE rk > 1)),
    tokrows AS (SELECT doc_id,
                       unnest(generate_series(1, len(toks))) AS p1, toks
                FROM t),
    trr AS (SELECT tk.doc_id, tk.p1 - 1 AS tp, tk.toks[tk.p1] AS tok,
                   c.tp IS NOT NULL AS cut
            FROM tokrows tk
            LEFT JOIN cov2 c ON c.doc_id = tk.doc_id AND c.tp = tk.p1 - 1),
    tagg AS (SELECT doc_id,
                    coalesce(string_agg(tok, ' ' ORDER BY tp)
                             FILTER (WHERE NOT cut), '') AS ttext,
                    count(*) FILTER (WHERE cut) AS n_trimmed
             FROM trr GROUP BY doc_id)
    SELECT s.doc_id,
           len(regexp_extract_all(text, '{text_ops.BPE_PIECE_RE}'))::BIGINT
             AS n_pieces,
           len(fp)::BIGINT AS n_fp,
           fp[1]::BIGINT AS fp_min,
           coalesce(list_sum(list_transform(fp, x -> x % 1000003)), 0)::BIGINT
             AS fp_checksum,
           coalesce(du.dup_tokens, 0)::BIGINT AS dup_tokens,
           round(coalesce(du.dup_tokens, 0) / tl.n_tok::DOUBLE, 9)
             AS dup_frac,
           md5(ta.ttext) AS trim_fp,
           ta.n_trimmed::BIGINT AS n_trimmed
    FROM s
    JOIN tl USING (doc_id)
    JOIN tagg ta ON s.doc_id = ta.doc_id
    LEFT JOIN du ON s.doc_id = du.doc_id
    ORDER BY s.doc_id
    """


def _sql_lang_id() -> str:
    langs = sorted(text_ops.DEFAULT_PROFILES)
    score_cols = []
    for lang in text_ops.DEFAULT_PROFILES:
        words = ", ".join(f"'{w}'" for w in text_ops.DEFAULT_PROFILES[lang])
        score_cols.append(
            f"len(list_filter(toks, x -> list_contains([{words}], x))) * 1.0"
            f" / len(toks) AS score_{lang}"
        )
    best = "greatest(" + ", ".join(f"score_{l}" for l in langs) + ")"
    pred = "CASE " + " ".join(
        f"WHEN score_{l} = {best} THEN '{l}'" for l in langs
    ) + " END"
    return f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    s AS (SELECT doc_id, {', '.join(score_cols)} FROM t)
    SELECT doc_id, {pred} AS lang_pred, round({best}, 9) AS lang_score
    FROM s
    """


PARA_SEP = "\n\n"
BLOOM_FPP = 0.01


def _para_ptext_expr():
    """Paragraph-structured text for the corpus-wide paragraph-dedup
    certificate.  ``documents.text`` has no paragraph breaks, so a
    derived column builds them deterministically (identically in Spark
    and the oracle SQL): a license header shared by EVERY doc (kept
    only at its global (id, pos) first occurrence), the doc's own
    80-char prefix, one of 7 footer variants (each kept once
    corpus-wide), a within-doc repeat of the header for doc_id%4==0,
    and a trailing EMPTY paragraph for doc_id%5==0 (exercising the
    pass-through path: blank paragraphs are kept verbatim, never dedup
    keys)."""
    did = F.col("doc_id")
    return F.concat(
        F.lit("common license header"),
        F.lit(PARA_SEP),
        F.substring("text", 1, 80),
        F.lit(PARA_SEP),
        F.lit("footer variant "),
        (did % 7).cast("string"),
        F.when(
            did % 4 == 0, F.concat(F.lit(PARA_SEP), F.lit("common license header"))
        ).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit(PARA_SEP)).otherwise(F.lit("")),
    )


def _q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup certificate suite, part-labeled in one union
    (round 5 widens the r3 exact-dedup row):

    - part='exact': normalized-fingerprint groups (fp, n_dups, keep_id)
      -- the original hash-groupBy dedup.
    - part='paragraph': corpus-wide paragraph dedup
      (``operators/dedup.py paragraph_dedup``) over the derived
      paragraph text; key = md5 of the REBUILT text, so the hash match
      certifies the reassembled documents byte-exactly, with
      n_a/n_b = paragraphs kept/dropped per doc.
    - part='bloom': the incremental-dedup Bloom filter
      (``operators/bloom.py``) built on the even-doc_id half of the
      corpus fingerprints and probed over all docs.  id/n_a = member
      count / members probing True (equal by the no-false-negative
      guarantee -- a VALUE check the oracle states from count
      arithmetic); ok_a = that equality, ok_b = observed false-positive
      rate within max(3x sized fpp, 5 absolute) -- deterministic for a
      fixed corpus+seed (binomial-noise-aware bounds live in
      tests/test_bloom.py)."""
    docs = _docs(spark, sf_dir)
    exact = exact_duplicates(docs).select(
        F.lit("exact").alias("part"),
        F.col("fp").alias("key"),
        F.col("keep_id").cast("long").alias("id"),
        F.col("n_dups").cast("long").alias("n_a"),
        F.lit(None).cast("long").alias("n_b"),
        F.lit(None).cast("boolean").alias("ok_a"),
        F.lit(None).cast("boolean").alias("ok_b"),
    )

    para = dedup_ops.paragraph_dedup(
        docs.withColumn("text", _para_ptext_expr()), sep=PARA_SEP
    ).select(
        F.lit("paragraph").alias("part"),
        F.md5("text").alias("key"),
        F.col("doc_id").cast("long").alias("id"),
        F.col("n_kept").cast("long").alias("n_a"),
        F.col("n_dropped").cast("long").alias("n_b"),
        F.lit(None).cast("boolean").alias("ok_a"),
        F.lit(None).cast("boolean").alias("ok_b"),
    )

    fps = docs.select("doc_id", F.md5("text").alias("fp"))
    members = fps.where(F.col("doc_id") % 2 == 0)
    bf = bloom_ops.build(members, "fp", fpp=BLOOM_FPP)
    probed = bloom_ops.contains(fps, "fp", bf)
    is_m = F.col("doc_id") % 2 == 0
    bloom_row = probed.agg(
        F.sum(is_m.cast("long")).alias("_nm"),
        F.sum((is_m & F.col("maybe_seen")).cast("long")).alias("_hits"),
        F.sum(((~is_m) & F.col("maybe_seen")).cast("long")).alias("_nfp"),
        F.sum((~is_m).cast("long")).alias("_nodd"),
    ).select(
        F.lit("bloom").alias("part"),
        F.lit("gates").alias("key"),
        F.col("_nm").cast("long").alias("id"),
        F.col("_hits").cast("long").alias("n_a"),
        F.lit(None).cast("long").alias("n_b"),
        (F.col("_hits") == F.col("_nm")).alias("ok_a"),
        (
            F.col("_nfp")
            <= F.greatest(
                F.ceil(F.col("_nodd") * F.lit(3.0 * BLOOM_FPP)), F.lit(5)
            )
        ).alias("ok_b"),
    )
    return exact.unionByName(para).unionByName(bloom_row)


def _sql_exact_dedup() -> str:
    sep = "chr(10) || chr(10)"
    norm = "trim(regexp_replace(lower(para), '\\s+', ' ', 'g'))"
    return f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    base AS (SELECT doc_id,
        'common license header' || {sep} || substr(text, 1, 80) || {sep}
        || 'footer variant ' || (doc_id % 7)
        || CASE WHEN doc_id % 4 = 0 THEN {sep} || 'common license header'
                ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN {sep} ELSE '' END AS ptext
      FROM documents),
    sp AS (SELECT doc_id, string_split(ptext, {sep}) AS parts FROM base),
    e AS (SELECT doc_id, unnest(generate_series(1, len(parts))) AS pos1,
                 parts
          FROM sp),
    par AS (SELECT doc_id, pos1 - 1 AS pos, parts[pos1] AS para FROM e),
    k AS (SELECT doc_id, pos, para,
                 CASE WHEN len({norm}) >= 1 THEN md5({norm})
                      ELSE 'pt-' || doc_id || '-' || pos END AS key
          FROM par),
    rk AS (SELECT *, row_number() OVER (
               PARTITION BY key ORDER BY doc_id, pos) AS rn
           FROM k),
    agg AS (SELECT doc_id,
                   coalesce(string_agg(para, {sep} ORDER BY pos)
                            FILTER (WHERE rn = 1), '') AS text,
                   count(*) FILTER (WHERE rn = 1) AS n_kept,
                   count(*) FILTER (WHERE rn > 1) AS n_dropped
            FROM rk GROUP BY doc_id)
    SELECT 'exact' AS part, md5(array_to_string(toks, ' ')) AS key,
           min(doc_id)::BIGINT AS id, count(*)::BIGINT AS n_a,
           NULL::BIGINT AS n_b, NULL::BOOLEAN AS ok_a, NULL::BOOLEAN AS ok_b
    FROM t GROUP BY 2
    UNION ALL
    SELECT 'paragraph', md5(text), doc_id::BIGINT, n_kept::BIGINT,
           n_dropped::BIGINT, NULL, NULL
    FROM agg
    UNION ALL
    SELECT 'bloom', 'gates',
           (SELECT count(*) FROM documents WHERE doc_id % 2 = 0)::BIGINT,
           (SELECT count(*) FROM documents WHERE doc_id % 2 = 0)::BIGINT,
           NULL, TRUE, TRUE
    """


def _sql_ngram_jaccard() -> str:
    return f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    sh AS (SELECT doc_id, {SHINGLES_SQL} AS ss FROM t),
    sz AS (SELECT doc_id, len(ss) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(ss) AS s FROM sh),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
              FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(i * 1.0 / (sa.n + sb.n - i), 9) AS jaccard
    FROM inter JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
    WHERE i * 1.0 / (sa.n + sb.n - i) >= {JACCARD_TAU}
    """


def _minhash_sql_core() -> str:
    """Shared CTE computing per-doc MinHash signatures as columns."""
    params = dedup_ops._hash_params(MINHASH_K, seed=7)
    p = dedup_ops.MINHASH_P
    hcol = MD5INT_SQL.format(x="s")
    mins = ", ".join(
        f"min((({hcol} % {p}) * {a} + {b}) % {p}) AS sig_{i}"
        for i, (a, b) in enumerate(params)
    )
    return f"""
    t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    sh AS (SELECT doc_id, {SHINGLES_SQL} AS ss FROM t),
    ex AS (SELECT doc_id, unnest(ss) AS s FROM sh),
    sig AS (SELECT doc_id, {mins} FROM ex GROUP BY doc_id)
    """


def _q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = minhash_signatures(_docs(spark, sf_dir), num_hashes=MINHASH_K)
    return sig.select(
        "doc_id",
        *[F.element_at("sig", i + 1).alias(f"sig_{i}") for i in range(MINHASH_K)],
    )


def _sql_minhash_signatures() -> str:
    cols = ", ".join(f"sig_{i}" for i in range(MINHASH_K))
    return f"WITH {_minhash_sql_core()} SELECT doc_id, {cols} FROM sig"


def _minhash_pairs_sql_ctes() -> str:
    """CTE chain ending in ``lsh_pairs`` (id_a, id_b, jaccard_est >= tau);
    shared by the pair query and the component-resolution query."""
    rows = MINHASH_K // MINHASH_BANDS
    band_keys = ", ".join(
        "concat_ws('-', "
        + ", ".join(f"sig_{b * rows + r}::VARCHAR" for r in range(rows))
        + f") AS bk_{b}"
        for b in range(MINHASH_BANDS)
    )
    band_match = " OR ".join(f"a.bk_{b} = b.bk_{b}" for b in range(MINHASH_BANDS))
    matches = " + ".join(
        f"CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END"
        for i in range(MINHASH_K)
    )
    return f"""{_minhash_sql_core()},
    keyed AS (SELECT *, {band_keys} FROM sig),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             ({matches}) * 1.0 / {MINHASH_K} AS jaccard_est
      FROM keyed a JOIN keyed b
        ON a.doc_id < b.doc_id AND ({band_match})),
    lsh_pairs AS (
      SELECT id_a, id_b, jaccard_est FROM cand
      WHERE jaccard_est >= {JACCARD_TAU})
    """


def _sql_minhash_lsh() -> str:
    return f"""
    WITH {_minhash_pairs_sql_ctes()}
    SELECT id_a, id_b, round(jaccard_est, 9) AS jaccard_est FROM lsh_pairs
    """


def _q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution: MinHash-LSH near-dup pairs -> connected
    components -> (doc_id, component) with component = canonical
    (minimum) doc id of the cluster."""
    pairs = minhash_lsh_pairs(
        _docs(spark, sf_dir), JACCARD_TAU, num_hashes=MINHASH_K, bands=MINHASH_BANDS
    )
    return connected_components(pairs)


def _sql_dedup_components() -> str:
    # min-label reachability: lbl walks every edge until fixpoint
    # (UNION dedups states so the recursion terminates); min(lbl) per
    # node = min doc id in its component.
    return f"""
    WITH RECURSIVE {_minhash_pairs_sql_ctes()},
    edges AS (SELECT id_a AS u, id_b AS v FROM lsh_pairs
              UNION ALL
              SELECT id_b AS u, id_a AS v FROM lsh_pairs),
    cnodes AS (SELECT DISTINCT u AS id FROM edges),
    walk(id, lbl) AS (
        SELECT id, id FROM cnodes
        UNION
        SELECT e.v, w.lbl FROM walk w JOIN edges e ON e.u = w.id)
    SELECT id AS doc_id, min(lbl) AS component FROM walk GROUP BY id
    """


def _q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics per source: exact distinct tokens,
    total tokens, type-token ratio. Exact distinct = one explode +
    two-level agg (partial distinct per map side). The HLL-sketch twin
    (the 100 TB path: fixed-size mergeable sketch instead of a
    token-keyed exchange) runs in the SAME aggregate and is gated by
    the ``hll_ok`` column — true iff the sketch is within 5% relative
    error of the exact count (the oracle emits the literal true, so a
    hash match IS the accuracy assertion)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "source", F.explode(text_ops.tokens("text")).alias("_tok")
    )
    return toks.groupBy("source").agg(
        F.countDistinct("_tok").alias("n_vocab"),
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.countDistinct("_tok") / F.count(F.lit(1)), 9).alias(
            "type_token_ratio"
        ),
        (
            F.abs(
                F.approx_count_distinct("_tok", rsd=0.02)
                - F.countDistinct("_tok")
            )
            <= F.lit(0.05) * F.countDistinct("_tok")
        ).alias("hll_ok"),
    )


def _sql_vocab_stats() -> str:
    return f"""
    WITH t AS (SELECT source, unnest({TOKS_SQL}) AS tok FROM documents)
    SELECT source,
           count(DISTINCT tok) AS n_vocab,
           count(*) AS n_tokens,
           round(count(DISTINCT tok) * 1.0 / count(*), 9) AS type_token_ratio,
           true AS hll_ok
    FROM t GROUP BY source
    """



def _q_lineitem_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary over the largest table (TPC-H Q1 shape): the
    predicate and the 6-column projection reach the parquet scan
    (PushedFilters/ReadSchema), aggregation is map-side partial then a
    2-key exchange -- the canonical 100 TB scan query. Averages (not
    grand sums) keep float parity with the oracle at 6 dp.

    Part-labeled union with the grouping-sets twin: ROLLUP over the
    unfiltered table computes subtotals per returnflag and the grand
    total in the same pass (partial aggs feed every grouping set; no
    repeated scans). Rollup rows carry NULL for the filtered-query-only
    averages.

    Round 5 adds the quantile-sketch certificate: per group, the EXACT
    median of l_quantity (value-checked vs the oracle's interpolating
    quantile) and ``aq_ok`` — the mergeable one-pass
    ``percentile_approx`` sketch must land within 0.51 of the exact
    median (quantities are dense integers; the sketch's 1/10000 rank
    accuracy makes the value error ~0).  The sketch is the 100 TB
    quantile path — exact percentile buffers group values, the sketch
    is bounded-memory and mergeable — and the gate certifies its
    accuracy at query level (oracle states TRUE, hll_ok pattern)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = tpch.load_table(spark, sf_dir, "lineitem")
    pricing = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 9).alias("avg_disc"),
            F.round(
                F.avg(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))), 6
            ).alias("avg_net"),
            F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias(
                "med_qty"
            ),
            (
                F.abs(
                    F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000))
                    - F.percentile("l_quantity", F.lit(0.5))
                )
                <= F.lit(0.51)
            ).alias("aq_ok"),
        )
        .withColumn("part", F.lit("pricing"))
    )
    rollup = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
        )
        .withColumn("part", F.lit("rollup"))
    )
    return pricing.unionByName(rollup, allowMissingColumns=True).select(
        "part",
        "l_returnflag",
        "l_linestatus",
        "n_rows",
        "avg_qty",
        "avg_price",
        "avg_disc",
        "avg_net",
        "med_qty",
        "aq_ok",
    )


def _sql_lineitem_pricing() -> str:
    return """
    SELECT 'pricing' AS part, l_returnflag, l_linestatus,
           count(*) AS n_rows,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 9) AS avg_disc,
           round(avg(l_extendedprice * (1.0 - l_discount)), 6) AS avg_net,
           round(quantile_cont(l_quantity, 0.5), 6) AS med_qty,
           TRUE AS aq_ok
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    UNION ALL
    SELECT 'rollup' AS part, l_returnflag, l_linestatus,
           count(*) AS n_rows,
           round(avg(l_quantity), 6) AS avg_qty,
           NULL::DOUBLE AS avg_price, NULL::DOUBLE AS avg_disc,
           NULL::DOUBLE AS avg_net, NULL::DOUBLE AS med_qty,
           NULL::BOOLEAN AS aq_ok
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """


def _q_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by 1996 net revenue: lineitem |><| orders on the
    order key (the one big-big shuffle), customer and nation broadcast,
    global top-k via orderBy().limit() (TakeOrdered: per-partition heap
    + driver merge of 10 rows -- no single-partition window over the
    full aggregate)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    li = tpch.load_table(spark, sf_dir, "lineitem")
    orders = tpch.load_table(spark, sf_dir, "orders")
    cust = tpch.load_table(spark, sf_dir, "customer")
    nat = tpch.load_table(spark, sf_dir, "nation")
    rev = (
        li.join(
            orders.where(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ).select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).alias(
                "_rev"
            )
        )
    )
    top = (
        rev.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.round("_rev", 4).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(10)
    )
    w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def _sql_customer_revenue() -> str:
    return """
    WITH rev AS (
      SELECT o_custkey, sum(l_extendedprice * (1.0 - l_discount)) AS r
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY o_custkey),
    top AS (
      SELECT c_custkey, c_name, n_name AS nation, round(r, 4) AS revenue,
             row_number() OVER (ORDER BY round(r, 4) DESC, c_custkey) AS rank
      FROM rev JOIN customer ON o_custkey = c_custkey
               JOIN nation ON c_nationkey = n_nationkey)
    SELECT c_custkey, c_name, nation, revenue, rank
    FROM top WHERE rank <= 10
    """


ZORDER_BITS = 8


def _q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-CHECKED multimodal pipeline: per doc, a deterministic 4x4
    grayscale image (md5 digest bytes of the text) is PNG-ENCODED and
    PNG-DECODED with the real pure-stdlib codec inside one Arrow
    mapInPandas pass, then summarized. The DuckDB oracle computes the
    expected pixel stats directly from the md5 hex -- so a hash match
    proves the PNG encoder+decoder round-trip byte-exactly at query
    level, not just in unit tests.

    Round 4 adds the header-probe certificate in the same pass
    (``codecs.probe_bytes``, the parser behind ``probe_media``): the
    encoded PNG bytes and a deterministic JPEG header blob
    (width = doc_id % 13 + 1, height = doc_id % 7 + 1, SOF0) are
    probed, and the extracted format/dims are hash-checked against the
    oracle's arithmetic expectations — certifying that the prober
    reads real PNG IHDR and JPEG SOF headers correctly.

    Round 5 adds two more legs:

    - a REAL JPEG encode->decode round trip (``operators/jpeg.py``):
      a flat 4x4 gray block at the doc's first md5 byte, encoded at
      quality=100 (all-ones quant tables) and decoded back.  A flat
      block has only a DC coefficient, and DC quantized by 1
      round-trips exactly, so the decoded value must EQUAL the input
      byte — the oracle states it from the md5 hex (``jpeg_val``) plus
      a zero max-abs-error gate (``jpeg_err``).  This certifies the
      full pipeline: ITU-T T.81 headers, Huffman tables, entropy
      coding, dequant, IDCT, level shift.
    - the ISO-BMFF probe (``codecs._probe_mp4``): a deterministic
      ftyp+moov/mvhd blob with timescale 1000 and duration
      doc_id % 90000 + 1000, version 0 for even docs and version 1
      (64-bit times) for odd — both parser paths value-checked
      against the oracle's arithmetic (``mp4_fmt``, ``mp4_dur``).

    Round 7 adds REAL VIDEO legs (``operators/video.py``): an MJPEG
    AVI with doc_id % 3 + 1 flat-gray frames (value = the doc's first
    md5 byte) at 25 fps, q100, built by the engine's own hermetic
    encoder, then container-split + frame-decoded back.  ``vid_frames``
    counts decoded frames (oracle: doc_id % 3 + 1), ``vid_val`` is the
    first decoded pixel (oracle states it from the md5 hex), and
    ``vid_dur`` is the avih header probe's duration (oracle:
    frames × 40 ms).  A hash match certifies the RIFF writer+splitter
    and the per-frame JPEG path end to end.

    Round 7 also adds GIF legs (``codecs.decode_gif``/``encode_gif``,
    full variable-width LZW): the same 4x4 md5-digest image is
    GIF-encoded (INTERLACED for odd docs — the 4-pass row shuffle must
    invert exactly) and decoded back; GIF is palette-indexed, so the
    round trip is lossless and the oracle states the first pixel from
    the md5 hex (``gif_val``) and a zero max-abs-error gate over all
    16 pixels (``gif_err``).

    Round 7 also adds WAV legs (the one media format that had only
    unit tests): a doc_id % 50 + 10-frame stereo PCM clip at 8 kHz is
    WAV-encoded and decoded back (``wav_n`` = decoded frame count,
    integer-exact) and header-probed (``wav_dur`` = frames * 1000 //
    8000 ms from the RIFF chunk walk) — oracle arithmetic certifies
    the stdlib-wave writer, reader and prober agree on real bytes.

    Round 7 also adds FLAC legs (``operators/flac.py`` — fixed/LPC
    prediction + Rice residuals, the speech-corpus format): md5-derived
    samples are FLAC-encoded and decoded back; FLAC is LOSSLESS, so
    the oracle states the first reconstructed PCM value exactly
    (``flac_val`` = bytes[1]*128 - 16384; every arithmetic step is
    exact in float32) and the decoded frame count (``flac_n``)."""
    import hashlib
    import struct

    import numpy as np
    import pandas as pd

    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.codecs import (
        decode_gif,
        decode_png,
        decode_wav,
        encode_gif,
        encode_png,
        encode_wav,
        probe_bytes,
    )
    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.flac import (
        decode_flac,
        encode_flac,
    )
    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )
    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.video import (
        decode_mjpeg,
        encode_mjpeg_avi,
        probe_avi,
    )

    def _mp4_blob(ts: int, dur: int, v: int) -> bytes:
        ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 512)
        if v == 0:
            body = bytes([0, 0, 0, 0]) + struct.pack(">IIII", 0, 0, ts, dur)
        else:
            body = bytes([1, 0, 0, 0]) + struct.pack(">QQIQ", 0, 0, ts, dur)
        mvhd = struct.pack(">I", 8 + len(body)) + b"mvhd" + body
        moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
        return ftyp + moov

    def _batches(it):
        for pdf in it:
            sums, means = [], []
            png_fmt, png_w, png_h = [], [], []
            jpg_fmt, jpg_w, jpg_h = [], [], []
            jv, je, m4f, m4d = [], [], [], []
            jpv, jpe = [], []
            vfr, vv, vd = [], [], []
            gv, ge = [], []
            wn, wd = [], []
            fn, fv = [], []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                digest = hashlib.md5(str(t).encode("utf-8")).digest()
                img = np.frombuffer(digest, dtype=np.uint8).reshape(4, 4)
                png_bytes = encode_png(img)
                arr = decode_png(png_bytes)
                sums.append(int(arr.sum()))
                means.append(float(arr.mean()))
                pp = probe_bytes(png_bytes)
                png_fmt.append(pp["format"])
                png_w.append(pp["width"])
                png_h.append(pp["height"])
                w, h = int(did) % 13 + 1, int(did) % 7 + 1
                jpg = (
                    b"\xff\xd8\xff\xc0"
                    + struct.pack(">HBHHB", 11, 8, h, w, 1)
                    + bytes([1, 0x11, 0])
                    + b"\xff\xd9"
                )
                pj = probe_bytes(jpg)
                jpg_fmt.append(pj["format"])
                jpg_w.append(pj["width"])
                jpg_h.append(pj["height"])
                flat = np.full((4, 4), digest[0], dtype=np.uint8)
                dec = decode_jpeg(encode_jpeg(flat, quality=100))
                jv.append(int(dec[0, 0, 0]))
                je.append(
                    int(np.abs(dec[:, :, 0].astype(int) - int(digest[0])).max())
                )
                # round 6: PROGRESSIVE legs — flat-gray q100 exactness
                # (oracle states the value from the md5 hex) and the
                # coefficient-domain losslessness gate on a NON-flat
                # block (progressive decode must equal baseline decode
                # bit-for-bit; oracle states 0)
                pdec = decode_jpeg(encode_jpeg_progressive(flat, quality=100))
                jpv.append(int(pdec[0, 0, 0]))
                img8 = np.tile(
                    np.frombuffer(digest, dtype=np.uint8), 4
                ).reshape(8, 8)
                bdec = decode_jpeg(encode_jpeg(img8, quality=85))
                pdec8 = decode_jpeg(encode_jpeg_progressive(img8, quality=85))
                jpe.append(
                    int(np.abs(bdec.astype(int) - pdec8.astype(int)).max())
                )
                dur = int(did) % 90000 + 1000
                pm = probe_bytes(_mp4_blob(1000, dur, int(did) % 2))
                m4f.append(pm["format"])
                m4d.append(pm["duration_ms"])
                nfr = int(did) % 3 + 1
                avi = encode_mjpeg_avi([flat] * nfr, fps=25, quality=100)
                vdec = decode_mjpeg(avi)
                vfr.append(len(vdec))
                vv.append(int(vdec[0][0, 0, 0]))
                vd.append(int(probe_avi(avi)["duration_ms"]))
                gdec = decode_gif(
                    encode_gif(img, interlace=bool(int(did) % 2))
                )
                gv.append(int(gdec[0, 0, 0]))
                ge.append(
                    int(np.abs(gdec[:, :, 0].astype(int) - img.astype(int)).max())
                )
                nsm = int(did) % 50 + 10
                tone = np.stack(
                    [
                        np.sin(np.arange(nsm) * 0.1, dtype=np.float64),
                        np.cos(np.arange(nsm) * 0.1, dtype=np.float64),
                    ],
                    axis=1,
                )
                wav = encode_wav(tone * 0.5, 8000)
                wn.append(int(decode_wav(wav)[0].shape[0]))
                wd.append(int(probe_bytes(wav)["duration_ms"]))
                fl_in = (
                    np.array(
                        [digest[i % 16] for i in range(nsm)],
                        dtype=np.float64,
                    )
                    / 256.0
                    - 0.5
                ).astype(np.float32)
                fdec, _ = decode_flac(encode_flac(fl_in, 8000))
                fn.append(int(fdec.shape[0]))
                fv.append(int(np.rint(float(fdec[0, 0]) * 32768.0)))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": 4,
                    "height": 4,
                    "px_sum": sums,
                    "px_mean": [round(m, 9) for m in means],
                    "png_fmt": png_fmt,
                    "png_w": png_w,
                    "png_h": png_h,
                    "jpg_fmt": jpg_fmt,
                    "jpg_w": jpg_w,
                    "jpg_h": jpg_h,
                    "jpeg_val": jv,
                    "jpeg_err": je,
                    "jprog_val": jpv,
                    "jprog_err": jpe,
                    "mp4_fmt": m4f,
                    "mp4_dur": m4d,
                    "vid_frames": vfr,
                    "vid_val": vv,
                    "vid_dur": vd,
                    "gif_val": gv,
                    "gif_err": ge,
                    "wav_n": wn,
                    "wav_dur": wd,
                    "flac_n": fn,
                    "flac_val": fv,
                }
            )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    n_part = spark.sparkContext.defaultParallelism
    return docs.repartition(n_part).mapInPandas(
        _batches,
        schema=(
            "doc_id long, width int, height int, px_sum long, "
            "px_mean double, png_fmt string, png_w int, png_h int, "
            "jpg_fmt string, jpg_w int, jpg_h int, "
            "jpeg_val int, jpeg_err int, jprog_val int, jprog_err int, "
            "mp4_fmt string, mp4_dur long, "
            "vid_frames int, vid_val int, vid_dur long, "
            "gif_val int, gif_err int, wav_n int, wav_dur long, "
            "flac_n int, flac_val int"
        ),
    )


def _sql_media_features() -> str:
    return """
    WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
    b AS (SELECT doc_id,
                 list_transform(range(0, 16),
                                i -> ('0x' || substr(hx, i * 2 + 1, 2))::BIGINT
                 ) AS bytes
          FROM h)
    SELECT doc_id, 4 AS width, 4 AS height,
           list_sum(bytes)::BIGINT AS px_sum,
           round(list_sum(bytes) / 16.0, 9) AS px_mean,
           'png' AS png_fmt, 4::INTEGER AS png_w, 4::INTEGER AS png_h,
           'jpeg' AS jpg_fmt,
           (doc_id % 13 + 1)::INTEGER AS jpg_w,
           (doc_id % 7 + 1)::INTEGER AS jpg_h,
           bytes[1]::INTEGER AS jpeg_val,
           0::INTEGER AS jpeg_err,
           bytes[1]::INTEGER AS jprog_val,
           0::INTEGER AS jprog_err,
           'mp4' AS mp4_fmt,
           (doc_id % 90000 + 1000)::BIGINT AS mp4_dur,
           (doc_id % 3 + 1)::INTEGER AS vid_frames,
           bytes[1]::INTEGER AS vid_val,
           ((doc_id % 3 + 1) * 40)::BIGINT AS vid_dur,
           bytes[1]::INTEGER AS gif_val,
           0::INTEGER AS gif_err,
           (doc_id % 50 + 10)::INTEGER AS wav_n,
           ((doc_id % 50 + 10) * 1000 // 8000)::BIGINT AS wav_dur,
           (doc_id % 50 + 10)::INTEGER AS flac_n,
           (bytes[1] * 128 - 16384)::INTEGER AS flac_val
    FROM b
    """


def _q_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) keys over bucketized (o_totalprice, o_custkey):
    the multi-dimensional sort key behind `sinks.write_zordered` —
    pure bit arithmetic, value-checked against the identical SQL."""
    from data_integration_with_pseudoweights_and_survey_calibration_spark.sources.sinks import (
        zorder_key,
    )

    orders = tpch.load_table(spark, sf_dir, "orders")
    mn, mx = orders.agg(
        F.min("o_totalprice"), F.max("o_totalprice")
    ).collect()[0]
    levels = (1 << ZORDER_BITS) - 1
    bx = F.least(
        F.lit(levels),
        F.floor(
            (F.col("o_totalprice") - F.lit(float(mn)))
            / F.lit(float(mx) - float(mn))
            * F.lit(levels)
        ),
    ).cast("long")
    by = F.pmod(F.col("o_custkey"), F.lit(levels + 1)).cast("long")
    out = orders.select(
        "o_orderkey", bx.alias("_bx"), by.alias("_by")
    ).select(
        "o_orderkey",
        zorder_key(["_bx", "_by"], bits=ZORDER_BITS).alias("zkey"),
    )
    return out


def _sql_zorder_keys() -> str:
    levels = (1 << ZORDER_BITS) - 1
    terms = []
    shift = 2 * ZORDER_BITS - 1
    for b in range(ZORDER_BITS - 1, -1, -1):
        for c in ("bx", "by"):
            terms.append(f"(({c} >> {b}) & 1) * {1 << shift}")
            shift -= 1
    key = " + ".join(terms)
    return f"""
    WITH s AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
               FROM orders),
    t AS (SELECT o_orderkey,
                 least({levels}, floor((o_totalprice - mn) / (mx - mn)
                       * {levels}))::BIGINT AS bx,
                 (o_custkey % {levels + 1})::BIGINT AS by
          FROM orders CROSS JOIN s)
    SELECT o_orderkey, ({key})::BIGINT AS zkey FROM t
    """


#: target weights of the explicit-mixture branch, derived from the
#: source NAME so the oracle can restate them: srcN gets weight
#: (N % 4) + 1 (normalizer = 50 over the generator's 20 sources)
MIX_TARGETS = {f"src{i}": float(i % 4 + 1) for i in range(20)}
MIX_WSUM = 50.0


def _q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain mixing, both published modes as a labeled union:

    - ``part='temp'``: temperature (alpha=0.5) flattening with
      deterministic hash acceptance + inverse-probability weights
      (a=p_share, b=keep_rate, c=mix_wt; downsampling only).
    - ``part='target'`` (round 8, ``materialize_mixture``): EXPLICIT
      target token shares (DoReMi-style applied weights, srcN
      weighted (N%4)+1) — domains upsample via repeat_ix copies or
      downsample via hash acceptance so expected token shares hit the
      target (a=target_share, b=rate, c=mix_wt=1/rate).  Token
      counts, rates, and the Bernoulli fraction all reproduce in the
      oracle exactly (integer token sums are order-independent in
      doubles; rate arithmetic is the same left-associated w*B/T)."""
    docs = _docs(spark, sf_dir)
    temp = domain_mix_sample(docs, alpha=0.5).select(
        F.lit("temp").alias("part"),
        "doc_id",
        "source",
        F.lit(0).cast("long").alias("rep"),
        F.round("p_share", 9).alias("a"),
        F.round("keep_rate", 9).alias("b"),
        F.round("mix_wt", 9).alias("c"),
    )
    n_tok = F.size(text_ops.tokens("text")).cast("double")
    tgt = materialize_mixture(
        docs, MIX_TARGETS, n_tok=n_tok, seed="mixt"
    ).select(
        F.lit("target").alias("part"),
        "doc_id",
        "source",
        F.col("repeat_ix").cast("long").alias("rep"),
        F.round("target_share", 9).alias("a"),
        F.round("rate", 9).alias("b"),
        F.round("mix_wt", 9).alias("c"),
    )
    return temp.unionByName(tgt)


def _sql_domain_mix() -> str:
    uu = MD5INT_SQL.format(x="concat_ws('-', 'mix', doc_id::VARCHAR)")
    ut = MD5INT_SQL.format(x="concat_ws('-', 'mixt', doc_id::VARCHAR)")
    return f"""
    WITH s AS (
      SELECT source, count(*) * 1.0 / sum(count(*)) OVER () AS p_share
      FROM documents GROUP BY source),
    r AS (SELECT source, p_share,
                 pow(p_share / min(p_share) OVER (), -0.5) AS keep_rate
          FROM s),
    u AS (SELECT doc_id, source,
                 {uu} / 281474976710656.0 AS uu
          FROM documents),
    tm AS (SELECT doc_id, source,
                  len({TOKS_SQL})::DOUBLE AS nt,
                  {ut} / 281474976710656.0 AS ut
           FROM documents),
    td AS (SELECT source, sum(nt) AS t_d FROM tm GROUP BY 1),
    bb AS (SELECT sum(t_d) AS b FROM td),
    rr AS (SELECT source,
                  ((substr(source, 4)::INT % 4) + 1) / {MIX_WSUM} AS w,
                  ((substr(source, 4)::INT % 4) + 1) / {MIX_WSUM}
                    * bb.b / t_d AS rate
           FROM td, bb),
    k AS (SELECT tm.doc_id, tm.source, rr.w, rr.rate,
                 floor(rate)::BIGINT
                   + CASE WHEN tm.ut < rate - floor(rate)
                          THEN 1 ELSE 0 END AS nc
          FROM tm JOIN rr USING (source))
    SELECT 'temp' AS part, u.doc_id, u.source, 0::BIGINT AS rep,
           round(p_share, 9) AS a,
           round(keep_rate, 9) AS b,
           round(1.0 / keep_rate, 9) AS c
    FROM u JOIN r USING (source) WHERE uu < keep_rate
    UNION ALL
    SELECT 'target' AS part, doc_id, source,
           unnest(generate_series(0, nc - 1))::BIGINT AS rep,
           round(w, 9) AS a,
           round(rate, 9) AS b,
           round(1.0 / rate, 9) AS c
    FROM k WHERE nc > 0
    """


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text_ops.repetition_features(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.round("dup_token_frac", 9).alias("dup_token_frac"),
        F.round("dup_bigram_frac", 9).alias("dup_bigram_frac"),
        F.round("top_bigram_frac", 9).alias("top_bigram_frac"),
    )


def _sql_repetition_stats() -> str:
    return f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    base AS (SELECT doc_id,
                    CASE WHEN len(toks) > 0
                         THEN 1.0 - len(list_distinct(toks)) * 1.0 / len(toks)
                         ELSE 0.0 END AS dup_token_frac
             FROM t),
    ex AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i + 1])) AS g
           FROM t WHERE len(toks) >= 2),
    pg AS (SELECT doc_id, g, count(*) AS c FROM ex GROUP BY 1, 2),
    agg AS (SELECT doc_id,
                   1.0 - count(*) * 1.0 / sum(c) AS dup_bigram_frac,
                   max(c) * 1.0 / sum(c) AS top_bigram_frac
            FROM pg GROUP BY 1)
    SELECT b.doc_id,
           round(b.dup_token_frac, 9) AS dup_token_frac,
           round(coalesce(a.dup_bigram_frac, 0.0), 9) AS dup_bigram_frac,
           round(coalesce(a.top_bigram_frac, 0.0), 9) AS top_bigram_frac
    FROM base b LEFT JOIN agg a USING (doc_id)
    """


def _q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training: first 8 BPE merges learned from the corpus
    with the BATCHED recurrence (batch_size=4 -> 2 distributed rounds
    instead of 8 driver round-trips; at a real 32k vocab this is the
    difference between ~8k rounds and 32k sequential jobs). Rows-only
    gate (the iterative argmax is not SQL-expressible); both the
    sequential (batch_size=1) and batched variants are golden-tested
    against pure-Python mirrors in tests/."""
    res = learn_bpe_merges(
        _docs(spark, sf_dir), n_merges=8, min_freq=2, batch_size=4
    )
    rows = [
        (i + 1, l, r, c) for i, (l, r, c) in enumerate(res.merges)
    ]
    return spark.createDataFrame(
        rows, "rank int, left string, right string, freq long"
    )


def _q_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM quality scores (the perplexity-filter
    stage): add-0.1-smoothed bigram model, per-doc mean log-prob."""
    out = text_ops.bigram_logprob_scores(_docs(spark, sf_dir), alpha=0.1)
    return out.select(
        "doc_id", "n_bigrams", F.round("mean_logp", 9).alias("mean_logp")
    )


def _sql_bpe_merges(
    n_merges: int = 8, batch: int = 4, min_freq: int = 2
) -> str:
    """DuckDB twin of the batched BPE recurrence (optimization round
    12, VERDICT-r11 item 4 — closes the bpe_merges ``no_oracle`` gap):
    the output is FLOAT-FREE (rank/left/right int+string, freq an
    exact integer sum), so a hash-bearing oracle is feasible where the
    raw-double iterative fits are not.

    The unrolled rounds mirror ``bpe.learn_bpe_merges`` exactly:
    per round, adjacent-symbol pair counts of the round's START state,
    the top ``max(4k, k+8)`` rows by (count DESC, l, r) — the window
    truncation is part of the contract — filtered to
    ``freq >= min_freq``, the greedy non-conflicting selection (a
    recursive CTE carrying the used-symbol set, exactly
    ``select_nonconflicting``), and the left-to-right greedy fold
    applying the kept set (``list_reduce`` over a unit-separator
    string accumulator — the seed-with-first-element semantics equal
    the Spark fold's empty-array seed because the first symbol can
    never merge).  Rounds unroll to ``n_merges`` (every productive
    round keeps >= 1 merge; an exhausted round keeps 0 and every later
    round is then a fixed point, mirroring the Python loop's break).
    State CTEs are MATERIALIZED — plain CTE inlining re-expands the
    vocab chain exponentially.  Verified row-for-row identical to the
    Spark side at sf0.001/0.01/0.1, including the batched-window
    order divergence from strict count order."""
    ctes = [
        f"""toks AS (SELECT {TOKS_SQL} AS toks FROM documents),
words AS MATERIALIZED (SELECT w, count(*)::BIGINT AS freq
          FROM (SELECT unnest(toks) AS w FROM toks) GROUP BY w),
vocab_0 AS MATERIALIZED (
  SELECT w, freq,
         CASE WHEN length(w) > 0
              THEN list_transform(range(1, length(w) + 1),
                                  i -> substring(w, i::INT, 1))
              ELSE []::VARCHAR[] END AS syms
  FROM words),
merges_0(round, ord, l, r, c) AS (
  SELECT 0, 0, '', '', 0::BIGINT WHERE false)"""
    ]
    for r in range(1, int(n_merges) + 1):
        p = r - 1
        ctes.append(f"""k_{r} AS (
  SELECT least({batch}, {n_merges} - (SELECT count(*) FROM merges_{p}))::INT AS k),
pairs_{r} AS MATERIALIZED (
  SELECT l, r, sum(freq)::BIGINT AS c FROM (
    SELECT freq, syms[i] AS l, syms[i + 1] AS r
    FROM vocab_{p}, unnest(range(1, len(syms))) AS u(i)
    WHERE len(syms) >= 2)
  GROUP BY l, r),
ranked_{r} AS (
  SELECT l, r, c, row_number() OVER (ORDER BY c DESC, l, r) AS rk
  FROM pairs_{r}),
cand_{r} AS (
  SELECT l, r, c, row_number() OVER (ORDER BY rk) AS seq
  FROM ranked_{r}, k_{r}
  WHERE rk <= greatest(4 * k_{r}.k, k_{r}.k + 8) AND c >= {min_freq}),
greedy_{r}(i, kept, used) AS (
  SELECT 0, []::VARCHAR[], []::VARCHAR[]
  UNION ALL
  SELECT g.i + 1,
    CASE WHEN len(g.kept) >= (SELECT k FROM k_{r})
           OR list_contains(g.used, c.l) OR list_contains(g.used, c.r)
           OR list_contains(g.used, c.l || c.r)
         THEN g.kept
         ELSE g.kept || [c.l || chr(31) || c.r || chr(31) || c.c::VARCHAR] END,
    CASE WHEN len(g.kept) >= (SELECT k FROM k_{r})
           OR list_contains(g.used, c.l) OR list_contains(g.used, c.r)
           OR list_contains(g.used, c.l || c.r)
         THEN g.used
         ELSE g.used || [c.l, c.r, c.l || c.r] END
  FROM greedy_{r} g JOIN cand_{r} c ON c.seq = g.i + 1),
kept_{r} AS MATERIALIZED (
  SELECT kept FROM greedy_{r} ORDER BY i DESC LIMIT 1),
keptp_{r} AS (
  SELECT coalesce(list_transform(kept,
           s -> split_part(s, chr(31), 1) || chr(31) || split_part(s, chr(31), 2)),
         []::VARCHAR[]) AS kp
  FROM kept_{r}),
merges_{r} AS MATERIALIZED (
  SELECT * FROM merges_{p}
  UNION ALL
  SELECT {r} AS round, t.i AS ord,
         split_part(kept[t.i], chr(31), 1) AS l,
         split_part(kept[t.i], chr(31), 2) AS r,
         split_part(kept[t.i], chr(31), 3)::BIGINT AS c
  FROM kept_{r}, unnest(range(1, len(kept) + 1)) AS t(i)),
vocab_{r} AS MATERIALIZED (
  SELECT w, freq,
    CASE WHEN len(syms) = 0 THEN syms
         ELSE string_split(
           list_reduce(syms, (acc, x) -> CASE
             WHEN list_contains(kp,
                    list_extract(string_split(acc, chr(31)), -1) || chr(31) || x)
             THEN CASE
               WHEN length(acc) = length(list_extract(string_split(acc, chr(31)), -1))
               THEN list_extract(string_split(acc, chr(31)), -1) || x
               ELSE left(acc, length(acc)
                         - length(list_extract(string_split(acc, chr(31)), -1)) - 1)
                    || chr(31)
                    || list_extract(string_split(acc, chr(31)), -1) || x END
             ELSE acc || chr(31) || x END),
           chr(31)) END AS syms
  FROM vocab_{p}, keptp_{r})""")
    final = f"""
SELECT row_number() OVER (ORDER BY round, ord)::INT AS rank,
       l AS "left", r AS "right", c AS freq
FROM merges_{int(n_merges)}
ORDER BY round, ord"""
    return "WITH RECURSIVE " + ",\n".join(ctes) + final


def _sql_lm_scores() -> str:
    return f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    bg AS (SELECT doc_id,
                  unnest(toks[1:len(toks) - 1]) AS w1,
                  unnest(toks[2:len(toks)]) AS w2
           FROM t WHERE len(toks) >= 2),
    v AS (SELECT count(DISTINCT tok) * 1.0 AS vv
          FROM (SELECT unnest(toks) AS tok FROM t)),
    cbg AS (SELECT w1, w2, count(*) AS cbg FROM bg GROUP BY 1, 2),
    cw1 AS (SELECT w1, count(*) AS cw1 FROM bg GROUP BY 1),
    sc AS (SELECT doc_id, ln((cbg + 0.1) / (cw1 + 0.1 * vv)) AS lp
           FROM bg JOIN cbg USING (w1, w2) JOIN cw1 USING (w1)
                CROSS JOIN v),
    pd AS (SELECT doc_id, count(*) AS n_bigrams, avg(lp) AS mean_logp
           FROM sc GROUP BY 1)
    SELECT t.doc_id,
           coalesce(pd.n_bigrams, 0) AS n_bigrams,
           round(pd.mean_logp, 9) AS mean_logp
    FROM t LEFT JOIN pd USING (doc_id)
    """


#: word-gram width of the GPT-3-style eval-overlap branch (13 is the
#: published constant; 8 keeps fractions informative at the synthetic
#: corpus's doc lengths while exercising the identical plan shape)
N_OVERLAP = 8


def _q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-leakage detection, BOTH published directions as a
    labeled union (round 8): odd doc_ids act as the eval corpus, even
    ones as train.

    - ``side='train'``: flag every train doc sharing a winnowing
      fingerprint with eval (broadcast fingerprint equi-join; the
      winnowing guarantee makes any shared >= w+k-1-token run
      detectable) — ``n`` = shared fingerprints, ``frac`` NULL.
    - ``side='eval'``: the GPT-3 appendix-C / PaLM "dirty eval"
      methodology — per eval doc, the fraction of its distinct
      {N_OVERLAP}-grams occurring anywhere in train (train side
      map-only against the broadcast eval gram set) — ``n`` = matched
      distinct grams, ``frac`` = overlap fraction.
    """
    docs = _docs(spark, sf_dir)
    train = docs.where(F.col("doc_id") % 2 == 0)
    ev = docs.where(F.col("doc_id") % 2 == 1)
    _, contaminated = text_ops.decontaminate(
        train, ev, k=WINNOW_K, w=WINNOW_W
    )
    flag = contaminated.select(
        F.lit("train").alias("side"),
        "doc_id",
        F.col("n_shared").cast("long").alias("n"),
        F.lit(None).cast("double").alias("frac"),
    )
    overlap = text_ops.ngram_overlap_scores(train, ev, n=N_OVERLAP).select(
        F.lit("eval").alias("side"),
        "doc_id",
        F.col("n_matched").cast("long").alias("n"),
        F.round("overlap_frac", 6).alias("frac"),
    )
    return flag.unionByName(overlap)


def _sql_decontamination() -> str:
    kg = " || ' ' || ".join(f"toks[i + {j}]" for j in range(WINNOW_K))
    og = " || ' ' || ".join(f"toks[i + {j}]" for j in range(N_OVERLAP))
    fp_cte = f"""
    t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id,
            list_transform(
              generate_series(1, greatest(len(toks) - {WINNOW_K - 1}, 0)),
              i -> {kg}) AS kg
          FROM t),
    h AS (SELECT doc_id,
            list_transform(kg, x -> {MD5INT_SQL.format(x='x')}) AS hs
          FROM g),
    s AS (SELECT doc_id,
            CASE WHEN len(hs) >= {WINNOW_W} THEN
              list_distinct(list_transform(
                generate_series(1, len(hs) - {WINNOW_W - 1}),
                j -> list_min(array_slice(hs, j, j + {WINNOW_W - 1}))))
            ELSE list_distinct(hs) END AS fp
          FROM h)
    """
    return f"""
    WITH {fp_cte},
    ex AS (SELECT doc_id, unnest(fp) AS f FROM s),
    evfp AS (SELECT DISTINCT f FROM ex WHERE doc_id % 2 = 1),
    gr AS (SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(toks) - {N_OVERLAP - 1}),
               i -> {og})) AS g
           FROM t WHERE len(toks) >= {N_OVERLAP}),
    evg AS (SELECT DISTINCT doc_id, g FROM gr WHERE doc_id % 2 = 1),
    trg AS (SELECT DISTINCT g FROM gr WHERE doc_id % 2 = 0),
    tot AS (SELECT doc_id, count(*) AS n_grams FROM evg GROUP BY 1),
    mat AS (SELECT evg.doc_id, count(*) AS n_matched
            FROM evg JOIN trg USING (g) GROUP BY 1)
    SELECT 'train' AS side, ex.doc_id, count(*)::BIGINT AS n,
           CAST(NULL AS DOUBLE) AS frac
    FROM ex JOIN evfp USING (f)
    WHERE ex.doc_id % 2 = 0
    GROUP BY ex.doc_id
    UNION ALL
    SELECT 'eval' AS side, d.doc_id,
           coalesce(mat.n_matched, 0)::BIGINT AS n,
           CASE WHEN coalesce(tot.n_grams, 0) > 0
                THEN round(coalesce(mat.n_matched, 0)::DOUBLE
                           / tot.n_grams, 6)
                ELSE 0.0 END AS frac
    FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
    LEFT JOIN tot USING (doc_id)
    LEFT JOIN mat USING (doc_id)
    """


def _q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle + train/val/test split: global rank
    by md5 key via range partitioning + prefix offsets (no
    single-partition window)."""
    return corpus_shuffle_split(_docs(spark, sf_dir))


def _sql_corpus_shuffle() -> str:
    bucket = (
        MD5INT_SQL.format(x="concat_ws('-', 'shuf-split', doc_id::VARCHAR)")
        + " % 10"
    )
    return f"""
    WITH k AS (
      SELECT doc_id,
             md5(concat_ws('-', 'shuf', doc_id::VARCHAR)) AS sk,
             {bucket} AS b
      FROM documents)
    SELECT doc_id,
           row_number() OVER (ORDER BY sk) AS rank,
           CASE WHEN b < 8 THEN 'train'
                WHEN b < 9 THEN 'val'
                ELSE 'test' END AS split
    FROM k
    """


PACK_BUDGET = 256
PACK_SHARDS = 8


CHUNK_MAX = 16
CHUNK_OVERLAP = 4


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-window layout suite, part-labeled in one union:

    - part='pack': next-fit sequence packing — documents into fixed
      256-token training sequences within doc_id%8 shards.
    - part='chunk' (round 5): context-window chunking
      (``operators/packing.py chunk_documents``) — every doc into
      sliding 16-token windows with 4-token overlap; each chunk's text
      is certified via md5, so the hash match proves the window slices
      byte-exactly (the SQL oracle recomputes the same windows with
      generate_series + array_slice)."""
    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.packing import (
        chunk_documents,
    )

    docs = _docs(spark, sf_dir)
    packed = pack_sequences(
        docs,
        PACK_BUDGET,
        n_tok=text_ops.token_count("text"),
        n_shards=PACK_SHARDS,
    ).select(
        F.lit("pack").alias("part"),
        "doc_id",
        F.col("shard").cast("long").alias("a"),
        F.col("seq_id").cast("long").alias("b"),
        F.col("offset").cast("long").alias("c"),
        F.col("n_tok").cast("long").alias("n"),
        F.lit(None).cast("string").alias("fp"),
    )
    chunks = chunk_documents(docs, CHUNK_MAX, overlap=CHUNK_OVERLAP).select(
        F.lit("chunk").alias("part"),
        "doc_id",
        F.col("chunk_id").cast("long").alias("a"),
        F.col("n_chunk_tokens").cast("long").alias("b"),
        F.lit(None).cast("long").alias("c"),
        F.lit(None).cast("long").alias("n"),
        F.md5("chunk_text").alias("fp"),
    )
    return packed.unionByName(chunks)


def _sql_pack_sequences() -> str:
    # the same next-fit recurrence, one recursion level per doc rank
    # within its shard; plus the sliding-window chunk twin
    stride = CHUNK_MAX - CHUNK_OVERLAP
    return f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
             len({TOKS_SQL}) AS n_tok
      FROM documents),
    ord AS (SELECT *, row_number() OVER (
              PARTITION BY shard ORDER BY doc_id) AS rn FROM t),
    pack(shard, rn, doc_id, n_tok, seq_id, off) AS (
      SELECT shard, rn, doc_id, n_tok, 0::BIGINT, 0::BIGINT
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.shard, o.rn, o.doc_id, o.n_tok,
             CASE WHEN p.off + p.n_tok + o.n_tok <= {PACK_BUDGET}
                  THEN p.seq_id ELSE p.seq_id + 1 END,
             CASE WHEN p.off + p.n_tok + o.n_tok <= {PACK_BUDGET}
                  THEN p.off + p.n_tok ELSE 0::BIGINT END
      FROM pack p JOIN ord o ON o.shard = p.shard AND o.rn = p.rn + 1),
    ct AS (SELECT doc_id,
                  list_filter({TOKS_SQL}, x -> x <> '') AS toks
           FROM documents),
    cs AS (SELECT doc_id, toks,
                  unnest(generate_series(1, greatest(len(toks), 1),
                                         {stride})) AS s
           FROM ct),
    ch AS (SELECT doc_id, (s - 1) / {stride} AS chunk_id,
                  array_slice(toks, s, s + {CHUNK_MAX - 1}) AS chunk
           FROM cs),
    cf AS (SELECT doc_id, chunk_id, len(chunk) AS n_chunk,
                  md5(array_to_string(chunk, ' ')) AS fp
           FROM ch
           WHERE chunk_id = 0 OR len(chunk) >= {CHUNK_OVERLAP + 1})
    SELECT 'pack' AS part, doc_id, shard AS a, seq_id AS b,
           off AS c, n_tok AS n, NULL::VARCHAR AS fp
    FROM pack
    UNION ALL
    SELECT 'chunk', doc_id, chunk_id::BIGINT, n_chunk::BIGINT,
           NULL::BIGINT, NULL::BIGINT, fp
    FROM cf
    """


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash(_docs(spark, sf_dir), bits=16).select("doc_id", "simhash")


def _sql_simhash() -> str:
    hcol = MD5INT_SQL.format(x="tok")
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) % 2 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(16)
    )
    val = " + ".join(f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(16))
    return f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    ex AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    hs AS (SELECT doc_id, {hcol} AS h FROM ex),
    bits AS (SELECT doc_id, {sums} FROM hs GROUP BY doc_id)
    SELECT doc_id, ({val})::BIGINT AS simhash FROM bits
    """


def _q_embedding_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    out = embedding_moments(emb)
    return out.select(
        F.col("dim").cast("long").alias("dim"),
        "n",
        F.round("mean", 9).alias("mean"),
        F.round("var_pop", 9).alias("var_pop"),
    )


def _sql_embedding_moments() -> str:
    return """
    WITH ex AS (
      SELECT unnest(range(len(embedding))) AS dim,
             unnest(embedding::DOUBLE[]) AS v
      FROM embeddings)
    SELECT dim, count(*) AS n,
           round(avg(v), 9) AS mean,
           round(avg(v * v) - avg(v) * avg(v), 9) AS var_pop
    FROM ex GROUP BY dim
    """


def _q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA projection (partial-Gram mapInPandas -> driver
    d x d eigh -> JVM-side zip_with projection). Rows-only gate
    (eigendecomposition is not SQL-expressible); golden-tested against
    a dense NumPy mirror."""
    emb = _emb(spark, sf_dir)
    _, _, proj = embedding_pca(emb, q=2)
    return proj.select(
        "vec_id",
        F.round("pc_0", 6).alias("pc_0"),
        F.round("pc_1", 6).alias("pc_1"),
    )


def _q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    out = brute_force_topk(emb, emb.where(F.col("vec_id") < 5), 3)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def _sql_embedding_topk() -> str:
    return """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.v, e.v))) AS cos,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY list_dot_product(q.qv, e.v)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(e.v, e.v))) DESC, e.vec_id
             ) AS rank
      FROM q JOIN e ON e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rank
    FROM scored WHERE rank <= 3
    """


EMB_DEDUP_N = 5000  # brute-force verifier demo is bounded; LSH is the scale path


def _q_embedding_dedup(
    spark: SparkSession, sf_dir: str, n_rows: int | None = None
) -> DataFrame:
    emb = _emb(spark, sf_dir).where(F.col("vec_id") < EMB_DEDUP_N)
    out = embedding_cosine_pairs(emb, EMB_TAU, n_rows=n_rows)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _sql_embedding_dedup() -> str:
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE vec_id < {EMB_DEDUP_N})
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= {EMB_TAU}
    """


def _q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN, VALUE-CHECKED (upgraded from rows-only in
    round 3): the hyperplanes are a deterministic pure-Python LCG
    stream, so the oracle inlines the IDENTICAL plane literals and
    replays signature banding, candidate generation, and scoring with
    the same left-to-right summation order — making the approximate
    candidate sets bitwise reproducible across engines. Recall vs the
    exact top-k remains asserted in tests/."""
    emb = _emb(spark, sf_dir)
    out = lsh_topk(emb, emb.where(F.col("vec_id") < 5), 3, dim=EMB_DIM)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


LSH_PLANES = 12
LSH_BANDS = 4
LSH_SEED = 13
EMB_DIM = 64


def _sql_lsh_topk() -> str:
    """DuckDB replay of the LSH pipeline with inlined hyperplanes.

    Every dot product is written as an explicit left-associated chain
    (``v[1]*p1 + v[2]*p2 + ...``), which is the exact summation order
    of Spark's sequential ``aggregate`` fold — IEEE arithmetic is then
    bitwise identical on both engines, so signature bits, candidate
    sets, and rank order all agree exactly."""
    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.similarity import (
        hyperplanes,
    )

    planes = hyperplanes(EMB_DIM, LSH_PLANES, LSH_SEED)
    rows = LSH_PLANES // LSH_BANDS
    mod = 1 << rows

    def plane_chain(p: list[float]) -> str:
        return " + ".join(f"v[{j + 1}] * {p[j]!r}" for j in range(EMB_DIM))

    sig = " + ".join(
        f"CASE WHEN ({plane_chain(p)}) > 0 THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    self_dot = " + ".join(f"v[{j + 1}] * v[{j + 1}]" for j in range(EMB_DIM))
    cross_dot = " + ".join(
        f"sq.v[{j + 1}] * sc.v[{j + 1}]" for j in range(EMB_DIM)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (SELECT vec_id, v,
                 ({sig})::BIGINT AS sig,
                 sqrt({self_dot}) AS nrm
          FROM e),
    bands(band) AS (SELECT unnest(range({LSH_BANDS}))),
    qb AS (SELECT vec_id AS query_id, band,
                  (sig >> (band * {rows})) % {mod} AS chunk
           FROM s CROSS JOIN bands WHERE vec_id < 5),
    cb AS (SELECT vec_id AS neighbor_id, band,
                  (sig >> (band * {rows})) % {mod} AS chunk
           FROM s CROSS JOIN bands),
    cand AS (SELECT DISTINCT q.query_id, c.neighbor_id
             FROM qb q JOIN cb c USING (band, chunk)
             WHERE c.neighbor_id <> q.query_id),
    scored AS (SELECT cand.query_id, cand.neighbor_id,
                      ({cross_dot}) / (sq.nrm * sc.nrm) AS cos
               FROM cand
               JOIN s sq ON sq.vec_id = cand.query_id
               JOIN s sc ON sc.vec_id = cand.neighbor_id),
    ranked AS (SELECT query_id, neighbor_id, cos,
                      row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY cos DESC, neighbor_id) AS rank
               FROM scored)
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
           rank::BIGINT AS rank
    FROM ranked WHERE rank <= 3
    """



def _q_ivf_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF and IVF-PQ machinery as a method-labeled union (merged in
    round 8 so the whole registry fits inside the driver's 50-row
    correctness window with zero lost evidence -- the
    ``dedup_pairs``/``kw_kernels`` pattern).

    Branch ``ivf``: n_probe == n_lists, so the probe join scans every
    cell and the result is EXACTLY brute-force top-k (gates the
    quantizer + index join + scoring plumbing end to end).

    Branch ``pq``: IVF-PQ at n_probe == n_lists with a re-rank window
    wider than the corpus: every candidate survives the ADC cut and is
    exact-cosine re-ranked, so the result is also EXACTLY brute-force
    top-k.  This executes (and therefore gates) the full IVF-PQ path:
    coarse assignment, sub-quantizer codebook training, binary m-byte
    encode, per-query LUT build, the Arrow ADC gather (the finite
    ``rerank`` keeps the ADC window in the executed plan --
    ``rerank=None`` would let Catalyst prune the unused score), and
    the re-rank join back to original vectors.

    Both branches are hash-checked against the same brute-force oracle
    cross-joined with the two method labels."""
    emb = _emb(spark, sf_dir)
    # exactness at full probe holds for ANY centroids: one Lloyd pass
    # is enough for the gate (quantizer quality only matters at
    # partial probe), and ONE coarse quantizer serves both branches
    # (training it twice would gate nothing extra)
    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.similarity import (
        kmeans_centroids,
    )

    # BOUNDED training input at any SF with NO serialized sizing
    # count() job (optimization round 12, VERDICT-r11 item 2): round
    # 11's ``train_fraction=1.0`` skipped the trainers' auto-sizing
    # counts but also removed the 200k-row training bound — at 100 TB
    # the Lloyd/codebook updates would aggregate EVERY vector.
    # Restored here by running the corpus count CONCURRENTLY with the
    # shared seed collect (guide §2.6 — two independent tiny jobs, one
    # driver barrier of wall = max instead of sum; the union'd
    # single-job variant was measured +0.2-0.3 s from its global-limit
    # plan) and passing the derived ``min(1, 200k/n)`` fraction to
    # both trainers.  At the driver SFs n <= 200k so the fraction is
    # 1.0 and the training inputs/models stay byte-identical to round
    # 11; at scale the md5-threshold cut bounds training to ~200k rows.
    #
    # Seed/sample consistency: the trainers' internal sampled path
    # seeds from the SAMPLE, but the sample is the md5-prefix cut
    # ``u < f`` and seeds are the smallest-md5-first rows — a row with
    # u < f always orders before any row with u >= f (equal-length hex
    # prefix order), so whenever the sample has >= 16 rows the 16
    # smallest-md5 rows of the FULL base ARE the sample's 16 smallest
    # (asserted by tests/test_pq.py::
    # test_shared_seeds_bit_identical_models for the sampled path).
    #
    # ONE shared seed collect (round 11, second pass): the coarse
    # quantizer seeds from the 8 smallest-md5(id) rows and the PQ
    # codebook from the 16 smallest OF THE SAME ORDERING over the same
    # non-null base — one 16-row collect serves both trainers (their
    # own seed jobs are skipped via ``seeds=``; normalization /
    # residualization still happen inside, so the models are
    # bit-identical).
    import numpy as np

    from concurrent.futures import ThreadPoolExecutor

    base = emb.where(F.col("embedding").isNotNull())
    with ThreadPoolExecutor(max_workers=1) as _pool:
        _cnt_fut = _pool.submit(base.count)
        seed_rows = (
            base.select(
                F.col("embedding").alias("_v"),
                F.md5(F.col("vec_id").cast("string")).alias("_h"),
            )
            .orderBy("_h")
            .limit(16)
            .collect()
        )
        n_corpus = int(_cnt_fut.result())
    train_frac = min(1.0, 200_000.0 / max(n_corpus, 1))
    raw_seeds = np.stack(
        [np.asarray(r["_v"], dtype=np.float64) for r in seed_rows]
    )
    cen = kmeans_centroids(
        emb, n_lists=8, max_iter=1, train_fraction=train_frac,
        seeds=raw_seeds[:8],
    )
    ivf_out = ivf_topk(
        emb, emb.where(F.col("vec_id") < 5), 3, n_lists=8, n_probe=8,
        max_iter=1, centroids=cen,
    ).select(
        F.lit("ivf").alias("method"),
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )
    pq_out = ivfpq_topk(
        emb, emb.where(F.col("vec_id") < 5), 3, n_lists=8, n_probe=8,
        m=8, ksub=16, rerank=1_000_000, max_iter=1, centroids=cen,
        train_fraction=train_frac, codebook_seeds=raw_seeds,
    ).select(
        F.lit("pq").alias("method"),
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )
    return ivf_out.unionByName(pq_out)


def _sql_ivf_pq_topk() -> str:
    """Brute-force top-k (the exactness oracle for BOTH full-probe IVF
    and full-probe+corpus-re-rank IVF-PQ) labeled per method."""
    return f"""
    SELECT m.method, t.query_id, t.neighbor_id, t.cosine, t.rank
    FROM ({_sql_embedding_topk()}) t
    CROSS JOIN (VALUES ('ivf'), ('pq')) AS m(method)
    """


def _q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed weighted totals over the events table (the
    batch twin of the streaming aggregation; F.window semantics)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = tpch.load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("win"), "event_type")
        .agg(
            F.round(F.sum("value"), 6).alias("total_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.unix_timestamp(F.col("win.start")).alias("win_start"),
            "event_type",
            "total_value",
            "n",
        )
    )


def _sql_events_windowed() -> str:
    return """
    SELECT epoch(time_bucket(INTERVAL '6 hours', ts))::BIGINT AS win_start,
           event_type,
           round(sum(value), 6) AS total_value,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """


def _sql_streaming_windowed() -> str:
    """The windowed batch oracle joined with the per-type whole-stream
    cumulative mean (the stateful operator's final state must equal the
    batch group mean) and the streaming-dedup survivor-set certificate
    (count + checksum over the distinct fingerprints per type)."""
    return f"""
    SELECT w.*, r.run_n, r.run_wmean, d.dedup_n, d.dedup_ck
    FROM ({_sql_events_windowed()}) w
    JOIN (SELECT event_type,
                 count(*) AS run_n,
                 round(sum(value) / count(*), 6) AS run_wmean
          FROM events GROUP BY 1) r USING (event_type)
    JOIN (SELECT event_type,
                 count(*)::BIGINT AS dedup_n,
                 sum({MD5INT_SQL.format(x='fp')} % 1000003)::BIGINT AS dedup_ck
          FROM (SELECT DISTINCT event_type,
                       md5(event_type || ' ' || (user_id % 50)) AS fp
                FROM events)
          GROUP BY 1) d USING (event_type)
    """


def _q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic as-of join (public D4): every purchase event matched to
    the user's most recent view event (inclusive backward). One shuffle
    on user_id; window carry-forward, no range join."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = tpch.load_events(spark, sf_dir)
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        purchases, views, on="ts", by="user_id", value_cols=["view_value"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_sec"),
        F.round("value", 6).alias("value"),
        F.unix_timestamp("ts_asof").alias("view_ts_sec"),
        F.round("view_value_asof", 6).alias("view_value"),
    )


def _sql_events_asof() -> str:
    # DuckDB's native ASOF JOIN is the oracle for the window-based
    # distributed implementation
    return """
    WITH v AS (SELECT user_id, ts, max(value) AS view_value
               FROM events WHERE event_type = 'view' GROUP BY 1, 2),
    p AS (SELECT event_id, user_id, ts, value
          FROM events WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id,
           floor(epoch(p.ts))::BIGINT AS ts_sec,
           round(p.value, 6) AS value,
           floor(epoch(v.ts))::BIGINT AS view_ts_sec,
           round(v.view_value, 6) AS view_value
    FROM p ASOF LEFT JOIN v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    """


def _q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join (generic KW-band shape): views within 24h
    before each purchase, aggregated per purchase. Bucketed equi-join
    on (user, floor(t/w)) -- no per-key cross product."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = tpch.load_events(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").cast("double").alias("t"), "value"
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").cast("double").alias("t"),
        F.col("value").alias("vv"),
    )
    pairs = range_join(
        purchases, views, on="t", by="user_id", window=86400.0,
        value_cols=["vv"],
    )
    return pairs.groupBy("event_id", "user_id", "value").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.round(F.sum("vv_r"), 6).alias("view_value_sum"),
    ).select(
        "event_id", "user_id", F.round("value", 6).alias("value"),
        "n_views", "view_value_sum",
    )


def _sql_events_attribution() -> str:
    return """
    WITH p AS (SELECT event_id, user_id, epoch(ts) AS t, value
               FROM events WHERE event_type = 'purchase'),
    v AS (SELECT user_id, epoch(ts) AS t, value AS vv
          FROM events WHERE event_type = 'view')
    SELECT p.event_id, p.user_id, round(p.value, 6) AS value,
           count(*) AS n_views,
           round(sum(v.vv), 6) AS view_value_sum
    FROM p JOIN v
      ON p.user_id = v.user_id AND v.t <= p.t AND v.t >= p.t - 86400
    GROUP BY 1, 2, p.value
    """




def _q_events_salted_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation: per-event-type totals via
    (key, salt) partials then a key-only combine -- value-identical to
    the direct GROUP BY (the oracle), but a single dominant key can
    never own one reducer."""
    ev = tpch.load_events(spark, sf_dir)
    out = salted_agg(
        ev.select("event_type", "value", "event_id"),
        ["event_type"],
        {
            "n": (F.count(F.lit(1)), "sum"),
            "total_value": (F.sum("value"), "sum"),
            "max_value": (F.max("value"), "max"),
        },
        salt=16,
        id_expr=F.col("event_id"),
    )
    return out.select(
        "event_type",
        "n",
        F.round("total_value", 6).alias("total_value"),
        F.round("max_value", 6).alias("max_value"),
    )


def _sql_events_salted_totals() -> str:
    return """
    SELECT event_type, count(*) AS n,
           round(sum(value), 6) AS total_value,
           round(max(value), 6) AS max_value
    FROM events GROUP BY event_type
    """


def _q_events_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``streaming.stateful.stream_running_weighted_mean``:
    the per-group algebraic state (n, sum_w, sum_wy, wmean) the stateful
    operator converges to once the whole events table has streamed
    through (weight = 1 per event, y = value)."""
    ev = tpch.load_events(spark, sf_dir)
    return (
        ev.groupBy(F.col("event_type").alias("group"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.lit(1.0)), 6).alias("sum_w"),
            F.round(F.sum("value"), 6).alias("sum_wy"),
            F.round(F.sum("value") / F.sum(F.lit(1.0)), 6).alias("wmean"),
        )
    )


def _sql_events_running_totals() -> str:
    return """
    SELECT event_type AS "group",
           count(*) AS n,
           round(count(*)::DOUBLE, 6) AS sum_w,
           round(sum(value), 6) AS sum_wy,
           round(sum(value) / count(*), 6) AS wmean
    FROM events
    GROUP BY 1
    """


SESSION_GAP_S = 1800  # 30 minutes


def _q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via Spark's native ``session_window``
    (batch = streaming semantics); the oracle twin states the classic
    lag + running-sum formulation, so this gate proves the two
    formulations equivalent (``operators/sessions.py``)."""
    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.sessions import (
        sessionize,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = tpch.load_events(spark, sf_dir)
    return sessionize(ev, f"{SESSION_GAP_S} seconds")


def _sql_events_sessions() -> str:
    return f"""
    WITH e AS (
      SELECT user_id, epoch(ts) AS es, value,
             CASE WHEN epoch(ts) - lag(epoch(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts) > {SESSION_GAP_S}
                  THEN 1
                  WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    IS NULL THEN 1
                  ELSE 0 END AS new_s
      FROM events),
    s AS (SELECT user_id, es, value,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY es
                                  ROWS UNBOUNDED PRECEDING) AS sess
          FROM e)
    SELECT user_id,
           round(min(es), 6) AS session_start,
           count(*) AS n_events,
           round(sum(value), 6) AS total_value
    FROM s GROUP BY user_id, sess
    ORDER BY user_id, session_start
    """


def _q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-conversion funnel over the event stream: per user, the
    earliest view -> first click AFTER that view -> first purchase
    AFTER that click; one row of stage conversion counts.  Single
    groupBy(user) with conditional min aggregates — no self-joins, no
    per-user collect; the 100 TB plan is one shuffle on user_id."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = tpch.load_events(spark, sf_dir)
    es = F.col("ts").cast("double")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", es)).alias("t_view")
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .join(per_user, "user_id")
        .where(es > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min(es).alias("t_click"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .where(es > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min(es).alias("t_purchase"))
    )
    return (
        per_user.join(clicks, "user_id", "left")
        .join(purchases, "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("users"),
            F.count("t_view").alias("viewed"),
            F.count("t_click").alias("clicked_after_view"),
            F.count("t_purchase").alias("purchased_after_click"),
        )
    )


def _sql_events_funnel() -> str:
    return """
    WITH pu AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN epoch(ts) END) AS t_view
      FROM events GROUP BY user_id),
    ck AS (
      SELECT e.user_id, min(epoch(e.ts)) AS t_click
      FROM events e JOIN pu ON e.user_id = pu.user_id
      WHERE e.event_type = 'click' AND epoch(e.ts) > pu.t_view
      GROUP BY e.user_id),
    pr AS (
      SELECT e.user_id, min(epoch(e.ts)) AS t_purchase
      FROM events e JOIN ck ON e.user_id = ck.user_id
      WHERE e.event_type = 'purchase' AND epoch(e.ts) > ck.t_click
      GROUP BY e.user_id)
    SELECT count(*) AS users,
           count(pu.t_view) AS viewed,
           count(ck.t_click) AS clicked_after_view,
           count(pr.t_purchase) AS purchased_after_click
    FROM pu LEFT JOIN ck ON pu.user_id = ck.user_id
            LEFT JOIN pr ON pu.user_id = pr.user_id
    """


TFIDF_TOP_K = 3


def _q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-k TF-IDF terms (``text.tf_idf_top_terms``):
    explode -> keyed aggs -> broadcast IDF join -> top-k window."""
    out = text_ops.tf_idf_top_terms(_docs(spark, sf_dir), top_k=TFIDF_TOP_K)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _sql_tfidf() -> str:
    return f"""
    WITH t AS (SELECT doc_id, unnest({TOKS_SQL}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    idf AS (SELECT term, ln((SELECT n_docs * 1.0 FROM n) / count(*)) AS idf
            FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, tf.tf * idf.idf AS score,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf * idf.idf DESC, tf.term ASC)
               AS rank
      FROM tf JOIN idf USING (term))
    SELECT doc_id, rank, term, tf, round(score, 6) AS tfidf
    FROM scored WHERE rank <= {TFIDF_TOP_K}
    ORDER BY doc_id, rank
    """


WQ_PROBS = (0.25, 0.5, 0.75)


def _q_weighted_median(spark: SparkSession, sf_dir: str, frames=None) -> DataFrame:
    """Design-weighted quantiles (type-1 / lower) of x1 under the
    survey weights — one cumulative-weight window pass
    (``functions/stats.weighted_quantiles``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _, survey = frames or tpch.survey_frames(spark, sf_dir)
    from data_integration_with_pseudoweights_and_survey_calibration_spark.functions.stats import (
        weighted_quantiles,
    )

    out = weighted_quantiles(survey, "x1", "wt", list(WQ_PROBS))
    return out.select("prob", F.round("q", 6).alias("q")).orderBy("prob")


def _sql_weighted_median() -> str:
    picks = "\n    UNION ALL\n".join(
        f"    SELECT {p} AS prob, round(min(_x), 6) AS q FROM cum WHERE _cw >= {p}"
        for p in WQ_PROBS
    )
    return f"""
    WITH units AS ({_duck_units()}),
    s AS (SELECT x1, wt FROM units WHERE {tpch.SURVEY_PRED}),
    tot AS (SELECT sum(wt) AS tw FROM s),
    cum AS (SELECT x1 AS _x,
                   sum(wt) OVER (ORDER BY x1 ROWS UNBOUNDED PRECEDING)
                     / (SELECT tw FROM tot) AS _cw
            FROM s)
{picks}
    ORDER BY prob
    """




def _q_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column handling: parse the ``props`` JSON string
    per event (`get_json_object`, JVM-side) and aggregate the extracted
    field by event type."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = tpch.load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("_k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_k").alias("sum_k"),
            F.round(F.avg("_k"), 6).alias("avg_k"),
        )
        .orderBy("event_type")
    )


def _sql_events_props() -> str:
    return """
    SELECT event_type,
           count(*) AS n,
           sum(json_extract(props, '$.k')::INT)::BIGINT AS sum_k,
           round(avg(json_extract(props, '$.k')::INT), 6) AS avg_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """


STRAT_FRAC = 0.02
STRAT_K = 5


def _q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified SRS with proportional allocation over hashed-uniform
    order (``sampling.stratified_sample``): deterministic, stable under
    repartitioning, hence fully value-checked."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    base = orders.select(
        F.col("o_orderkey").alias("id"),
        (F.col("o_orderkey") % STRAT_K).alias("stratum"),
    )
    u = (dedup_ops.md5_int(F.col("id").cast("string")) + F.lit(1.0)) / F.lit(2.0**48)
    samp = stratified_sample(base, "stratum", STRAT_FRAC, u=u, wt_col="swt")
    return samp.select("id", "stratum", F.round("swt", 6).alias("swt"))


def _sql_stratified_sample() -> str:
    return f"""
    WITH base AS (
      SELECT o_orderkey AS id, o_orderkey % {STRAT_K} AS stratum,
             (('0x' || substr(md5(cast(o_orderkey AS varchar)), 1, 12))::BIGINT
              + 1.0) / 281474976710656.0 AS u
      FROM orders),
    ranked AS (
      SELECT id, stratum,
             row_number() OVER (PARTITION BY stratum ORDER BY u) AS rk,
             count(*) OVER (PARTITION BY stratum) AS nh
      FROM base)
    SELECT id, stratum,
           round(nh * 1.0 / ceil({STRAT_FRAC} * nh), 6) AS swt
    FROM ranked
    WHERE rk <= ceil({STRAT_FRAC} * nh)
    ORDER BY id
    """



POP_DET_N = 5000


def _q_population_gen_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3+I24 with the counter-based hash RNG (``rng='hash'``):
    generation is bit-reproducible on any partitioning, so the oracle
    can replay the exact same draws — upgrading the population
    generator from a rows-only check to a full value check."""
    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators import (
        simulation as sim,
    )

    pop = sim.generate_population(
        spark,
        POP_DET_N,
        rng="hash",
        error_profiles=[sim.ERROR_PROFILES[0]],
    )
    return pop.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("x1"), 6).alias("mean_x1"),
        F.round(F.stddev("x1"), 6).alias("sd_x1"),
        F.round(F.avg("d"), 6).alias("event_rate"),
        F.round(F.avg("t"), 6).alias("mean_t"),
        F.sum((F.col("x1_c") == 1).cast("int")).alias("n_ter1"),
        F.round(F.avg("t_tilde_1"), 6).alias("mean_t_tilde_1"),
        F.round(F.avg("d_tilde_1"), 6).alias("rate_d_tilde_1"),
    )


def _sql_population_gen_det() -> str:
    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators import (
        simulation as sim,
    )

    def u(tag: str) -> str:
        return (
            f"(('0x' || substr(md5(id::VARCHAR || ':{tag}'), 1, 12))::BIGINT"
            " + 1.0) / 281474976710656.0"
        )

    def z(tag: str) -> str:
        return (
            f"sqrt(-2.0 * ln({u(tag + '.a')}))"
            f" * cos({sim.TWO_PI!r} * {u(tag + '.b')})"
        )

    b0, b1, b2, b3 = sim.DEFAULT_BETA
    bd0, bd1, bd2, bd3 = sim.ERROR_PROFILES[0]
    # tags mirror generate_population's seed-mixed counter tags
    # ("{tag}#{seed+offset}", default seed 8291)
    s = 8291
    return f"""
    WITH ids AS (SELECT range + 1 AS id FROM range({POP_DET_N})),
    r AS (SELECT id,
            {z(f'x1#{s + 1}')} * 4.0 AS x1,
            {z(f'x2#{s + 2}')} * 2.0 AS x2,
            {z(f'x3#{s + 3}')} * 2.0 AS x3,
            {u(f't#{s + 11}')} AS ut,
            {u(f'c1#{s + 12}')} AS uc1,
            {u(f'c2#{s + 13}')} AS uc2,
            {z(f'err1#{s + 100}')} AS e1
          FROM ids),
    base AS (SELECT *,
            (1.0 / exp({b0!r} + {b1!r} * x1 + {b2!r} * x2 + {b3!r} * x3))
              * (-ln(1.0 - ut)) AS t_i,
            {sim.ADMIN_HORIZON!r} - uc1 AS c1,
            {sim.C2_SCALE!r} * (-ln(1.0 - uc2)) AS c2
          FROM r),
    evt AS (SELECT *, least(t_i, c1, c2) AS t,
            CASE WHEN t_i <= least(c1, c2) THEN 1 ELSE 0 END AS d,
            greatest({bd0!r} + {bd1!r} * x1 + {bd2!r} * x2
                     + {bd3!r} * x1 * x2 + e1 + 0.01, 0.0) AS td1
          FROM base),
    err AS (SELECT *, least(t_i + td1, c1, c2) AS t_tilde_1,
            CASE WHEN t_i + td1 <= least(c1, c2) THEN 1 ELSE 0 END
              AS d_tilde_1
          FROM evt),
    q AS (SELECT quantile_cont(x1, 0.3) AS q30 FROM err)
    SELECT count(*) AS n,
           round(avg(x1), 6) AS mean_x1,
           round(stddev_samp(x1), 6) AS sd_x1,
           round(avg(d), 6) AS event_rate,
           round(avg(t), 6) AS mean_t,
           sum(CASE WHEN x1 <= (SELECT q30 FROM q) THEN 1 ELSE 0 END)::BIGINT
             AS n_ter1,
           round(avg(t_tilde_1), 6) AS mean_t_tilde_1,
           round(avg(d_tilde_1), 6) AS rate_d_tilde_1
    FROM err
    """


@contextmanager
def _stream_state_partitions(spark: SparkSession, *paths: str):
    """Size the stateful-shuffle partition count from the input
    footprint for the duration of a streaming run, then restore the
    session conf.

    Every stateful partition pays a fixed state-store open/commit cost
    per micro-batch, so a small-state stream sharded over the full
    session parallelism is dominated by store bookkeeping (measured at
    sf0.1: the interval join reads 8-10 s at 32 partitions, ~3 s at 8,
    identical results). Partitions ~= compressed_input_bytes / 4 MB,
    clamped to [4, defaultParallelism] — at cluster scale the clamp
    keeps the session conf authoritative (state volume per store, not
    store count, is then the binding constraint).

    Optimization round 11 (third pass): the scope also disables
    no-data micro-batches for the run.  The extra empty batch Spark
    appends after the last data batch exists to advance the watermark
    so that (a) append-mode AGGREGATIONS can emit their finalized
    windows and (b) expired state can be evicted early.  Neither
    applies to these run-to-completion availableNow certificates: the
    sinks here are a complete-mode aggregation, an update-mode
    stateful operator, emit-on-first-sight streaming dedup, and an
    append-mode INNER join — all of which emit every output row in
    the data batches — and all state is discarded with the single-use
    checkpoint right after the run.  The batch is pure overhead (one
    full stateful-plan pass + a state-store commit per partition per
    query); dropping it measured streaming_interval 5.83 -> 4.16 s
    median (min 4.63 -> 3.24) with byte-identical output across 4
    runs per arm (sorted-row md5), windowed 4.01 -> 3.54 median.  A
    LIVE continuous pipeline should keep the default (timely
    finalization/eviction is the point there) — hence per-run scope,
    not a session default."""
    total = 0
    for p in paths:
        try:
            total += os.path.getsize(p)
        except OSError:  # remote / unstatable: leave the conf alone
            total = 0
            break
    settings = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}
    if total:
        n = spark.sparkContext.defaultParallelism
        want = max(4, min(n, (total + (4 << 20) - 1) // (4 << 20)))
        settings["spark.sql.shuffle.partitions"] = str(want)
    with scoped_conf(spark, settings):
        yield


def _q_streaming_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J (Structured Streaming), VALUE-CHECKED: the events table read
    as a file-source STREAM, aggregated with
    ``streaming.stream_weighted_totals`` (event-time 6h windows +
    watermark), run to completion with an availableNow trigger into a
    memory sink. Streaming exactly-once window semantics make the
    result identical to the batch aggregation, so the batch DuckDB
    oracle gates the whole streaming path — source, watermarked
    stateful agg, and sink.

    Round 4 adds a second leg: the CUSTOM stateful operator
    (``stream_running_weighted_mean``, applyInPandasWithState) whose
    final cumulative per-type state must equal the batch per-type
    mean — joined in as ``run_n``/``run_wmean`` columns so the custom
    state-store path is hash-gated too.

    Round 5 adds the third leg: STREAMING EXACT DEDUP
    (``streaming/stateful.py stream_exact_dedup``,
    dropDuplicatesWithinWatermark on the batch fingerprint key).  A
    derived text column (event_type + user_id%50) gives each type ~50
    heavily-duplicated fingerprints; the surviving stream must contain
    each distinct fingerprint EXACTLY once.  Which physical row wins is
    arrival-order-dependent, so the certificate aggregates
    row-invariantly — per type, the survivor count and a checksum over
    the surviving fingerprint SET (``dedup_n``/``dedup_ck``) — which
    the batch oracle states from SELECT DISTINCT.  A leaked duplicate
    or a dropped fingerprint breaks the hash."""
    import tempfile
    import uuid

    import shutil

    from data_integration_with_pseudoweights_and_survey_calibration_spark.streaming import (
        stream_exact_dedup,
        stream_running_weighted_mean,
        stream_weighted_totals,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = tpch.load_events_stream(spark, sf_dir)
    agg = stream_weighted_totals(
        stream,
        "ts",
        {
            "total_value": F.round(F.sum("value"), 6),
            "n": F.count(F.lit(1)),
        },
        window="6 hours",
        group_by=["event_type"],
    )
    # second streaming leg: the CUSTOM stateful operator
    # (applyInPandasWithState, streaming/stateful.py) maintaining the
    # cumulative per-type mean of value over the whole stream — its
    # final state equals the batch per-type mean, so the same hash gate
    # certifies the stateful path too (update mode emits one row per
    # group per micro-batch; the max-n row per group is the final
    # cumulative state)
    run_agg = stream_running_weighted_mean(
        tpch.load_events_stream(spark, sf_dir),
        group_col="event_type",
        y_col="value",
    )
    # third streaming leg: watermarked streaming exact dedup on a
    # derived fingerprint text; watermark horizon spans the whole table
    # so state never expires mid-run (the horizon-bounded-state ladder
    # lives in BENCH_SCALE)
    ded = stream_exact_dedup(
        tpch.load_events_stream(spark, sf_dir).withColumn(
            "text",
            F.concat_ws(
                " ", "event_type", (F.col("user_id") % 50).cast("string")
            ),
        ),
        watermark="8760 hours",
    )
    name = f"stream_win_{uuid.uuid4().hex[:8]}"
    name2 = f"stream_run_{uuid.uuid4().hex[:8]}"
    name3 = f"stream_ded_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sg_ckpt_")
    ckpt2 = tempfile.mkdtemp(prefix="sg_ckpt_")
    ckpt3 = tempfile.mkdtemp(prefix="sg_ckpt_")
    with _stream_state_partitions(spark, f"{sf_dir}/events.parquet"):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q2 = (
            run_agg.writeStream.format("memory")
            .queryName(name2)
            .outputMode("update")
            .option("checkpointLocation", ckpt2)
            .trigger(availableNow=True)
            .start()
        )
        q3 = (
            ded.select("event_type", "fp")
            .writeStream.format("memory")
            .queryName(name3)
            .outputMode("append")
            .option("checkpointLocation", ckpt3)
            .trigger(availableNow=True)
            .start()
        )
        finished = (
            q.awaitTermination(300)
            and q2.awaitTermination(300)
            and q3.awaitTermination(300)
        )
    if not finished:
        # fail loudly rather than return a partial memory table
        q.stop()
        q2.stop()
        q3.stop()
        raise TimeoutError("streaming_windowed did not finish within 300s")
    # availableNow checkpoints are single-use (a reuse would see no new
    # files and emit nothing); remove this run's state
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(ckpt2, ignore_errors=True)
    shutil.rmtree(ckpt3, ignore_errors=True)
    win = spark.table(name).select(
        F.unix_timestamp(F.col("win.start")).alias("win_start"),
        "event_type",
        "total_value",
        "n",
    )
    run = (
        spark.table(name2)
        .groupBy("group")
        .agg(F.max(F.struct("n", "wmean")).alias("_s"))
        .select(
            F.col("group").alias("event_type"),
            F.col("_s.n").alias("run_n"),
            F.round(F.col("_s.wmean"), 6).alias("run_wmean"),
        )
    )
    ded_agg = (
        spark.table(name3)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("dedup_n"),
            F.sum(text_ops.hash48(F.col("fp")) % F.lit(1000003))
            .cast("long")
            .alias("dedup_ck"),
        )
    )
    out = win.join(F.broadcast(run), "event_type").join(
        F.broadcast(ded_agg), "event_type"
    )
    # Materialize eagerly and DROP the memory-sink views: each
    # invocation registers uniquely named in-driver tables, and bench
    # loops would otherwise accumulate full result tables in driver
    # memory.
    rows = out.collect()
    result = spark.createDataFrame(rows, out.schema)
    spark.catalog.dropTempView(name)
    spark.catalog.dropTempView(name2)
    spark.catalog.dropTempView(name3)
    return result


def _q_streaming_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J (stream-stream interval join), VALUE-CHECKED: purchases and
    views read as two file-source STREAMS, paired with
    ``streaming.stream_interval_join`` (watermarked symmetric hash
    join, append mode, 24h event-time band), run to completion with an
    availableNow trigger into a memory sink, then aggregated per
    purchase. Inner-join append mode emits each qualifying pair exactly
    once, so the pair set is identical to the batch banded range join
    — the same DuckDB oracle as ``events_flow``'s attribution leg
    (``_sql_events_attribution``) gates the stream-stream join path end
    to end: sources, keyed join state, and sink."""
    import shutil
    import tempfile
    import uuid

    from data_integration_with_pseudoweights_and_survey_calibration_spark.streaming import (
        stream_interval_join,
    )

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = tpch.load_events_stream(spark, sf_dir)
    purchases = stream.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = stream.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("value").alias("vv")
    )
    joined = stream_interval_join(
        purchases,
        views,
        on="ts",
        by="user_id",
        window="24 hours",
        watermark="0 seconds",
        left_cols=["event_id", "user_id", "ts", "value"],
        right_cols=["ts", "vv"],
    )
    name = f"stream_ivj_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="sg_ckpt_")
    with _stream_state_partitions(spark, f"{sf_dir}/events.parquet"):
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(300)
    if not finished:
        q.stop()
        raise TimeoutError("streaming_interval did not finish within 300s")
    shutil.rmtree(ckpt, ignore_errors=True)
    out = (
        spark.table(name)
        .groupBy("event_id", "user_id", "value")
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.round(F.sum("vv_r"), 6).alias("view_value_sum"),
        )
        .select(
            "event_id",
            "user_id",
            F.round("value", 6).alias("value"),
            "n_views",
            "view_value_sum",
        )
    )
    # Materialize eagerly and DROP the memory-sink view (bench loops
    # must not accumulate per-invocation in-driver pair tables).
    rows = out.collect()
    result = spark.createDataFrame(rows, out.schema)
    spark.catalog.dropTempView(name)
    return result


def _pii_ptext_expr():
    """Deterministic PII-injection text column, shared by the Spark
    query and (as literal SQL) the DuckDB oracle.

    The synthetic ``documents.text`` is digit-free word salad (verified
    at all three SFs), so running the PII detectors on it would certify
    nothing but zeros.  Instead a derived text column injects entities
    whose presence/count is PURE doc_id ARITHMETIC -- emails (0/1/2 by
    doc_id%3), an SSN on even ids, a card on odd ids (Luhn-valid iff
    doc_id%4==1), an IPv4 for doc_id%5<2, a phone for doc_id%7<3 --
    letting the oracle state ground truth analytically while Spark runs
    the real regex machinery (``operators/pii.py``)."""
    did = F.col("doc_id")

    def s(c):
        return c.cast("string")

    em1 = F.concat(F.lit("u"), s(did), F.lit("@ex"), s(did % 10), F.lit(".com"))
    em2 = F.concat(
        F.lit("v"), s(did), F.lit("@mail"), s(did % 7), F.lit(".org")
    )
    email_frag = (
        F.when(did % 3 == 1, F.concat(F.lit(" contact "), em1))
        .when(
            did % 3 == 2, F.concat(F.lit(" contact "), em1, F.lit(" or "), em2)
        )
        .otherwise(F.lit(""))
    )
    ssn_frag = F.when(
        did % 2 == 0,
        F.concat(
            F.lit(" ssn "),
            F.lpad(s(did % 1000), 3, "0"),
            F.lit("-"),
            F.lpad(s(did % 100), 2, "0"),
            F.lit("-"),
            F.lpad(s(did % 10000), 4, "0"),
        ),
    ).otherwise(F.lit(""))
    card_frag = F.when(
        did % 2 == 1,
        F.concat(
            F.lit(" card 4111 1111 1111 111"),
            F.when(did % 4 == 1, F.lit("1")).otherwise(F.lit("2")),
        ),
    ).otherwise(F.lit(""))
    ip_frag = F.when(
        did % 5 < 2,
        F.concat(F.lit(" host 10."), s(did % 200), F.lit(".0."), s(did % 250)),
    ).otherwise(F.lit(""))
    phone_frag = F.when(
        did % 7 < 3,
        F.concat(F.lit(" call +1 (415) 555-"), F.lpad(s(did % 10000), 4, "0")),
    ).otherwise(F.lit(""))
    return F.concat(
        F.substring("text", 1, 40),
        email_frag,
        ssn_frag,
        card_frag,
        ip_frag,
        phone_frag,
        F.lit(" end"),
    )


def _pii_gate_expr():
    """The ``pii_ok`` cross-check column of the PII detection
    certificate (``operators/pii.py``, a text_features column family):
    every ``n_<cat>`` counter must equal the number of ``[CAT]``
    placeholders ``redact_pii`` inserted into ``_red``, Luhn-valid <=
    candidates, ``has_pii`` consistent — two independent compositions
    of the same pattern table agreeing row by row.

    Oracle strategy per column: n_email is a REAL RE2 recompute (the
    email pattern is lookaround-free); n_ssn is recomputed via the
    token-equivalence trick (the SSN lookarounds ``(?<![0-9-]) ...
    (?![0-9-])`` exactly mean "the match spans a full maximal [0-9-]
    run", so counting full-match tokens of the email-redacted text
    split on [^0-9-]+ is equivalent -- RE2 has no lookarounds);
    n_phone/n_ipv4/n_card/n_card_luhn are checked against the
    injection arithmetic (ground truth by construction); pii_ok is the
    literal-TRUE invariant gate (vocab_stats.hll_ok pattern)."""

    def tok_count(c, tok):
        return (
            (F.length(c) - F.length(F.replace(c, F.lit(tok), F.lit(""))))
            / len(tok)
        ).cast("int")

    r = F.col("_red")
    return (
        (F.col("n_email") == tok_count(r, "[EMAIL]"))
        & (F.col("n_ssn") == tok_count(r, "[SSN]"))
        & (F.col("n_card") == tok_count(r, "[CARD]"))
        & (F.col("n_ipv4") == tok_count(r, "[IP]"))
        & (F.col("n_phone") == tok_count(r, "[PHONE]"))
        & (F.col("n_card_luhn") <= F.col("n_card"))
        & (
            F.col("has_pii")
            == (
                F.col("n_email")
                + F.col("n_ssn")
                + F.col("n_card")
                + F.col("n_ipv4")
                + F.col("n_phone")
                > 0
            )
        )
    )


# literal SQL twin of _pii_ptext_expr (kept adjacent so drift is obvious)
_PII_PTEXT_SQL = """
         substr(text, 1, 40)
         || CASE WHEN doc_id % 3 = 1
                 THEN ' contact u' || doc_id || '@ex' || (doc_id % 10) || '.com'
                 WHEN doc_id % 3 = 2
                 THEN ' contact u' || doc_id || '@ex' || (doc_id % 10) || '.com'
                      || ' or v' || doc_id || '@mail' || (doc_id % 7) || '.org'
                 ELSE '' END
         || CASE WHEN doc_id % 2 = 0
                 THEN ' ssn ' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-'
                      || lpad((doc_id % 100)::VARCHAR, 2, '0') || '-'
                      || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                 ELSE '' END
         || CASE WHEN doc_id % 2 = 1
                 THEN ' card 4111 1111 1111 111'
                      || CASE WHEN doc_id % 4 = 1 THEN '1' ELSE '2' END
                 ELSE '' END
         || CASE WHEN doc_id % 5 < 2
                 THEN ' host 10.' || (doc_id % 200) || '.0.' || (doc_id % 250)
                 ELSE '' END
         || CASE WHEN doc_id % 7 < 3
                 THEN ' call +1 (415) 555-'
                      || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                 ELSE '' END
         || ' end'
"""


def _sql_pii_scrub() -> str:
    email = pii_ops.EMAIL_PATTERN
    return f"""
    WITH p AS (SELECT doc_id, {_PII_PTEXT_SQL} AS ptext FROM documents),
    s1 AS (SELECT doc_id,
                  len(regexp_extract_all(ptext, '{email}'))::INT AS n_email,
                  regexp_replace(ptext, '{email}', '[EMAIL]', 'g') AS st1
           FROM p)
    SELECT doc_id, n_email,
           (CASE WHEN doc_id % 7 < 3 THEN 1 ELSE 0 END)::INT AS n_phone,
           (CASE WHEN doc_id % 5 < 2 THEN 1 ELSE 0 END)::INT AS n_ipv4,
           len(list_filter(regexp_split_to_array(st1, '[^0-9-]+'),
               t -> regexp_full_match(t, '[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}')
           ))::INT AS n_ssn,
           (doc_id % 2)::INT AS n_card,
           (CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END)::INT AS n_card_luhn,
           TRUE AS has_pii,
           TRUE AS pii_ok
    FROM s1
    """


def _lines_ptext_expr():
    """Multiline text for the line_features certificate (the corpus
    text has no newlines): a prose prefix plus doc_id-arithmetic lines
    exercising every Gopher rule — bullet items (%3==0), numbered
    enumerations (%3==1), an all-caps ellipsis teaser (%4==1), and a
    short nav line (%5<2)."""
    did = F.col("doc_id")
    return F.concat(
        F.substring("text", 1, 60),
        F.when(
            did % 3 == 0,
            F.concat(F.lit("\n- bullet item "), (did % 7).cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            did % 3 == 1,
            F.concat(F.lit("\n"), (did % 9 + 1).cast("string"), F.lit(". step")),
        ).otherwise(F.lit("")),
        F.when(did % 4 == 1, F.lit("\nREAD MORE...")).otherwise(F.lit("")),
        F.when(did % 5 < 2, F.lit("\nok")).otherwise(F.lit("")),
    )


def _sql_line_features() -> str:
    ptext = """
         substr(text, 1, 60)
         || CASE WHEN doc_id % 3 = 0
                 THEN chr(10) || '- bullet item ' || (doc_id % 7)
                 ELSE '' END
         || CASE WHEN doc_id % 3 = 1
                 THEN chr(10) || (doc_id % 9 + 1) || '. step'
                 ELSE '' END
         || CASE WHEN doc_id % 4 = 1 THEN chr(10) || 'READ MORE...'
                 ELSE '' END
         || CASE WHEN doc_id % 5 < 2 THEN chr(10) || 'ok' ELSE '' END
    """
    return f"""
    WITH base AS (SELECT doc_id, {ptext} AS ptext FROM documents),
    l AS (SELECT doc_id,
                 list_filter(
                   list_transform(string_split(ptext, chr(10)),
                                  x -> trim(x)),
                   x -> x <> '') AS ls
          FROM base)
    SELECT doc_id,
           len(ls)::BIGINT AS n_lines,
           round(CASE WHEN len(ls) > 0
                 THEN list_sum(list_transform(ls, x -> len(x))) * 1.0
                      / len(ls) ELSE 0.0 END, 9) AS mean_line_chars,
           round(CASE WHEN len(ls) > 0
                 THEN len(list_filter(ls, x -> len(x) < 10)) * 1.0
                      / len(ls) ELSE 0.0 END, 9) AS frac_short_lines,
           round(CASE WHEN len(ls) > 0
                 THEN len(list_filter(ls, x ->
                      regexp_matches(x, '^(-|\\*|•|[0-9]{{1,3}}\\.)( |$)')))
                      * 1.0 / len(ls) ELSE 0.0 END, 9) AS frac_bullet_lines,
           round(CASE WHEN len(ls) > 0
                 THEN len(list_filter(ls, x ->
                      regexp_matches(x, '(\\.\\.\\.|…)$'))) * 1.0
                      / len(ls) ELSE 0.0 END, 9) AS frac_ellipsis_lines,
           round(CASE WHEN len(ls) > 0
                 THEN len(list_filter(ls, x ->
                      regexp_matches(x, '[A-Za-z]') AND x = upper(x)))
                      * 1.0 / len(ls) ELSE 0.0 END, 9) AS frac_caps_lines
    FROM l
    """


def _c4_ptext_expr():
    """Multiline text for the c4_rules certificate, exercising every
    C4 rule from doc_id arithmetic: a long terminal first line (always
    passes the line filter), a too-short line (%3==0), a javascript
    line (%4==1), a lorem-ipsum page arm (%5==2), a curly-brace code
    arm (%7==3), a blocklist-token arm (%11==4), and an extra good
    sentence (%6<2) that pushes the page over the 3-sentence bar."""
    did = F.col("doc_id")
    return F.concat(
        F.substring("text", 1, 50),
        F.lit(" sentence one ends here. And two more words follow now!"),
        F.when(did % 3 == 0, F.lit("\nToo short.")).otherwise(F.lit("")),
        F.when(
            did % 4 == 1,
            F.lit("\nPlease enable JavaScript to view this site today."),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 2,
            F.lit("\nLorem ipsum dolor sit amet placeholder text here."),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 3, F.lit("\nfunction f() { return 1; }")
        ).otherwise(F.lit("")),
        F.when(
            did % 11 == 4,
            F.lit("\nthis page contains badword somewhere inside it."),
        ).otherwise(F.lit("")),
        F.when(
            did % 6 < 2,
            F.lit("\nAnother good sentence follows with many words here?"),
        ).otherwise(F.lit("")),
    )


def _sql_c4_rules() -> str:
    ptext = """
         substr(text, 1, 50)
         || ' sentence one ends here. And two more words follow now!'
         || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'Too short.'
                 ELSE '' END
         || CASE WHEN doc_id % 4 = 1
                 THEN chr(10)
                      || 'Please enable JavaScript to view this site today.'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 2
                 THEN chr(10)
                      || 'Lorem ipsum dolor sit amet placeholder text here.'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 3
                 THEN chr(10) || 'function f() { return 1; }'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 4
                 THEN chr(10)
                      || 'this page contains badword somewhere inside it.'
                 ELSE '' END
         || CASE WHEN doc_id % 6 < 2
                 THEN chr(10)
                      || 'Another good sentence follows with many words here?'
                 ELSE '' END
    """
    line_ok = (
        "regexp_matches(x, '[.!?\"]$') "
        "AND len(list_filter(string_split(x, ' '), w -> w <> '')) >= 5 "
        "AND NOT contains(lower(x), 'javascript')"
    )
    return f"""
    WITH base AS (SELECT doc_id, {ptext} AS ptext FROM documents),
    l AS (SELECT doc_id, ptext,
                 list_filter(
                   list_transform(string_split(ptext, chr(10)),
                                  x -> trim(x)),
                   x -> x <> '') AS ls
          FROM base)
    SELECT doc_id,
           (len(ptext) - len(regexp_replace(ptext, '[.!?]', '', 'g')))::BIGINT
             AS c4_n_sentences,
           round(CASE WHEN len(ls) > 0
                 THEN len(list_filter(ls, x -> {line_ok})) * 1.0 / len(ls)
                 ELSE 0.0 END, 9) AS c4_kept_line_frac,
           contains(lower(ptext), 'lorem ipsum') AS c4_has_lorem,
           contains(ptext, '{{') AS c4_has_brace,
           len(list_filter(regexp_split_to_array(trim(ptext), '\\s+'),
               t -> list_contains(['unsafeword', 'badword'],
                    lower(regexp_replace(t, '^\\W+|\\W+$', '', 'g')))
           ))::BIGINT AS c4_blocklist_hits,
           (
             (len(ptext) - len(regexp_replace(ptext, '[.!?]', '', 'g'))) >= 3
             AND (CASE WHEN len(ls) > 0
                  THEN len(list_filter(ls, x -> {line_ok})) * 1.0 / len(ls)
                  ELSE 0.0 END) > 0.0
             AND NOT contains(lower(ptext), 'lorem ipsum')
             AND NOT contains(ptext, '{{')
             AND len(list_filter(regexp_split_to_array(trim(ptext), '\\s+'),
                 t -> list_contains(['unsafeword', 'badword'],
                      lower(regexp_replace(t, '^\\W+|\\W+$', '', 'g'))))) = 0
           ) AS c4_keep
    FROM l
    """


_HTML_GOOD_PARA = (
    "the rain is a thing of the day and the tea is a thing of the night "
    "and to walk in the park is a joy of the morning and to rest in the "
    "shade is a gift of the afternoon and to read in the evening is a "
    "calm end of it all"
)  # 217 chars, stopword density 0.63 — a context-free jusText 'good'


def _html_page_expr():
    """Synthetic HTML for the boilerplate-removal certificate, built
    from doc_id arithmetic: a fully-linked nav (always boilerplate), a
    long stopword-dense paragraph (always good), a short note (%3==0;
    rescued by the good neighbour), a link-farm list item (%4==1), a
    copyright footer (%5==2), and a second good paragraph (%6<2)."""
    did = F.col("doc_id")
    return F.concat(
        F.lit(
            '<html><body><nav><a href="/">Home</a> '
            '<a href="/x">About page</a></nav><p>'
        ),
        F.lit(_HTML_GOOD_PARA + " item "),
        (did % 100).cast("string"),
        F.lit(".</p>"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit("<p>short note "), (did % 7).cast("string"), F.lit("</p>")
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 1,
            F.lit('<ul><li><a href="/1">more links here</a></li></ul>'),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 2,
            F.lit("<footer>copyright 2026 example com</footer>"),
        ).otherwise(F.lit("")),
        F.when(
            did % 6 < 2,
            F.concat(
                F.lit("<p>" + _HTML_GOOD_PARA + " tail "),
                (did % 9).cast("string"),
                F.lit(".</p>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )


def _q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jusText-style boilerplate removal (``operators/html.py
    extract_main_text``, Pomikálek 2011) over injected synthetic HTML.
    The oracle re-derives the EXPECTED extracted text from the same
    doc_id arithmetic and md5s it, so the hash certifies the full
    segment → classify → context-rescue → rebuild path end to end:
    which blocks survive (nav/link-farm/copyright dropped, short note
    rescued by its good neighbour) and the exact rebuilt string."""
    docs = _docs(spark, sf_dir)
    out = html_ops.extract_main_text(
        docs.withColumn("html", _html_page_expr()), html_col="html"
    )
    return out.select(
        "doc_id",
        F.col("n_blocks").alias("html_n_blocks"),
        F.col("n_good_blocks").alias("html_n_good"),
        F.md5("text").alias("html_text_md5"),
        F.round("link_density", 9).alias("html_link_density"),
    )


def _sql_html_extract() -> str:
    p = _HTML_GOOD_PARA
    return f"""
    WITH b AS (SELECT doc_id,
        '{p} item ' || (doc_id % 100) || '.' AS p1,
        CASE WHEN doc_id % 3 = 0
             THEN 'short note ' || (doc_id % 7) ELSE NULL END AS sn,
        CASE WHEN doc_id % 6 < 2
             THEN '{p} tail ' || (doc_id % 9) || '.' ELSE NULL END AS p2
      FROM documents)
    SELECT doc_id,
      (2 + (doc_id % 3 = 0)::INT + (doc_id % 4 = 1)::INT
         + (doc_id % 5 = 2)::INT + (doc_id % 6 < 2)::INT)::BIGINT
        AS html_n_blocks,
      (1 + (doc_id % 3 = 0)::INT + (doc_id % 6 < 2)::INT)::BIGINT
        AS html_n_good,
      md5(p1
          || COALESCE(chr(10) || chr(10) || sn, '')
          || COALESCE(chr(10) || chr(10) || p2, '')) AS html_text_md5,
      round((14 + CASE WHEN doc_id % 4 = 1 THEN 15 ELSE 0 END) * 1.0
            / (15 + len(p1) + COALESCE(len(sn), 0)
               + CASE WHEN doc_id % 4 = 1 THEN 15 ELSE 0 END
               + CASE WHEN doc_id % 5 = 2 THEN 26 ELSE 0 END
               + COALESCE(len(p2), 0)), 9) AS html_link_density
    FROM b
    """


def _quality_eta_sql() -> str:
    """The frozen-beta linear predictor over the text_features twin
    columns (``log_n_tokens`` derived from the certified integer
    ``n_tokens``; the other 7 features are the rounded twin columns
    themselves — hash-certified identical to Spark's, so the sigmoid's
    INPUT is bit-equal on both sides)."""
    b = quality_ops.FROZEN_QUALITY_BETA
    exprs = {c: c for c in quality_ops.QUALITY_FEATURE_COLS}
    exprs["log_n_tokens"] = "ln(1.0 + n_tokens)"
    return " + ".join(
        [repr(b["_qc_intercept"])]
        + [
            f"({b[c]!r}) * {exprs[c]}"
            for c in quality_ops.QUALITY_FEATURE_COLS
        ]
    )


def _pd_page_expr():
    """Synthetic page markup for the page-directives certificate
    (``operators/robots.robots_page_directives``, a text_features
    column family since round 10): meta tags injected by doc_id
    arithmetic exercise every parsing rule — swapped attribute order,
    single/double/no quotes, mixed case, the ``none`` alias
    (= noindex+nofollow), an irrelevant ``viewport`` tag that must NOT
    count, and a second combining tag on every 5th doc.  The oracle
    re-derives each boolean from the arithmetic."""
    d = F.col("doc_id")
    meta = (
        F.when(d % 4 == 0,
               F.lit('<META NAME="ROBOTS" CONTENT="NOINDEX, nofollow">'))
        .when(d % 4 == 1, F.lit("<meta content='noai' name='robots'>"))
        .when(d % 4 == 2, F.lit("<meta name=robots content=none>"))
        .otherwise(F.lit('<meta name="viewport" content="width=1">'))
    )
    return F.concat(
        F.lit("<html><head>"),
        meta,
        F.when(
            d % 5 == 0,
            F.lit('<meta name="robots" content="noarchive">'),
        ).otherwise(F.lit("")),
        F.lit("</head><body>x</body></html>"),
    )


def _sql_page_directives() -> str:
    return """
    SELECT doc_id,
           ((doc_id % 4 <> 3)::INT + (doc_id % 5 = 0)::INT) AS pd_n_tags,
           doc_id % 4 IN (0, 2) AS pd_noindex,
           doc_id % 4 IN (0, 2) AS pd_nofollow,
           doc_id % 5 = 0 AS pd_noarchive,
           FALSE AS pd_nosnippet,
           doc_id % 4 = 1 AS pd_noai,
           FALSE AS pd_noimageai
    FROM documents
    """


def _q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc curation feature bundle: quality stats + language id +
    repetition features + PII scrub columns + line-level Gopher rules
    (round 5) + the trained-classifier quality_prob (round 6) + the C4
    document-level rules (round 8) + the page-level robots directives
    (round 10), joined on doc_id (all are
    single-pass per-doc computations; the join keys are unique, so the
    merged result certifies each column set exactly as the separate
    queries did).

    quality_prob is the SCORING certificate for
    ``operators/quality.py score_quality`` — the leg a 100 TB curation
    run executes over EVERY document — with the FROZEN reference betas
    (``FROZEN_QUALITY_BETA``, pinned from the gold-set fit that
    tests/test_quality.py re-trains and asserts).  Training is
    iterative (golden-tested per SURVEY §5); scoring is exactly
    SQL-expressible.  The operator's real scoring expression
    (``quality_prob_column`` — what ``score_quality`` selects) is
    APPENDED to the bundle's own certified feature columns in the same
    projection (no second tokenize/bigram pass, no self-join), so the
    sigmoid's input is bit-identical to the oracle's and the hash
    match certifies the scoring arithmetic itself.  Rounded to 6 dp
    (not 9): ``exp``/``log1p`` are the one place JVM vs C library math
    can differ in the last ulp.

    Single-scan shape (optimization round 11, guide §2.4/§2.3): six of
    the eight column families (quality stats, lang id, PII, line rules,
    C4 rules, page directives) are map-only per-doc projections, so
    they ACCUMULATE on one frame over ONE ``documents`` scan — each
    operator passes prior columns through (``keep_cols`` /
    withColumn-chaining) instead of being scanned and joined back on
    doc_id.  Only the two shuffle legs (repetition's bigram groupBy,
    HTML's block groupBy) remain joins: 8 scans + 7 joins -> 3 scans +
    2 joins, with identical per-column arithmetic (each family's
    operator call and rounding is byte-for-byte the standalone leg's,
    and the final projection restores the historical column order)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    flat = text_quality_features(docs)
    flat = language_scores(flat)
    flat = pii_ops.redact_pii(
        flat.withColumn("_ptext", _pii_ptext_expr()),
        text_col="_ptext",
        out_col="_red",
    )
    flat = pii_ops.pii_features(
        flat,
        text_col="_ptext",
        keep_cols=tuple(
            c for c in flat.columns if c not in ("doc_id", "_ptext")
        ),
    )
    flat = flat.select(
        *(c for c in flat.columns if c != "_red"),
        _pii_gate_expr().alias("pii_ok"),
    )
    keep = tuple(c for c in flat.columns if c != "doc_id")
    flat = text_ops.line_features(
        flat.withColumn("_ltext", _lines_ptext_expr()),
        text_col="_ltext",
        keep_cols=keep,
    )
    keep = tuple(c for c in flat.columns if c != "doc_id")
    flat = text_ops.c4_rules(
        flat.withColumn("_ctext", _c4_ptext_expr()),
        text_col="_ctext",
        keep_cols=keep,
    )
    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.robots import (
        robots_page_directives,
    )

    flat = robots_page_directives(
        flat.withColumn("_pg", _pd_page_expr()), html_col="_pg"
    )
    joined = flat.join(_q_repetition_stats(spark, sf_dir), "doc_id").join(
        _q_html_extract(spark, sf_dir), "doc_id"
    )
    out = joined.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("ttr", 9).alias("ttr"),
        F.round("stop_ratio", 9).alias("stop_ratio"),
        F.round("mean_token_len", 9).alias("mean_token_len"),
        F.round("punct_ratio", 9).alias("punct_ratio"),
        F.round("quality", 9).alias("quality"),
        "lang_pred",
        F.round("lang_score", 9).alias("lang_score"),
        "dup_token_frac",
        "dup_bigram_frac",
        "top_bigram_frac",
        "n_email",
        "n_ssn",
        "n_card",
        "n_ipv4",
        "n_phone",
        "n_card_luhn",
        "has_pii",
        "pii_ok",
        "n_lines",
        F.round("mean_line_chars", 9).alias("mean_line_chars"),
        F.round("frac_short_lines", 9).alias("frac_short_lines"),
        F.round("frac_bullet_lines", 9).alias("frac_bullet_lines"),
        F.round("frac_ellipsis_lines", 9).alias("frac_ellipsis_lines"),
        F.round("frac_caps_lines", 9).alias("frac_caps_lines"),
        "c4_n_sentences",
        F.round("c4_kept_line_frac", 9).alias("c4_kept_line_frac"),
        "c4_has_lorem",
        "c4_has_brace",
        "c4_blocklist_hits",
        "c4_keep",
        "html_n_blocks",
        "html_n_good",
        "html_text_md5",
        "html_link_density",
        "pd_n_tags",
        "pd_noindex",
        "pd_nofollow",
        "pd_noarchive",
        "pd_nosnippet",
        "pd_noai",
        "pd_noimageai",
    )
    prob = quality_ops.quality_prob_column(quality_ops.frozen_quality_fit())
    return (
        out.withColumn(
            "log_n_tokens", F.log1p(F.col("n_tokens").cast("double"))
        )
        .withColumn("quality_prob", F.round(prob, 6))
        .drop("log_n_tokens")
    )


def _sql_text_features() -> str:
    return f"""
    SELECT *,
           round(1.0 / (1.0 + exp(-({_quality_eta_sql()}))), 6)
             AS quality_prob
    FROM (
      SELECT *
      FROM ({_sql_text_stats()}) s
      JOIN ({_sql_lang_id()}) l USING (doc_id)
      JOIN ({_sql_repetition_stats()}) r USING (doc_id)
      JOIN ({_sql_pii_scrub()}) p USING (doc_id)
      JOIN ({_sql_line_features()}) lf USING (doc_id)
      JOIN ({_sql_c4_rules()}) c4 USING (doc_id)
      JOIN ({_sql_html_extract()}) hx USING (doc_id)
      JOIN ({_sql_page_directives()}) pd USING (doc_id)
    )
    """


def _q_doc_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc dedup signatures in one frame: the 8 MinHash signature
    components and the 16-bit SimHash, joined on doc_id."""
    return _q_minhash_signatures(spark, sf_dir).join(
        _q_simhash(spark, sf_dir), "doc_id"
    )


def _sql_doc_signatures() -> str:
    return f"""
    SELECT *
    FROM ({_sql_minhash_signatures()}) m
    JOIN ({_sql_simhash()}) s USING (doc_id)
    """


SEM_K = 4  # semantic-dedup cells for the certificate branch


def _sem_seed_centroids(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    """Deterministic unit-norm centroids for the semantic branch: the
    SEM_K embeddings with smallest md5(vec_id) — exactly the spherical
    k-means INIT rule (`similarity.kmeans_centroids`), skipping Lloyd
    so the oracle can restate the model in SQL (the trained path is
    iterative and golden-tested via `ivf_topk`).  One bounded k-row
    collect; normalization is a left-fold sum (Python `sum` order ==
    Spark's `aggregate` fold == the oracle's explicit chain), so the
    centroid literals are bit-identical on both engines."""
    import math

    rows = (
        _emb(spark, sf_dir)
        .select(
            "vec_id",
            "embedding",
            F.md5(F.col("vec_id").cast("string")).alias("_h"),
        )
        .orderBy("_h")
        .limit(SEM_K)
        .collect()
    )
    cens = []
    for r in sorted(rows, key=lambda x: x["_h"]):
        v = [float(x) for x in r["embedding"]]
        acc = 0.0
        for x in v:
            acc += x * x
        nrm = math.sqrt(acc)
        cens.append([x / nrm for x in v])
    return cens


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup certificate (``operators/dedup.py
    semantic_dedup_pairs``, Abbas et al. 2023): cluster-then-compare
    semantic near-dup pairs over the FULL embeddings table —
    assignment by literal-centroid fold expressions (``assign=
    'column'``: same left-associated dots the oracle writes), pairs by
    ONE equi-join on the cell id + exact cosine."""
    emb = _emb(spark, sf_dir)
    cen = _sem_seed_centroids(spark, sf_dir)
    out = dedup_ops.semantic_dedup_pairs(
        emb, EMB_TAU, centroids=cen, assign="column"
    )
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def _sql_semantic_dedup() -> str:
    d = EMB_DIM

    def chain(a: str, b: str) -> str:
        return " + ".join(f"{a}[{j + 1}] * {b}[{j + 1}]" for j in range(d))

    self_dot = chain("v", "v")
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    seeds AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR)) - 1
                AS cell,
              list_transform(v, x -> x / sqrt({self_dot})) AS c
              FROM e ORDER BY md5(vec_id::VARCHAR) LIMIT {SEM_K}),
    scored AS (SELECT e.vec_id, e.v, s.cell, ({chain('e.v', 's.c')}) AS sc
               FROM e CROSS JOIN seeds s),
    assigned AS (SELECT vec_id, v, cell FROM (
                   SELECT *, row_number() OVER (
                     PARTITION BY vec_id ORDER BY sc DESC, cell ASC) AS rk
                   FROM scored) WHERE rk = 1)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
    FROM assigned a JOIN assigned b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= {EMB_TAU}
    """


def _q_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate candidate pairs from the four bucketed pair
    generators, method-labeled in one union: PPJoin n-gram Jaccard,
    banded MinHash-LSH (both over documents), blocked embedding
    cosine, and SemDeDup cluster-then-compare (round 6, both over
    embeddings). Each branch keeps its own bucketed (never all-pairs)
    plan; the union is just a label. The two shingle-based branches
    SHARE one cached shingle frame, so the corpus is tokenized+shingled
    once for both methods instead of once per method."""

    def tag(df: DataFrame, method: str, score_col: str) -> DataFrame:
        return df.select(
            F.lit(method).alias("method"),
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.col(score_col).cast("double").alias("score"),
        )

    docs = _docs(spark, sf_dir)
    sh = dedup_ops._shingle_frame(docs, "doc_id", "text", 3).cache()

    # The embedding grid's one sizing count() runs in a driver thread
    # WHILE the other branches' plans construct (optimization round
    # 12, guide §2.6 — it only sizes the block grid; results are
    # identical for any block count).  A long-blocking eager JOB
    # overlapping RPC-bound construction is exactly the profitable
    # threading case; threading the construction itself was measured
    # slower (see the layout_keys note), so the branch plans still
    # build sequentially.
    from concurrent.futures import ThreadPoolExecutor

    _emb_base = _emb(spark, sf_dir).where(F.col("vec_id") < EMB_DEDUP_N)
    _cnt_pool = ThreadPoolExecutor(max_workers=1)
    _n_fut = _cnt_pool.submit(_emb_base.count)

    def mk_ng() -> DataFrame:
        return tag(
            ngram_jaccard_pairs(docs, JACCARD_TAU, shingle_frame=sh).select(
                "id_a", "id_b", F.round("jaccard", 9).alias("jaccard")
            ),
            "ngram_jaccard",
            "jaccard",
        )

    def mk_lsh() -> DataFrame:
        return tag(
            minhash_lsh_pairs(
                docs,
                JACCARD_TAU,
                num_hashes=MINHASH_K,
                bands=MINHASH_BANDS,
                shingle_frame=sh,
            ).select(
                "id_a", "id_b", F.round("jaccard_est", 9).alias("jaccard_est")
            ),
            "minhash_lsh",
            "jaccard_est",
        )

    def mk_emb() -> DataFrame:
        return tag(
            _q_embedding_dedup(spark, sf_dir, n_rows=_n_fut.result()),
            "embedding_cosine",
            "cosine",
        )

    def mk_sem() -> DataFrame:
        return tag(_q_semantic_dedup(spark, sf_dir), "semantic", "cosine")

    try:
        ng, lsh, emb, sem = mk_ng(), mk_lsh(), mk_emb(), mk_sem()
    finally:
        _cnt_pool.shutdown(wait=False)
    return ng.unionByName(lsh).unionByName(emb).unionByName(sem)


def _sql_dedup_pairs() -> str:
    return f"""
    SELECT 'ngram_jaccard' AS method, id_a::BIGINT AS id_a,
           id_b::BIGINT AS id_b, jaccard::DOUBLE AS score
    FROM ({_sql_ngram_jaccard()})
    UNION ALL
    SELECT 'minhash_lsh' AS method, id_a::BIGINT, id_b::BIGINT,
           jaccard_est::DOUBLE
    FROM ({_sql_minhash_lsh()})
    UNION ALL
    SELECT 'embedding_cosine' AS method, id_a::BIGINT, id_b::BIGINT,
           cosine::DOUBLE
    FROM ({_sql_embedding_dedup()})
    UNION ALL
    SELECT 'semantic' AS method, id_a::BIGINT, id_b::BIGINT,
           cosine::DOUBLE
    FROM ({_sql_semantic_dedup()})
    """


DOMAIN_CAP_N = 25

#: round-10 oracle snapshot — the REAL publicsuffix.org file format
#: (comments, wildcard, exception, deep suffixes), fed verbatim to
#: registered_domain in the layout_keys 'url_psl_full' branch
PSL_SNAPSHOT = """\
// round-10 test snapshot (publicsuffix.org list format)
co.uk
com.au

*.bd
!www.bd
k12.ma.us
"""


def _robots_warc_records() -> list[tuple[str, str, str, bytes]]:
    """WARC-shaped crawl records for the layout_keys 'robots_warc'
    branch: 13 hosts x TWO robots.txt captures (the old one blocks
    everything — latest-capture-wins is load-bearing) plus decoys (a
    NEWEST-dated 404 whose body would allow everything if the status
    filter broke, a page record, a request record).  The HTTP payloads
    are REAL wire bytes — hosts cycle identity / chunked / gzip
    encodings — so the driver hash certifies
    ``sources/warc.http_response_parts`` end to end: a decode break
    garbles the rules and flips verdicts.  Deterministic (gzip mtime
    pinned); the oracle re-derives every verdict, crawl-delay and
    sitemap from the same host arithmetic."""
    import gzip as _gz

    def http(status: bytes, body: bytes, enc: str) -> bytes:
        if enc == "chunked":
            payload = (
                b"%x\r\n" % len(body[:10]) + body[:10] + b"\r\n"
                + b"%x\r\n" % len(body[10:]) + body[10:]
                + b"\r\n0\r\n\r\n"
            )
            extra = b"Transfer-Encoding: chunked\r\n"
        elif enc == "gzip":
            payload = _gz.compress(body, mtime=0)
            extra = b"Content-Encoding: gzip\r\n"
        else:
            payload, extra = body, b""
        return (
            b"HTTP/1.1 " + status + b"\r\nContent-Type: text/plain\r\n"
            + extra + b"\r\n" + payload
        )

    recs: list[tuple[str, str, str, bytes]] = []
    for h in range(13):
        enc = ("identity", "chunked", "gzip")[h % 3]
        uri = f"https://CRAWL.site{h}.com{':443' if h % 4 == 0 else ''}/robots.txt"
        old = b"User-agent: *\nDisallow: /\n"
        new = (
            f"Sitemap: https://crawl.site{h}.com/s0.xml\n"
            f"User-agent: otherbot\nCrawl-delay: 99\nDisallow: /\n\n"
            f"User-agent: *\nCrawl-delay: {h % 5 + 1}\n"
            f"Disallow: /p/{h}\n"
            + (f"Sitemap: https://crawl.site{h}.com/s1.xml\n" if h % 2 else "")
        ).encode()
        recs.append(("response", uri, "2026-01-01T00:00:00Z", http(b"200 OK", old, enc)))
        recs.append(("response", uri, "2026-06-01T00:00:00Z", http(b"200 OK", new, enc)))
    # decoys: newest-dated 404 (allow-all body — a broken status
    # filter would flip every site0 verdict), a page, a request
    recs.append((
        "response", "https://crawl.site0.com/robots.txt",
        "2026-12-31T00:00:00Z",
        http(b"404 Not Found", b"User-agent: *\nDisallow:\n", "identity"),
    ))
    recs.append((
        "response", "https://crawl.site0.com/page.html",
        "2026-06-01T00:00:00Z", http(b"200 OK", b"<p>hi</p>", "identity"),
    ))
    recs.append((
        "request", "https://crawl.site1.com/robots.txt",
        "2026-06-01T00:00:00Z", b"GET /robots.txt HTTP/1.1\r\n\r\n",
    ))
    return recs


def _q_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout / corpus-selection keys, part-labeled:

    - ``corpus_shuffle``: deterministic shuffle/split rank over docs;
    - ``zorder``: Z-order (Morton) keys over orders;
    - ``url_norm`` (round 8): URL normalization + registered-domain
      extraction over INJECTED messy URLs (mixed-case scheme/host,
      default port, trailing slash, utm tracking param, fragment —
      all derived from doc_id arithmetic).  The oracle independently
      re-derives the EXPECTED canonical string from the same
      arithmetic (the PII injection-oracle pattern), so ``k`` — the
      48-bit md5 of the normalized URL — hash-checks every
      normalization rule at once; ``split`` carries the registered
      domain.
    - ``domain_cap`` (round 8): per-domain capping — keep the top
      {DOMAIN_CAP_N} docs per registered domain by
      (n_chars DESC, doc_id) via the rank-limit window
      (``operators/urls.py``; Spark plans it as partial+final
      WindowGroupLimit — the oracle is the same plain window).
    - ``url_psl`` (round 9): public-suffix-aware registered domains —
      injected hosts cycle ``.co.uk`` / ``.com.au`` (multi-label
      public suffixes: key one label deeper) and ``.de`` (single-label
      control: last-two-labels), so ``split`` certifies the PSL branch
      and ``k`` the normalization of the same URLs.
    - ``url_psl_full`` (round 10): FULL publicsuffix.org list
      semantics — the snapshot (module constant ``PSL_SNAPSHOT``) is
      fed VERBATIM in the real file format and the hosts cycle the
      rule classes: wildcard (``*.bd``), exception (``!www.bd``),
      3-label exact (``k12.ma.us``), 2-label exact and the implicit
      default; ``split`` certifies every registrable-domain boundary
      (the round-9 path silently dropped non-2-label rules), ``k``
      the normalization of the same URLs.
    - ``robots`` (round 8): RFC 9309 robots.txt verdicts
      (``operators/robots.py``) — per-domain robots bodies injected
      from doc_id arithmetic (a decoy ``otherbot`` group that must NOT
      apply, a prefix disallow ``/p/<d>``, a one-longer allow
      ``/p/<d><e>``, and for every third domain a wildcard-anchored
      ``/p/*&id=3$``), parsed and matched against the SAME injected
      messy URLs; ``k`` is the allowed verdict.  The oracle re-derives
      every verdict from the arithmetic — group selection, longest-
      match precedence, ``*``/``$`` semantics and the default-allow
      all hash-checked.  Round 10: a ``Sitemap`` line sits BETWEEN
      the ``User-agent: *`` line and a second agent line — RFC 9309
      §2.2.4 requires other records not to interfere with group
      parsing, so both agents share the rules and every verdict is
      unchanged; the pre-round-10 parser split the run (``*`` lost
      all its rules -> blanket false-allow), so the existing oracle
      hash now pins the fix.
    - ``robots_q`` (round 9): QUERY-ONLY URLs (``https://h?x=0`` — no
      path) against a root-prefix rule ``Disallow: /?x=0`` that can
      only match a '/'-rooted target: certifies the round-9 leading-
      slash restoration end to end (before the fix every such URL was
      silently allowed).
    - ``robots_warc`` (round 10): the Common Crawl ENTRY PATH —
      driver-built WARC response records with REAL wire bytes
      (identity / chunked / gzip HTTP payloads, an all-blocking OLD
      capture per host, a newest-dated 404 decoy, page/request
      decoys) flow through ``robots_from_warc`` (status filter,
      dechunk/gunzip, latest-capture-wins) -> ``robots_rules`` ->
      ``robots_verdict``; ``robots_meta``'s group-scoped crawl-delay
      (a decoy ``otherbot`` delay must NOT leak) and global sitemap
      list ride in ``split``.  The oracle re-derives verdicts, delays
      and sitemaps from the host arithmetic — a break anywhere in the
      archive->dimension->verdict composition flips the hash.
    - ``cdxj`` (round 10): CDX(J) index parsing
      (``sources/warc.parse_cdxj`` — the live Common Crawl access
      pattern's first stage).  Index lines are built from doc_id
      arithmetic, every 10th MALFORMED; ``k`` hashes every parsed
      field (surt/ts/url/status/mime/digest/path/offset/length, -1
      for malformed), so the line split, JSON field extraction, long
      casts, base_uri concat and the NULL-location contract are all
      oracle-checked.
    - ``sitemap`` (round 11): sitemaps.org parsing
      (``operators/sitemaps.sitemap_entries``) over arithmetic-built
      documents cycling EVERY format the protocol accepts, by
      ``doc_id % 8``: (0) default-namespace ``<urlset>`` with TWO
      entries (one with ``<lastmod>``, one without but carrying a
      ``<changefreq>`` decoy), (1) a namespace-PREFIXED
      ``<sitemapindex>`` whose second child lacks ``<loc>`` and must
      be skipped per spec, (2) a GZIPPED urlset with
      whitespace-padded loc (trim certified), (3) malformed XML and
      (7) corrupt GZIP bytes — both must audit as ``__corrupt__``
      (``k = -1``), (4) a PLAIN-TEXT sitemap (two URL lines), (5) an
      RSS 2.0 feed (``item/link`` + ``pubDate``), (6) an Atom feed
      whose FIRST link is ``rel="self"`` and must be skipped in
      favor of the unqualified page link (``updated`` as lastmod).
      ``k`` hashes ``(kind, loc, lastmod)`` per exploded entry, so
      namespace handling, gzip sniffing, loc trimming, spec skips,
      the feed-format extraction and the no-silent-drop contract are
      all oracle-checked.
    - ``robots_warc`` ``split`` (round 11) additionally leads with
      ``crawl_budgets(window_s=4.0)``'s per-host fetch budget —
      ``greatest(1, floor(window / delay))`` with delays 1..5 covers
      the floor variation AND the >=1 floor (delay 5 floors to 0),
      oracle-re-derived.
    """
    # The eleven part-branches below are mutually independent plans
    # over tiny inputs; their construction cost is dominated by py4j
    # round trips + eager per-DataFrame analysis (measured: ~14k RPCs /
    # 3.4 s of blocked socket reads building this query serially).
    # Each branch is wrapped in a closure and built from a concurrent
    # driver thread (optimization round 11, guide §2.6) — socket I/O
    # releases the GIL, so the analysis RPCs overlap; the union below
    # consumes them in the ORIGINAL order, so the plan and results are
    # identical to the sequential construction.
    def mk_shuf() -> DataFrame:
        return _q_corpus_shuffle(spark, sf_dir).select(
            F.lit("corpus_shuffle").alias("part"),
            F.col("doc_id").cast("long").alias("id"),
            F.col("rank").cast("long").alias("k"),
            F.col("split").alias("split"),
        )

    def mk_zo() -> DataFrame:
        return _q_zorder_keys(spark, sf_dir).select(
            F.lit("zorder").alias("part"),
            F.col("o_orderkey").cast("long").alias("id"),
            F.col("zkey").cast("long").alias("k"),
            F.lit(None).cast("string").alias("split"),
        )

    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.urls import (
        cap_per_domain,
        normalize_url,
        registered_domain,
    )
    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.text import (
        hash48,
    )

    docs = _docs(spark, sf_dir)
    # Injected-input builders below are single-RPC F.expr strings
    # (optimization round 12, VERDICT-r11 item 3): the Column-object
    # versions cost one py4j round trip per literal/operator (~2k RPCs
    # across this query's arithmetic chains); the SQL text parses to
    # the same concat/CASE trees in one RPC each.  Every value is
    # oracle-re-derived from the same arithmetic, so any drift flips
    # the driver hash.
    url = F.expr(
        "concat('HTTPS://Crawl.Site', cast(doc_id % 13 as string),"
        " '.COM:443/p/', cast(doc_id as string),"
        " '/?utm_source=bench&id=', cast(doc_id % 7 as string),"
        " '#frag')"
    )
    urled = docs.withColumn("_url", url)
    # Built ONCE and reused by mk_un and mk_capped (same input column,
    # same default suffix list): the expression is a pure unresolved
    # Column, and constructing it costs ~600 py4j round trips (one
    # `lit` per embedded public suffix feeding the InSet probe).
    dom_url = registered_domain("_url")

    def mk_un() -> DataFrame:
        return urled.select(
            F.lit("url_norm").alias("part"),
            F.col("doc_id").cast("long").alias("id"),
            hash48(normalize_url("_url")).cast("long").alias("k"),
            dom_url.alias("split"),
        )
    # round 9: public-suffix handling — hosts whose last two labels
    # are a public suffix (co.uk / com.au) must key one label deeper,
    # single-label TLDs (.de) keep last-two; the oracle re-derives the
    # expected domain from the same arithmetic
    def mk_psl() -> DataFrame:
        url2 = F.expr(
            "concat('https://www.shop', cast(doc_id % 11 as string),"
            " CASE WHEN doc_id % 3 = 0 THEN '.CO.UK'"
            " WHEN doc_id % 3 = 1 THEN '.Com.Au' ELSE '.DE' END,"
            " '/item/', cast(doc_id as string))"
        )
        return docs.withColumn("_url2", url2).select(
            F.lit("url_psl").alias("part"),
            F.col("doc_id").cast("long").alias("id"),
            hash48(normalize_url("_url2")).cast("long").alias("k"),
            registered_domain("_url2").alias("split"),
        )
    # round 10: FULL publicsuffix.org semantics — the snapshot below
    # is fed VERBATIM in the real file format (comments, wildcard
    # *.bd, exception !www.bd, 3-label exact k12.ma.us) and the hosts
    # cycle through every rule class; the oracle re-derives each
    # registrable domain from the same arithmetic, so wildcard /
    # exception / deep-suffix handling and the longest-match
    # precedence are all driver-hash-checked (the round-9 path
    # silently dropped every non-2-label rule).
    def mk_pslfull() -> DataFrame:
        url3 = F.expr(
            "concat('https://WWW.Shop', cast(doc_id % 11 as string), '.',"
            " CASE WHEN doc_id % 6 = 0 THEN 'CO.UK'"
            " WHEN doc_id % 6 = 1 THEN 'Com.Au'"
            " WHEN doc_id % 6 = 2 THEN 'DE'"
            " WHEN doc_id % 6 = 3 THEN 'zed.BD'"
            " WHEN doc_id % 6 = 4 THEN 'WWW.BD'"
            " ELSE 'k12.MA.us' END,"
            " '/i/', cast(doc_id as string))"
        )
        return docs.withColumn("_url3", url3).select(
            F.lit("url_psl_full").alias("part"),
            F.col("doc_id").cast("long").alias("id"),
            hash48(normalize_url("_url3")).cast("long").alias("k"),
            registered_domain(
                "_url3", public_suffixes=PSL_SNAPSHOT
            ).alias("split"),
        )

    def mk_capped() -> DataFrame:
        return cap_per_domain(
            urled.withColumn("_dom", dom_url),
            DOMAIN_CAP_N,
            key_col="_dom",
            order_by=[F.col("n_chars").desc(), F.col("doc_id").asc()],
            salt=8,
        ).select(
            F.lit("domain_cap").alias("part"),
            F.col("doc_id").cast("long").alias("id"),
            F.col("rank").alias("k"),
            F.col("domain").alias("split"),
        )
    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.robots import (
        robots_rules,
        robots_verdict,
    )

    # round 10: the Sitemap line sits BETWEEN 'User-agent: *' and a
    # second agent line — RFC 9309 §2.2.4 says other records must not
    # interfere with group parsing, so '*' and 'legacybot' share ONE
    # group and the verdicts below are unchanged; the pre-round-10
    # parser split the run ('*' got no rules -> every URL
    # false-allowed), so this line pins the fix through the driver
    # hash.  round 9: the trailing root-prefix rule can only ever
    # match a QUERY-ONLY target ("/?x=0") — existing "/p/..." targets
    # never start with it, so the 'robots' part is untouched.
    robots_df = spark.range(13).selectExpr(
        "concat('crawl.site', cast(id as string), '.com') AS host",
        "concat('User-agent: otherbot\\nDisallow: /\\n\\n"
        "User-agent: *\\nSitemap: https://crawl.site',"
        " cast(id as string),"
        " '.com/sitemap.xml\\nUser-agent: legacybot\\nDisallow: /p/',"
        " cast(id as string),"
        " '\\nAllow: /p/', cast(id as string),"
        " cast((id + 1) % 10 as string),"
        " CASE WHEN id % 3 = 0 THEN '\\nDisallow: /p/*&id=3$'"
        " ELSE '' END,"
        " '\\nDisallow: /?x=0') AS robots_txt",
    )
    rules = robots_rules(robots_df)
    host_split = F.expr(
        "concat('site', cast(doc_id % 13 as string), '.com')"
    )

    def mk_rob() -> DataFrame:
        return robots_verdict(
            urled.select("doc_id", F.col("_url").alias("url")),
            rules,
            url_col="url",
        ).select(
            F.lit("robots").alias("part"),
            F.col("doc_id").cast("long").alias("id"),
            F.col("robots_allowed").cast("long").alias("k"),
            host_split.alias("split"),
        )
    # round 9: query-only URLs (no path at all) — RFC 9309 targets
    # must be '/'-rooted, so "https://h?x=0" evaluates as "/?x=0" and
    # the root-prefix disallow above blocks exactly the %3==0 docs;
    # before the round-9 fix the target lost its leading '/' and every
    # such URL was silently allowed.
    def mk_robq() -> DataFrame:
        urlq = F.expr(
            "concat('HTTPS://Crawl.Site', cast(doc_id % 13 as string),"
            " '.COM:443?x=', cast(doc_id % 3 as string))"
        )
        return robots_verdict(
            docs.select("doc_id", urlq.alias("url")), rules, url_col="url"
        ).select(
            F.lit("robots_q").alias("part"),
            F.col("doc_id").cast("long").alias("id"),
            F.col("robots_allowed").cast("long").alias("k"),
            host_split.alias("split"),
        )
    # round 10: CDX(J) index parsing — the live Common Crawl access
    # pattern's FIRST stage (sources/warc.parse_cdxj, pure Column
    # regex + from_json, feeds read_warc_at).  Lines are built from
    # doc_id arithmetic (every 10th is MALFORMED and must yield NULL
    # locations — k = -1 pins the no-silent-drop contract); k hashes
    # EVERY parsed field (surt/ts/url/status/mime/digest/path/offset/
    # length), so the line split, the JSON field extraction, the
    # long casts and the base_uri concat are all oracle-checked.
    from data_integration_with_pseudoweights_and_survey_calibration_spark.sources.warc import (
        parse_cdxj,
    )

    cdx_line = F.expr(
        "CASE WHEN doc_id % 10 = 0"
        " THEN concat('malformed line ', cast(doc_id as string))"
        " ELSE concat("
        "'com,site', cast(doc_id % 13 as string),"
        " ')/p/', cast(doc_id as string),"
        " ' 202608161200',"
        " lpad(cast(doc_id % 60 as string), 2, '0'),"
        " ' {\"url\": \"https://site', cast(doc_id % 13 as string),"
        " '.com/p/', cast(doc_id as string),"
        " '\", \"status\": \"200\", \"mime\": \"text/html\","
        " \"digest\": \"sha1:D', cast(doc_id as string),"
        " '\", \"filename\": \"crawl-data/seg-',"
        " cast(doc_id % 7 as string),"
        " '.warc.gz\", \"offset\": \"',"
        " cast(doc_id * 1000 + doc_id % 13 as string),"
        " '\", \"length\": \"',"
        " cast(500 + doc_id % 97 as string),"
        " '\"}') END"
    )
    def mk_cdxp() -> DataFrame:
        cdx = docs.select("doc_id", cdx_line.alias("value"))
        parsed_cdx = parse_cdxj(
            cdx, line_col="value", base_uri="https://data.example.org/"
        ).withColumn(
            "_cid",
            F.coalesce(
                F.regexp_extract("url", r"(\d+)$", 1).cast("long"), F.lit(-1)
            ),
        )
        # malformed lines lose the url: recover id positionally via the
        # line itself (parse_cdxj preserves no extra columns by contract)
        return cdx.join(
            parsed_cdx.where(F.col("_cid") >= 0).withColumnRenamed(
                "_cid", "doc_id"
            ),
            "doc_id",
            "left",
        ).select(
            F.lit("cdxj").alias("part"),
            F.col("doc_id").cast("long").alias("id"),
            # concat_ws SKIPS nulls (an all-NULL malformed row would hash
            # the empty string) — gate on the join hit instead
            F.when(
                F.col("url").isNotNull(),
                hash48(
                    F.concat_ws(
                        "|", "surt", "ts", "url", "status", "mime",
                        "digest", "path",
                        F.col("offset").cast("string"),
                        F.col("length").cast("string"),
                    )
                ).cast("long"),
            ).otherwise(F.lit(-1)).alias("k"),
            F.col("path").alias("split"),
        )
    # round 10: the Common Crawl entry path END TO END — WARC records
    # (real wire bytes: identity/chunked/gzip HTTP payloads, dated
    # double-captures, 404/page/request decoys) -> robots_from_warc
    # (status filter + dechunk/gunzip + latest-capture-wins) ->
    # robots_rules -> robots_verdict over the SAME injected URLs,
    # with robots_meta's group-scoped crawl-delay + global sitemaps
    # broadcast-joined in as `split`
    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.robots import (
        crawl_budgets,
        robots_from_warc,
        robots_meta,
    )

    # round 11: sitemaps.org parsing — one arithmetic-built sitemap
    # document per doc, kinds cycling by doc_id % 8 (see docstring);
    # the gzip leg is built by a tiny Arrow UDF (input construction
    # only — the operator under test is sitemap_entries)
    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.sitemaps import (
        sitemap_entries,
    )

    _h13 = "cast(doc_id % 13 as string)"
    _did = "cast(doc_id as string)"
    _lastmod0 = (
        "concat('2026-08-', lpad(cast((doc_id % 28) + 1 as string), 2, '0'))"
    )
    sm_xml = F.expr(
        "CASE WHEN doc_id % 8 = 0 THEN concat("
        "'<?xml version=\"1.0\" encoding=\"UTF-8\"?>\\n<urlset "
        "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"
        "\\n<url><loc>https://site', {h13}, '.com/p/', {did},"
        " '</loc><lastmod>', {lastmod},"
        " '</lastmod></url>\\n<url><loc>https://site',"
        " {h13}, '.com/q/', {did},"
        " '</loc><changefreq>daily</changefreq></url>\\n</urlset>')"
        " WHEN doc_id % 8 = 1 THEN concat("
        "'<sm:sitemapindex xmlns:sm="
        "\"http://www.sitemaps.org/schemas/sitemap/0.9\">"
        "<sm:sitemap><sm:loc>https://site', {h13},"
        " '.com/maps/child', {did},"
        " '.xml</sm:loc><sm:lastmod>2026-07-01</sm:lastmod>"
        "</sm:sitemap><sm:sitemap><sm:lastmod>2026-07-02"
        "</sm:lastmod></sm:sitemap></sm:sitemapindex>')"
        " WHEN doc_id % 8 = 2 THEN concat("
        "'<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">"
        "<url><loc>  https://site', {h13}, '.com/z/', {did},"
        " '  </loc></url></urlset>')"
        # plain-text sitemap: URLs only, one per line
        " WHEN doc_id % 8 = 4 THEN concat("
        "'https://site', {h13}, '.com/t/', {did},"
        " '\\nhttps://site', {h13}, '.com/u/', {did}, '\\n')"
        " WHEN doc_id % 8 = 5 THEN concat("
        "'<rss version=\"2.0\"><channel><title>c</title>"
        "<item><link>https://site', {h13}, '.com/r/', {did},"
        " '</link><pubDate>2026-03-04</pubDate></item>"
        "</channel></rss>')"
        " WHEN doc_id % 8 = 6 THEN concat("
        "'<feed xmlns=\"http://www.w3.org/2005/Atom\">"
        "<entry><link rel=\"self\" href=\"https://site', {h13},"
        " '.com/feed.xml\"/><link href=\"https://site',"
        " {h13}, '.com/f/', {did},"
        " '\"/><updated>2026-04-05</updated></entry></feed>')"
        " ELSE '<urlset><url><loc>broken' END".format(
            h13=_h13, did=_did, lastmod=_lastmod0
        )
    )

    def _sm_payload(batches):
        # Arrow input builder (the operator under test is
        # sitemap_entries): gzip the kind-2 docs, corrupt-GZIP the
        # %8==7 docs (magic bytes + garbage — must audit as
        # __corrupt__, never crash the pass)
        import gzip as _gzip

        import pandas as _pd

        for pdf in batches:
            payload = []
            for x, k in zip(pdf["_xml"], pdf["_k8"]):
                b = x.encode("utf-8")
                if k == 2:
                    b = _gzip.compress(b, mtime=0)
                elif k == 7:
                    b = b"\x1f\x8b\x08\x00not-actually-gzip"
                payload.append(b)
            yield _pd.DataFrame(
                {"sitemap_url": pdf["_smurl"], "content": payload}
            )

    def mk_smp() -> DataFrame:
        smdf = docs.select(
            F.expr(
                "concat('https://site', cast(doc_id % 13 as string),"
                " '.com/sitemaps/', cast(doc_id as string), '.xml')"
            ).alias("_smurl"),
            sm_xml.alias("_xml"),
            F.expr("cast(doc_id % 8 as int)").alias("_k8"),
        ).mapInPandas(
            _sm_payload, schema="sitemap_url string, content binary"
        )
        return (
            sitemap_entries(smdf)
            .withColumn(
                "_sid",
                F.regexp_extract(
                    "sitemap_url", r"(\d+)\.xml$", 1
                ).cast("long"),
            )
            .select(
                F.lit("sitemap").alias("part"),
                F.col("_sid").alias("id"),
                F.when(
                    F.col("kind") != "__corrupt__",
                    hash48(
                        F.concat_ws(
                            "|", "kind", "loc",
                            F.coalesce("lastmod", F.lit("-")),
                        )
                    ).cast("long"),
                ).otherwise(F.lit(-1)).alias("k"),
                F.when(
                    F.col("kind") != "__corrupt__", F.col("kind")
                ).otherwise(F.lit(None).cast("string")).alias("split"),
            )
        )
    def mk_robw() -> DataFrame:
        wrec = spark.createDataFrame(
            _robots_warc_records(),
            "warc_type string, target_uri string, warc_date string, "
            "content binary",
        )
        dim = robots_from_warc(wrec)
        meta = robots_meta(dim)
        rw = robots_verdict(
            urled.select("doc_id", F.col("_url").alias("url")),
            robots_rules(dim),
            url_col="url",
        ).withColumn(
            "_rwhost",
            F.lower(
                F.regexp_extract(
                    F.col("url"), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)", 1
                )
            ),
        )
        # round 11: certify crawl_budgets through the same branch — the
        # fetch budget (greatest(1, floor(window/delay)), window 4 s so
        # delay 5 exercises the >=1 floor) leads the split
        bmeta = meta.join(
            crawl_budgets(meta, window_s=4.0).select("host", "fetch_budget"),
            "host",
        )
        return rw.join(
            F.broadcast(bmeta.withColumnRenamed("host", "_rwhost")),
            "_rwhost",
            "left",
        ).select(
            F.lit("robots_warc").alias("part"),
            F.col("doc_id").cast("long").alias("id"),
            F.col("robots_allowed").cast("long").alias("k"),
            F.concat(
                F.col("fetch_budget").cast("string"),
                F.lit("|"),
                F.col("crawl_delay").cast("int").cast("string"),
                F.lit("|"),
                F.array_join("sitemaps", ","),
            ).alias("split"),
        )

    # NOTE (optimization round 11): building ALL these branches from
    # concurrent driver threads was MEASURED 3x SLOWER than sequential
    # construction (build 4.3s -> 13.5s at sf0.1): plan construction is
    # thousands of tiny py4j RPCs + eager per-DataFrame analysis, and
    # multi-threading them contends on the JVM session state instead of
    # overlapping real work.  Threads pay off for long-blocking EAGER
    # JOBS (kw_kernels, jk_cox_refits, survey_scalars), not for plan
    # construction — so the RPC-bound branches build sequentially.
    #
    # Third pass: mk_shuf and mk_zo are the two branches whose BUILD
    # runs eager jobs (global_rank's count + range-bounds collect, and
    # the zorder min/max probe — ~0.9 s of blocking the main thread
    # spends doing nothing).  Exactly those two submit from driver
    # threads so their jobs' executor work overlaps the other nine
    # branches' sequential RPC construction; each thread's own RPC
    # volume is small (a bucket when-chain / one bit-interleave tree),
    # so the measured contention case does not reapply.  The union
    # consumes the parts in the ORIGINAL order, so plan and results
    # are identical to the sequential build.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_shuf = pool.submit(mk_shuf)
        f_zo = pool.submit(mk_zo)
        rest = [
            mk()
            for mk in (
                mk_un, mk_psl, mk_pslfull, mk_capped,
                mk_rob, mk_robq, mk_robw, mk_cdxp, mk_smp,
            )
        ]
        parts = [f_shuf.result(), f_zo.result(), *rest]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _sql_layout_keys() -> str:
    norm = (
        "'https://crawl.site' || (doc_id % 13) || '.com/p/' || doc_id"
        " || '?id=' || (doc_id % 7)"
    )
    psl_norm = (
        "'https://www.shop' || (doc_id % 11)"
        " || CASE doc_id % 3 WHEN 0 THEN '.co.uk'"
        " WHEN 1 THEN '.com.au' ELSE '.de' END"
        " || '/item/' || doc_id"
    )
    pslf_suffix = (
        "CASE doc_id % 6 WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com.au'"
        " WHEN 2 THEN 'de' WHEN 3 THEN 'zed.bd'"
        " WHEN 4 THEN 'www.bd' ELSE 'k12.ma.us' END"
    )
    pslf_norm = (
        "'https://www.shop' || (doc_id % 11) || '.' || "
        + pslf_suffix
        + " || '/i/' || doc_id"
    )
    # round 11, 'sitemap': the oracle re-derives every exploded
    # (kind, loc, lastmod) entry from the doc_id arithmetic — the
    # hash pre-image is 'kind|loc|lastmod-or-dash'
    SM_P_SQL = (
        "'url|https://site' || (doc_id % 13) || '.com/p/' || doc_id"
        " || '|2026-08-' || lpad(((doc_id % 28) + 1)::VARCHAR, 2, '0')"
    )
    SM_Q_SQL = (
        "'url|https://site' || (doc_id % 13) || '.com/q/' || doc_id"
        " || '|-'"
    )
    SM_CHILD_SQL = (
        "'sitemap|https://site' || (doc_id % 13) || '.com/maps/child'"
        " || doc_id || '.xml|2026-07-01'"
    )
    SM_Z_SQL = (
        "'url|https://site' || (doc_id % 13) || '.com/z/' || doc_id"
        " || '|-'"
    )
    SM_T_SQL = (
        "'url|https://site' || (doc_id % 13) || '.com/t/' || doc_id"
        " || '|-'"
    )
    SM_U_SQL = (
        "'url|https://site' || (doc_id % 13) || '.com/u/' || doc_id"
        " || '|-'"
    )
    SM_RSS_SQL = (
        "'url|https://site' || (doc_id % 13) || '.com/r/' || doc_id"
        " || '|2026-03-04'"
    )
    SM_ATOM_SQL = (
        "'url|https://site' || (doc_id % 13) || '.com/f/' || doc_id"
        " || '|2026-04-05'"
    )
    CDX_FIELDS_SQL = (
        "'com,site' || (doc_id % 13) || ')/p/' || doc_id"
        " || '|202608161200' || lpad((doc_id % 60)::VARCHAR, 2, '0')"
        " || '|https://site' || (doc_id % 13) || '.com/p/' || doc_id"
        " || '|200|text/html|sha1:D' || doc_id"
        " || '|https://data.example.org/crawl-data/seg-'"
        " || (doc_id % 7) || '.warc.gz'"
        " || '|' || (doc_id * 1000 + doc_id % 13)"
        " || '|' || (500 + doc_id % 97)"
    )
    return f"""
    SELECT 'corpus_shuffle' AS part, doc_id::BIGINT AS id,
           rank::BIGINT AS k, split
    FROM ({_sql_corpus_shuffle()})
    UNION ALL
    SELECT 'zorder' AS part, o_orderkey::BIGINT, zkey::BIGINT,
           NULL::VARCHAR
    FROM ({_sql_zorder_keys()})
    UNION ALL
    SELECT 'url_norm' AS part, doc_id::BIGINT,
           {MD5INT_SQL.format(x=norm)},
           'site' || (doc_id % 13) || '.com'
    FROM documents
    UNION ALL
    SELECT 'url_psl' AS part, doc_id::BIGINT,
           {MD5INT_SQL.format(x=psl_norm)},
           'shop' || (doc_id % 11)
             || CASE doc_id % 3 WHEN 0 THEN '.co.uk'
                WHEN 1 THEN '.com.au' ELSE '.de' END
    FROM documents
    UNION ALL
    SELECT 'url_psl_full' AS part, doc_id::BIGINT,
           {MD5INT_SQL.format(x=pslf_norm)},
           CASE WHEN doc_id % 6 = 4 THEN 'www.bd'
                ELSE 'shop' || (doc_id % 11) || '.' || {pslf_suffix}
           END
    FROM documents
    UNION ALL
    SELECT 'domain_cap' AS part, doc_id::BIGINT, rank::BIGINT, dom
    FROM (
      SELECT doc_id, 'site' || (doc_id % 13) || '.com' AS dom,
             row_number() OVER (
               PARTITION BY doc_id % 13
               ORDER BY n_chars DESC, doc_id) AS rank
      FROM documents)
    WHERE rank <= {DOMAIN_CAP_N}
    UNION ALL
    SELECT 'robots' AS part, doc_id::BIGINT,
           (CASE
              WHEN (doc_id % 13) % 3 = 0 AND doc_id % 7 = 3 THEN 0
              WHEN starts_with(doc_id::VARCHAR,
                     (doc_id % 13)::VARCHAR
                     || ((doc_id % 13 + 1) % 10)::VARCHAR) THEN 1
              WHEN starts_with(doc_id::VARCHAR,
                     (doc_id % 13)::VARCHAR) THEN 0
              ELSE 1
            END)::BIGINT,
           'site' || (doc_id % 13) || '.com'
    FROM documents
    UNION ALL
    SELECT 'robots_q' AS part, doc_id::BIGINT,
           (doc_id % 3 <> 0)::BIGINT,
           'site' || (doc_id % 13) || '.com'
    FROM documents
    UNION ALL
    SELECT 'cdxj' AS part, doc_id::BIGINT,
           (CASE WHEN doc_id % 10 = 0 THEN -1
                 ELSE {MD5INT_SQL.format(x=CDX_FIELDS_SQL)}
            END)::BIGINT,
           CASE WHEN doc_id % 10 = 0 THEN NULL
                ELSE 'https://data.example.org/crawl-data/seg-'
                     || (doc_id % 7) || '.warc.gz' END
    FROM documents
    UNION ALL
    SELECT 'robots_warc' AS part, doc_id::BIGINT,
           (NOT starts_with(doc_id::VARCHAR,
                            (doc_id % 13)::VARCHAR))::BIGINT,
           greatest(1, floor(4.0 / ((doc_id % 13) % 5 + 1))::INT)::VARCHAR
             || '|' || ((doc_id % 13) % 5 + 1)::VARCHAR
             || '|https://crawl.site' || (doc_id % 13) || '.com/s0.xml'
             || CASE WHEN (doc_id % 13) % 2 = 1
                THEN ',https://crawl.site' || (doc_id % 13)
                     || '.com/s1.xml'
                ELSE '' END
    FROM documents
    UNION ALL
    SELECT 'sitemap' AS part, doc_id::BIGINT,
           {MD5INT_SQL.format(x=SM_P_SQL)}, 'url'
    FROM documents WHERE doc_id % 8 = 0
    UNION ALL
    SELECT 'sitemap' AS part, doc_id::BIGINT,
           {MD5INT_SQL.format(x=SM_Q_SQL)}, 'url'
    FROM documents WHERE doc_id % 8 = 0
    UNION ALL
    SELECT 'sitemap' AS part, doc_id::BIGINT,
           {MD5INT_SQL.format(x=SM_CHILD_SQL)}, 'sitemap'
    FROM documents WHERE doc_id % 8 = 1
    UNION ALL
    SELECT 'sitemap' AS part, doc_id::BIGINT,
           {MD5INT_SQL.format(x=SM_Z_SQL)}, 'url'
    FROM documents WHERE doc_id % 8 = 2
    UNION ALL
    SELECT 'sitemap' AS part, doc_id::BIGINT,
           {MD5INT_SQL.format(x=SM_T_SQL)}, 'url'
    FROM documents WHERE doc_id % 8 = 4
    UNION ALL
    SELECT 'sitemap' AS part, doc_id::BIGINT,
           {MD5INT_SQL.format(x=SM_U_SQL)}, 'url'
    FROM documents WHERE doc_id % 8 = 4
    UNION ALL
    SELECT 'sitemap' AS part, doc_id::BIGINT,
           {MD5INT_SQL.format(x=SM_RSS_SQL)}, 'url'
    FROM documents WHERE doc_id % 8 = 5
    UNION ALL
    SELECT 'sitemap' AS part, doc_id::BIGINT,
           {MD5INT_SQL.format(x=SM_ATOM_SQL)}, 'url'
    FROM documents WHERE doc_id % 8 = 6
    UNION ALL
    SELECT 'sitemap' AS part, doc_id::BIGINT, -1::BIGINT, NULL::VARCHAR
    FROM documents WHERE doc_id % 8 IN (3, 7)
    """


def _q_events_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type aggregate suite joined on event_type: skew-safe
    salted two-phase totals, the stateful running-mean batch twin, and
    JSON property extraction — three independent aggregation operators
    certified in one frame (each keeps its own plan; the join is on a
    handful of type rows)."""
    salted = _q_events_salted_totals(spark, sf_dir)
    running = _q_events_running_totals(spark, sf_dir).withColumnRenamed(
        "group", "event_type"
    ).select("event_type", "sum_w", "sum_wy", "wmean")
    props = _q_events_props(spark, sf_dir).select(
        "event_type", "sum_k", "avg_k"
    )
    return (
        salted.join(running, "event_type")
        .join(props, "event_type")
        .orderBy("event_type")
    )


def _sql_events_totals() -> str:
    return f"""
    SELECT s.event_type, s.n, s.total_value, s.max_value,
           r.sum_w, r.sum_wy, r.wmean, p.sum_k, p.avg_k
    FROM ({_sql_events_salted_totals()}) s
    JOIN (SELECT "group" AS event_type, sum_w, sum_wy, wmean
          FROM ({_sql_events_running_totals()})) r USING (event_type)
    JOIN ({_sql_events_props()}) p USING (event_type)
    ORDER BY event_type
    """


def _q_events_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-purchase flow joins in one frame: the as-of join (most
    recent prior view; window carry-forward, D4) left-joined with the
    banded 24h range-join attribution aggregate. Purchases with no
    view inside the window carry NULL attribution columns."""
    asof = _q_events_asof(spark, sf_dir)
    attr = _q_events_attribution(spark, sf_dir).select(
        "event_id", "n_views", "view_value_sum"
    )
    return asof.join(attr, "event_id", "left")


def _sql_events_flow() -> str:
    return f"""
    SELECT a.*, t.n_views, t.view_value_sum
    FROM ({_sql_events_asof()}) a
    LEFT JOIN (SELECT event_id, n_views, view_value_sum
               FROM ({_sql_events_attribution()})) t USING (event_id)
    """


def _q_survey_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight one-row scalar certificates as ONE wide row (cross join of
    1-row frames is free): IPSW prevalence (I1/E3), Silverman bandwidth
    (I5), Gram means (E4), composite a_cv factors (I11), PPS/Poisson
    influence variances (E5), Cox score check (I23), one exact Cox
    Newton step (H2 inner loop), and the design-weighted quantiles
    (E8) pivoted to columns. Consolidating scalar outputs keeps every
    certificate inside the driver's correctness window without losing
    any value check — each column is still hash-compared.

    All eight pieces derive from the SAME units view; one CACHED units
    frame is built here and passed down, so the parquet scan + unit
    derivation runs once and every certificate aggregates from memory
    (Spark's CacheManager dedups by plan, so repeated invocations —
    bench loops — reuse a single cache entry instead of accumulating)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    units = tpch.orders_units(spark, sf_dir).cache()
    cohort = units.where(F.expr(tpch.COHORT_PRED)).drop("o_orderkey")
    survey = units.where(F.expr(tpch.SURVEY_PRED)).drop("o_orderkey")
    frames = (cohort, survey)
    # Five of the eight pieces run eager driver jobs while BUILDING
    # their 1-row frames (the fused prevalence+bandwidth pass, the
    # composite-factor moments, the influence Gram + variances, the
    # Cox grid pass).  They are mutually independent and all aggregate
    # the shared cached units frame, so run them from concurrent
    # driver threads (optimization round 11, guide §2.6) instead of
    # serializing ~9 small jobs' scheduling latency; the Cox score and
    # Newton-step certificates share ONE grid pass (``_q_cox_scalars``)
    # and the prevalence certificate rides the bandwidth job
    # (``_q_prev_bw_scalars``, round 12).  Concurrent first touch of
    # the cache is safe: the block manager's per-partition locks make
    # exactly one job compute each partition.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_pb = pool.submit(_q_prev_bw_scalars, spark, sf_dir, frames)
        f_comp = pool.submit(_q_composite_factors, spark, sf_dir, frames)
        f_iv = pool.submit(_q_influence_variance, spark, sf_dir, frames)
        f_cox = pool.submit(_q_cox_scalars, spark, sf_dir, frames)
        prev, bw = f_pb.result()
        comp = f_comp.result()
        iv = f_iv.result()
        score, newton = f_cox.result()
    prev = prev.withColumnRenamed("n", "n_cohort")
    gram = _q_gram_means(spark, sf_dir, frames)
    wq = (
        _q_weighted_median(spark, sf_dir, frames)
        .groupBy()
        .agg(
            *[
                F.max(
                    F.when(F.col("prob") == F.lit(p), F.col("q"))
                ).alias(f"wq_{int(p * 100)}")
                for p in WQ_PROBS
            ]
        )
    )
    # each piece is ONE row: broadcast it so the chain stays a
    # BroadcastNestedLoopJoin over a single partition (a plain
    # crossJoin chain multiplies partition counts -- 8 chained
    # cartesian products explode into tens of thousands of tasks)
    out = prev.coalesce(1)
    for piece in (bw, gram, comp, iv, score, newton, wq):
        out = out.crossJoin(F.broadcast(piece))
    return out


def _sql_survey_scalars(sf_dir: str) -> str:
    wq_cols = ", ".join(
        f"max(CASE WHEN prob = {p} THEN q END) AS wq_{int(p * 100)}"
        for p in WQ_PROBS
    )
    return f"""
    SELECT *
    FROM (SELECT n AS n_cohort, prev, ipsw_mean
          FROM ({_sql_ipsw_prevalence(sf_dir)})) t1
    CROSS JOIN (SELECT h FROM ({_sql_bw_nrd0(sf_dir)})) t2
    CROSS JOIN ({_sql_gram_means(sf_dir)}) t3
    CROSS JOIN ({_sql_composite_factors(sf_dir)}) t4
    CROSS JOIN ({_sql_influence_variance(sf_dir)}) t5
    CROSS JOIN ({_sql_cox_score()}) t6
    CROSS JOIN ({_sql_cox_newton_step()}) t7
    CROSS JOIN (SELECT {wq_cols} FROM ({_sql_weighted_median()})) t8
    """


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """50 declared queries — consolidated (round 3, re-fitted round 8
    after pq_topk merged into ivf_topk) so EVERY entry fits inside the
    driver's 50-row correctness window. Certificate siblings were
    merged, never dropped: each former standalone query survives as a
    labeled branch / joined column set of a merged entry (see the
    per-query docstrings), so every SURVEY §2 operator keeps a
    value-checked driver row."""
    return {
        # survey / statistics core
        "stack_weights": _q_stack_weights,
        "survey_scalars": _q_survey_scalars,
        "kw_kernels": _q_kw_kernels,
        "post_strat": _q_post_strat,
        "greg_weights": _q_greg_weights,
        "jk_replicates": _q_jk_replicates,
        "jk_cox_refits": _q_jk_cox_refits,
        "jk_newton_steps": _q_jk_newton_steps,
        "tercile_codes": _q_tercile_codes,
        "absolute_risk": _q_absolute_risk,
        "hazard_grid": _q_hazard_grid,
        "breslow_cum_hazard": _q_breslow_cum_hazard,
        "lambda_star_binned": _q_lambda_star_binned,
        "gail_cum_hazard": _q_gail_cum_hazard,
        "cox_dfbeta": _q_cox_dfbeta,
        "pps_sample": _q_pps_sample,
        "lambda_influence": _q_lambda_influence,
        "gamma_influence": _q_gamma_influence,
        "grouped_product": _q_grouped_product,
        "stratified_sample": _q_stratified_sample,
        "population_gen": _q_population_gen_det,
        # training-data pipeline
        "text_features": _q_text_features,
        "doc_fingerprints": _q_doc_fingerprints,
        "exact_dedup": _q_exact_dedup,
        "doc_signatures": _q_doc_signatures,
        "dedup_pairs": _q_dedup_pairs,
        "dedup_components": _q_dedup_components,
        "pack_sequences": _q_pack_sequences,
        "layout_keys": _q_layout_keys,
        "decontamination": _q_decontamination,
        "lm_scores": _q_lm_scores,
        "bpe_merges": _q_bpe_merges,
        "media_features": _q_media_features,
        "domain_mix": _q_domain_mix,
        "vocab_stats": _q_vocab_stats,
        "tfidf": _q_tfidf,
        # TPC-H-shaped scan/join benchmarks
        "lineitem_pricing": _q_lineitem_pricing,
        "customer_revenue": _q_customer_revenue,
        # embeddings / ANN
        "embedding_topk": _q_embedding_topk,
        "embedding_moments": _q_embedding_moments,
        "embedding_pca": _q_embedding_pca,
        "lsh_topk": _q_lsh_topk,
        "ivf_topk": _q_ivf_topk_exact,
        # events suite
        "events_windowed": _q_events_windowed,
        "events_totals": _q_events_totals,
        "events_flow": _q_events_flow,
        "events_sessions": _q_events_sessions,
        "events_funnel": _q_events_funnel,
        # structured streaming (value-checked vs the batch oracle)
        "streaming_windowed": _q_streaming_windowed,
        "streaming_interval": _q_streaming_interval,
    }


def oracle_sql() -> dict[str, str]:
    sf = ""  # oracle strings are sf-independent (views are pre-registered)
    return {
        "stack_weights": _sql_stack_weights(sf),
        "survey_scalars": _sql_survey_scalars(sf),
        "kw_kernels": _sql_kw_kernels(sf),
        "post_strat": _sql_post_strat(sf),
        "greg_weights": _sql_greg_weights(sf),
        "jk_replicates": _sql_jk_replicates(sf),
        # jk_cox_refits: iterative Cox refits (rows-only) + golden test;
        # replicate 0 carries the full-data H2 fit
        "jk_newton_steps": _sql_jk_newton_steps(),
        "tercile_codes": _sql_tercile_codes(sf),
        "absolute_risk": _sql_absolute_risk(),
        "hazard_grid": _sql_hazard_grid(),
        "breslow_cum_hazard": _sql_breslow_cum_hazard(),
        "lambda_star_binned": _sql_lambda_star_binned(),
        "gail_cum_hazard": _sql_gail_cum_hazard(),
        "cox_dfbeta": _sql_cox_dfbeta(),
        "pps_sample": _sql_pps_sample(),
        "lambda_influence": _sql_lambda_influence(sf),
        "gamma_influence": _sql_gamma_influence(sf),
        "grouped_product": _sql_grouped_product(sf),
        "stratified_sample": _sql_stratified_sample(),
        "population_gen": _sql_population_gen_det(),
        "text_features": _sql_text_features(),
        "doc_fingerprints": _sql_doc_fingerprints(),
        "exact_dedup": _sql_exact_dedup(),
        "doc_signatures": _sql_doc_signatures(),
        "dedup_pairs": _sql_dedup_pairs(),
        "dedup_components": _sql_dedup_components(),
        "pack_sequences": _sql_pack_sequences(),
        "layout_keys": _sql_layout_keys(),
        "decontamination": _sql_decontamination(),
        "lm_scores": _sql_lm_scores(),
        # bpe_merges: hash-bearing oracle since round 12 — the batched
        # argmax recurrence is float-free, so the unrolled recursive
        # DuckDB twin reproduces it row-for-row (the golden tests vs
        # the pure-Python reference remain in tests/)
        "bpe_merges": _sql_bpe_merges(),
        "media_features": _sql_media_features(),
        "domain_mix": _sql_domain_mix(),
        "vocab_stats": _sql_vocab_stats(),
        "tfidf": _sql_tfidf(),
        "lineitem_pricing": _sql_lineitem_pricing(),
        "customer_revenue": _sql_customer_revenue(),
        "embedding_topk": _sql_embedding_topk(),
        "embedding_moments": _sql_embedding_moments(),
        # embedding_pca: driver-side eigh not SQL-expressible ->
        # rows-only + golden test vs dense NumPy PCA
        # lsh_topk: deterministic hyperplanes inlined into the oracle,
        # so even the APPROXIMATE candidate sets are value-checked
        "lsh_topk": _sql_lsh_topk(),
        # ivf_topk (merged r8): the 'ivf' branch runs at full probe
        # (scanning every cell == brute force) and the 'pq' branch at
        # full probe + corpus-wide exact re-rank (same cosine fold as
        # brute force restores the exact answer after the ADC stage
        # executes) -- both hash-checked against the same brute-force
        # oracle, labeled per method
        "ivf_topk": _sql_ivf_pq_topk(),
        "events_windowed": _sql_events_windowed(),
        "events_totals": _sql_events_totals(),
        "events_flow": _sql_events_flow(),
        "events_sessions": _sql_events_sessions(),
        "events_funnel": _sql_events_funnel(),
        # exactly-once streaming == batch, so the batch oracle gates
        # the streaming path end to end (incl. the custom stateful
        # running-mean columns in streaming_windowed)
        "streaming_windowed": _sql_streaming_windowed(),
        "streaming_interval": _sql_events_attribution(),
    }
