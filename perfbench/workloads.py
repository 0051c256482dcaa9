"""The benchmark's workloads.

Each workload builds its inputs from the seed in :meth:`prepare`, runs
one closed-loop operation per call to :meth:`operation` (the next starts
when the previous one returns), and checks an operation's outputs in
:meth:`check`, which the runner calls outside the timed region.  The
package only ever receives the generated DataFrames.

``span(name)`` is the tracer's span context manager in a traced run and
a no-op otherwise.  The workloads open spans themselves only around a
call whose result is lazy together with the action that executes it, so
that the execution is charged to the layer that planned it.
"""

from __future__ import annotations

import math
from typing import Callable, ContextManager

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_integration_with_pseudoweights_and_survey_calibration_spark.operators import (
    calibration,
    dense_suite,
    jackknife,
    method_suite,
    propensity,
    sampling,
    simulation,
    survival,
)

Span = Callable[[str], ContextManager]

X_COLS = ["x1", "x2", "x3"]
T_STAR = [2.0, 5.0, 10.0]
PS_FORMULA = "x1 + x2"


def _checkpoint(df: DataFrame) -> DataFrame:
    # cuts the sampling lineage, so later fits do not re-run the N-row
    # PPS draw (as examples/simulation_study.py does)
    return df.localCheckpoint(eager=True)


def _close(a: float, b: float, rel: float, abs_: float = 0.0) -> bool:
    return math.isfinite(a) and math.isfinite(b) and math.isclose(
        a, b, rel_tol=rel, abs_tol=abs_
    )


class PaperSim:
    """The paper's simulation: PPS cohort and survey draws from a finite
    population, the method suite on each draw, and the grouped
    jackknife variance of every method's x1 coefficient."""

    name = "paper_sim"
    # Sample geometry and jackknife groups of the reference study
    # (600/300, 60 + 30 groups).  The population is smaller than the
    # reference's 300k, the distributed suite runs the IPSW method only
    # and the jackknife the first measurement-error variant only: a full
    # 16-method draw takes 80-90 s on 4 cores, and a run has to fit a
    # warm-up draw and two measured draws into about a minute.
    n_pop = 20_000
    n_cohort = 600
    n_survey = 300
    m_jk = 60
    n_jk = 30
    jk_variants = (1,)
    base_methods = ("ipsw",)

    def prepare(self, spark: SparkSession, seed: int) -> None:
        self.seed = seed
        # measurement-error columns only for the variants the draws read
        pop = simulation.generate_population(
            spark,
            self.n_pop,
            seed=seed,
            error_profiles=simulation.ERROR_PROFILES[: max(self.jk_variants)],
        ).cache()
        self.pop_events = float(pop.agg(F.sum("d")).collect()[0][0])
        self.lam = survival.lambda_star_pop(pop).cache()
        self.lam.count()
        med = pop.agg(
            *[F.expr(f"percentile({c}, 0.5)").alias(c) for c in X_COLS]
        ).collect()[0]
        # risk profile: population medians with x1 shifted by +0.5
        self.x0 = [[float(med["x1"]) + 0.5, float(med["x2"]), float(med["x3"])]]
        self.pop = pop
        self._lam_np = None

    def _suite_kw(self) -> dict:
        return dict(
            x_cols=X_COLS,
            ps_formula=PS_FORMULA,
            t_star=T_STAR,
            pop_size=float(self.n_pop),
            pop_events=self.pop_events,
            x0=self.x0,
        )

    def operation(self, index: int, span: Span) -> dict:
        m_jk, n_jk = self.m_jk, self.n_jk
        with span("simulation.draw_samples"):
            cohort, survey = simulation.draw_samples(
                self.pop, self.n_cohort, self.n_survey, seed=self.seed * 1009 + index
            )
            cohort, survey = _checkpoint(cohort), _checkpoint(survey)
        est = method_suite.estimate_methods(
            cohort,
            survey,
            lambda_star=self.lam,
            error_variants=(1,),
            base_methods=self.base_methods,
            calib_methods=(),
            **self._suite_kw(),
        )
        cohort_j = sampling.assign_jk_groups(cohort, m_jk, seed=11).cache()
        survey_j = sampling.assign_jk_groups(survey, n_jk, seed=12).cache()
        with span("dense_suite.jk_suite_grouped"):
            jk = dense_suite.jk_suite_grouped(
                cohort_j,
                survey_j,
                m_jk,
                n_jk,
                lambda_star=self.lam,
                error_variants=self.jk_variants,
                **self._suite_kw(),
            ).toPandas()
        cohort_j.unpersist()
        survey_j.unpersist()
        piv = (
            jk[jk["param"].str.match(r"beta_.*_x1$")]
            .pivot_table(index="replicate", columns="param", values="value")
            .sort_index()
        )
        _, var = jackknife.jk_variance(piv.to_numpy(), m_jk, n_jk)
        se = dict(zip(piv.columns, np.sqrt(var)))
        return dict(cohort=cohort, survey=survey, est=est, jk=jk, se=se,
                    replicates=m_jk + n_jk)

    def check(self, out: dict) -> list[str]:
        """The distributed estimates equal the dense twin's on the same
        collected draw (the relation tests/test_dense_suite.py pins),
        all replicates are present and every jackknife SE is finite and
        positive."""
        problems = []
        if self._lam_np is None:
            lp = self.lam.select("t", "lambda_star").orderBy("t").toPandas()
            self._lam_np = (
                lp["t"].to_numpy(dtype=float),
                lp["lambda_star"].to_numpy(dtype=float),
            )
        dense = dense_suite.estimate_methods_np(
            out["cohort"].toPandas(),
            out["survey"].toPandas(),
            lambda_star=self._lam_np,
            error_variants=(1,),
            **self._suite_kw(),
        )
        est = out["est"]
        if not est:
            problems.append("method suite returned no estimates")
        for key, val in est.items():
            if key not in dense or not _close(val, dense[key], 1e-6, 1e-8):
                problems.append(f"{key}: distributed {val} vs dense {dense.get(key)}")
        jk = out["jk"]
        reps = set(jk["replicate"].unique().tolist())
        want = set(range(1, out["replicates"] + 1))
        if reps != want:
            problems.append(f"jackknife replicates {len(reps)} != {len(want)}")
        per_rep = jk.groupby("replicate")["param"].nunique()
        if per_rep.nunique() != 1:
            problems.append("jackknife replicates carry different parameter sets")
        n_methods = 4 + 4 * len(self.jk_variants)
        if len(out["se"]) != n_methods:
            problems.append(f"{len(out['se'])} jackknife SEs, want {n_methods}")
        for name, se in out["se"].items():
            if not (math.isfinite(se) and se > 0):
                problems.append(f"jackknife SE {name} = {se}")
        return problems


class CohortScale:
    """A large non-probability cohort weighted to a survey: IPSW and
    kernel weights, then post-stratification to population cell
    counts."""

    name = "cohort_scale"
    # Scaled down from 1M / 100k / 25k so that a benchmark run stays near
    # a minute on 4 cores; the cohort is still 8x the paper's, so the KW
    # pair job carries executor and Python-worker work, not only driver
    # round trips.  The Cox fit and Breslow hazard of the reference
    # workload are left out: at this size they are the same driver-bound
    # loops that paper_sim measures on every draw, and with them a run
    # could not fit a warm-up draw and a measured draw into a minute.
    n_pop = 25_000
    n_cohort = 5_000
    n_survey = 1_250
    cell_col = "x1_c"

    def prepare(self, spark: SparkSession, seed: int) -> None:
        self.seed = seed
        # no measurement-error variants: this workload never reads them
        pop = simulation.generate_population(
            spark, self.n_pop, seed=seed, error_profiles=()
        ).cache()
        self.cells = {
            int(r[self.cell_col]): float(r["n"])
            for r in pop.groupBy(self.cell_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        self.pop = pop

    def operation(self, index: int, span: Span) -> dict:
        with span("simulation.draw_samples"):
            cohort, survey = simulation.draw_samples(
                self.pop, self.n_cohort, self.n_survey, seed=self.seed * 1009 + index
            )
            cohort, survey = _checkpoint(cohort), _checkpoint(survey)
        weighted, _, _ = propensity.integrate(
            cohort, survey, PS_FORMULA, pop_size=float(self.n_pop), kernel="dnorm"
        )
        with span("calibration.post_stratify"):
            post = calibration.post_stratify(weighted, self.cell_col, "kw", self.cells)
            totals = (
                post.df.groupBy(self.cell_col)
                .agg(
                    F.sum("post_wt").alias("post"),
                    F.sum("kw").alias("kw"),
                )
                .collect()
            )
        return dict(
            survey=survey,
            kw_total=sum(r["kw"] for r in totals),
            cell_totals={int(r[self.cell_col]): r["post"] for r in totals},
        )

    def check(self, out: dict) -> list[str]:
        """KW weights sum to the survey weight total and post-stratified
        cells sum to the population counts."""
        problems = []
        survey_total = float(out["survey"].agg(F.sum("wt")).collect()[0][0])
        if not _close(out["kw_total"], survey_total, 1e-9):
            problems.append(f"sum kw {out['kw_total']} != sum survey wt {survey_total}")
        if set(out["cell_totals"]) != set(self.cells):
            problems.append(f"cells {sorted(out['cell_totals'])} != {sorted(self.cells)}")
        for cell, total in out["cell_totals"].items():
            if not _close(total, self.cells.get(cell, float("nan")), 1e-9):
                problems.append(f"cell {cell}: post-stratified {total} != {self.cells.get(cell)}")
        return problems


WORKLOADS = {w.name: w for w in (PaperSim, CohortScale)}
