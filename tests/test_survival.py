"""Survival-operator tests vs independent NumPy oracles (ties included)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.cox import (
    cox_fit,
    cox_score_norm,
)
from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.survival import (
    as_of_lookup,
    breslow_cum_hazard,
    cum_hazard,
    gail_cum_hazard,
    hazard_grid,
    lambda_star_pop,
)


def _surv_data(n=400, seed=5, tie_frac=0.5):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "x1": rng.normal(0, 1, n),
            "x2": rng.normal(0, 1, n),
            "w": rng.uniform(0.5, 4.0, n),
        }
    )
    lam = np.exp(0.5 * pdf.x1 - 0.3 * pdf.x2)
    t_event = rng.exponential(1 / lam)
    cens = rng.exponential(2.0, n)
    t = np.minimum(t_event, cens)
    # force ties on a fraction of rows
    tie_mask = rng.uniform(size=n) < tie_frac
    t[tie_mask] = np.round(t[tie_mask], 1)
    pdf["t"] = t
    pdf["d"] = (t_event <= cens).astype(np.int32)
    return pdf


def _grid_oracle(pdf, rel=None):
    rel = np.ones(len(pdf)) if rel is None else rel
    w, t, d = pdf.w.values, pdf.t.values, pdf.d.values
    out = []
    for u in sorted(pdf.loc[pdf.d == 1, "t"].unique()):
        at = t == u
        risk = t >= u
        out.append(
            {
                "t": u,
                "Nt": (w * d)[at].sum(),
                "Zt": (w * rel)[risk].sum(),
                "Yt": w[risk].sum(),
            }
        )
    g = pd.DataFrame(out)
    g["lambda"] = g.Nt / g.Zt
    g["one_minus_ar"] = g.Yt / g.Zt
    return g


def test_hazard_grid(spark):
    pdf = _surv_data()
    rel = np.exp(0.4 * pdf.x1.values)
    pdf2 = pdf.assign(rel=rel)
    got = (
        hazard_grid(spark.createDataFrame(pdf2), rel_hzd="rel")
        .orderBy("t")
        .toPandas()
    )
    want = _grid_oracle(pdf, rel)
    np.testing.assert_allclose(got.t, want.t)
    for c in ["Nt", "Zt", "Yt", "lambda", "one_minus_ar"]:
        np.testing.assert_allclose(got[c], want[c], rtol=1e-10, err_msg=c)


def test_hazard_grid_distributed_cumsum(spark):
    """The two-pass partitioned cumsum path is exactly the
    single-window path (ties included)."""
    pdf = _surv_data()
    rel = np.exp(0.4 * pdf.x1.values)
    pdf2 = pdf.assign(rel=rel)
    df = spark.createDataFrame(pdf2)
    base = hazard_grid(df, rel_hzd="rel").orderBy("t").toPandas()
    dist = hazard_grid(df, rel_hzd="rel", grid_partitions=7).orderBy("t").toPandas()
    np.testing.assert_allclose(base.t, dist.t)
    for c in ["Nt", "Zt", "Yt", "lambda", "one_minus_ar"]:
        np.testing.assert_allclose(base[c], dist[c], rtol=1e-12, err_msg=c)


def test_partitioned_cumsum_forward_reverse(spark):
    from data_integration_with_pseudoweights_and_survey_calibration_spark.functions.cumsum import (
        partitioned_cumsum,
    )

    rng = np.random.default_rng(11)
    n = 500
    pdf = pd.DataFrame(
        {
            "t": np.round(rng.uniform(0, 10, n), 1),  # heavy ties
            "v": rng.normal(0, 1, n),
        }
    )
    df = spark.createDataFrame(pdf).repartition(5)
    for reverse in (False, True):
        got = (
            partitioned_cumsum(df, "t", ["v"], reverse=reverse, n_buckets=6)
            .orderBy("t")
            .toPandas()
        )
        # rangeBetween semantics: every row's cumsum = sum of v over
        # rows with t <= (>=) its own t, tie rows sharing the total.
        s = pdf.groupby("t")["v"].sum().sort_index()
        cum = s[::-1].cumsum()[::-1] if reverse else s.cumsum()
        want = got.t.map(cum)
        np.testing.assert_allclose(got.cum_v, want, rtol=1e-10)


def test_as_of_lookup(spark):
    grid = spark.createDataFrame(
        pd.DataFrame({"t": [1.0, 2.0, 4.0], "v": [10.0, 20.0, 40.0]})
    )
    got = (
        as_of_lookup(grid, [0.5, 1.0, 3.0, 9.0], ["v"], default=-1.0)
        .orderBy("t_star")
        .toPandas()
    )
    assert got.v.tolist() == [-1.0, 10.0, 20.0, 40.0]


def test_breslow_cum_hazard(spark):
    pdf = _surv_data()
    rel = np.exp(0.4 * pdf.x1.values - 0.2 * pdf.x2.values)
    pdf2 = pdf.assign(rel=rel)
    t_star = [0.5, 1.0, 2.0, 5.0]
    got = (
        breslow_cum_hazard(spark.createDataFrame(pdf2), t_star, rel_hzd="rel")
        .orderBy("t_star")
        .toPandas()
    )
    g = _grid_oracle(pdf, rel)
    lam_u = g.Nt.values / g.Zt.values
    cum = np.cumsum(lam_u)
    want = [
        float(cum[g.t.values <= ts][-1]) if (g.t.values <= ts).any() else 0.0
        for ts in t_star
    ]
    np.testing.assert_allclose(got.cum_hzd, want, rtol=1e-10)


def test_lambda_star_pop_binned(spark):
    pdf = _surv_data(n=600, seed=9)
    t_star = [0.4, 1.0, 2.5]
    got = (
        lambda_star_pop(spark.createDataFrame(pdf), w="w", t_star=t_star)
        .orderBy("t")
        .toPandas()
    )
    g = _grid_oracle(pdf)
    # oracle: bins (0, .4], (.4, 1], (1, 2.5], (2.5, max]
    edges = [0.0] + t_star + [g.t.max() + 1]
    bins = np.digitize(g.t.values, edges[1:-1], right=True)
    rows = []
    for b in sorted(set(bins)):
        sel = bins == b
        last = np.where(sel)[0][-1]
        rows.append(
            {
                "t": g.t.values[last],
                "event_set": g.Nt.values[sel].sum(),
                "risk_set": g.Zt.values[last],
            }
        )
    want = pd.DataFrame(rows)
    want["lambda_star"] = want.event_set / want.risk_set
    np.testing.assert_allclose(got.t, want.t)
    np.testing.assert_allclose(got.event_set, want.event_set, rtol=1e-10)
    np.testing.assert_allclose(got.risk_set, want.risk_set, rtol=1e-10)
    np.testing.assert_allclose(got.lambda_star, want.lambda_star, rtol=1e-10)


def test_gail_cum_hazard(spark):
    pop = _surv_data(n=800, seed=21)
    # sample = subset of the population (sample event times subset pop's)
    samp = pop.iloc[::4].copy()
    rel = np.exp(0.3 * samp.x1.values)
    t_star = [0.5, 1.5, 3.0]
    lam_star = lambda_star_pop(spark.createDataFrame(pop), w="w")
    got = (
        gail_cum_hazard(
            lam_star,
            spark.createDataFrame(samp.assign(rel=rel)),
            t_star,
            rel_hzd="rel",
        )
        .orderBy("t_star")
        .toPandas()
    )
    # oracle: merged-grid NOCB of sample 1-AR onto pop grid
    pg = _grid_oracle(pop)
    sg = _grid_oracle(samp, rel)
    all_t = np.array(sorted(set(pg.t) | set(sg.t)))
    lam = pd.Series(pg["lambda"].values, index=pg.t).reindex(all_t).fillna(0.0).values
    ar = pd.Series(sg.one_minus_ar.values, index=sg.t).reindex(all_t).values
    # NOCB fill + truncate after last sample time
    ar_f = pd.Series(ar).bfill().values
    keep = ~pd.isna(ar_f)
    cum = np.cumsum(lam[keep] * ar_f[keep])
    tt = all_t[keep]
    want = [float(cum[tt <= ts][-1]) if (tt <= ts).any() else 0.0 for ts in t_star]
    np.testing.assert_allclose(got.cum_hzd, want, rtol=1e-10)


def _cox_oracle(pdf, p_cols, max_iter=25, tol=1e-10):
    """Independent dense Newton for weighted Breslow Cox."""
    X = pdf[p_cols].values
    w, t, d = pdf.w.values, pdf.t.values, pdf.d.values
    beta = np.zeros(X.shape[1])
    ev_times = np.sort(pdf.loc[pdf.d == 1, "t"].unique())
    for _ in range(max_iter):
        eta = X @ beta
        we = w * np.exp(eta)
        U = np.zeros_like(beta)
        H = np.zeros((len(beta), len(beta)))
        for u in ev_times:
            at = (t == u) & (d == 1)
            risk = t >= u
            s0 = we[risk].sum()
            s1 = (we[risk, None] * X[risk]).sum(axis=0)
            s2 = X[risk].T @ (we[risk, None] * X[risk])
            Du = w[at].sum()
            U += (w[at, None] * X[at]).sum(axis=0) - Du * s1 / s0
            H += Du * (s2 / s0 - np.outer(s1 / s0, s1 / s0))
        step = np.linalg.solve(H, U)
        beta = beta + step
        if np.max(np.abs(step)) < tol:
            break
    return beta


def test_cox_fit_weighted_breslow(spark):
    pdf = _surv_data(n=500, seed=13)
    fit = cox_fit(spark.createDataFrame(pdf), ["x1", "x2"])
    # the Newton loop's AQE-off scope is closed again on return
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    want = _cox_oracle(pdf, ["x1", "x2"])
    assert fit.converged
    np.testing.assert_allclose(fit.beta, want, atol=1e-7)
    assert fit.score_norm < 1e-6
    # score check API at a non-solution point is far from zero
    assert cox_score_norm(spark.createDataFrame(pdf), ["x1", "x2"], [0.0, 0.0]) > 1.0


def test_hazard_grid_auto_routes_huge_grids(spark, monkeypatch):
    """grid_partitions='auto' (the default) keeps the window for small
    grids and switches to the two-pass cumsum — same values — once the
    distinct-time grid crosses the threshold, without the caller
    passing anything."""
    from data_integration_with_pseudoweights_and_survey_calibration_spark.functions import cumsum

    pdf = _surv_data()
    rel = np.exp(0.4 * pdf.x1.values)
    df = spark.createDataFrame(pdf.assign(rel=rel))
    base = hazard_grid(df, rel_hzd="rel", grid_partitions=None).orderBy("t").toPandas()
    # default auto, small grid -> same values (window route)
    auto_small = hazard_grid(df, rel_hzd="rel").orderBy("t").toPandas()
    for c in ["Nt", "Zt", "Yt", "lambda", "one_minus_ar"]:
        np.testing.assert_allclose(base[c], auto_small[c], rtol=0, err_msg=c)
    # lower the cutover: the same call now takes the partitioned path
    monkeypatch.setattr(cumsum, "AUTO_GRID_ROWS", 3)
    routed = hazard_grid(df, rel_hzd="rel")
    plan = routed._jdf.queryExecution().executedPlan().toString()
    auto_big = routed.orderBy("t").toPandas()
    assert "_csb" in plan, "expected the bucketed two-pass cumsum route"
    for c in ["Nt", "Zt", "Yt", "lambda", "one_minus_ar"]:
        np.testing.assert_allclose(base[c], auto_big[c], rtol=1e-12, err_msg=c)


def test_cox_grid_terms_auto_routes(spark, monkeypatch):
    """cox._grid_terms gets the same automatic huge-grid hook: the
    routed S0/S1/S2 cumsums reproduce the window values exactly, so a
    Newton step is unchanged."""
    from data_integration_with_pseudoweights_and_survey_calibration_spark.functions import cumsum
    from data_integration_with_pseudoweights_and_survey_calibration_spark.operators.cox import (
        _grid_terms,
        _score_hessian,
    )

    pdf = _surv_data()
    df = spark.createDataFrame(pdf)
    beta = np.array([0.3, -0.2])
    u0, h0, n0 = _score_hessian(_grid_terms(df, ["x1", "x2"], beta, "t", "d", "w"), 2)
    monkeypatch.setattr(cumsum, "AUTO_GRID_ROWS", 3)
    grid = _grid_terms(df, ["x1", "x2"], beta, "t", "d", "w")
    plan = grid._jdf.queryExecution().executedPlan().toString()
    assert "_csb" in plan, "expected the bucketed two-pass cumsum route"
    u1, h1, n1 = _score_hessian(grid, 2)
    np.testing.assert_allclose(u0, u1, rtol=1e-12)
    np.testing.assert_allclose(h0, h1, rtol=1e-12)
    assert n0 == pytest.approx(n1, rel=1e-12)
