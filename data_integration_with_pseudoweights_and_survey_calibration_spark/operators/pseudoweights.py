"""Sample stacking, propensity models, IPSW and KW pseudo-weights
(SURVEY §2 C1/B2, H4, I1-I5).

Reference semantics rebuilt here:

- ``psa_dat = rbind(samp.c, samp.s)`` with analysis weights ``w`` (1 for
  cohort rows, survey weight otherwise) and scaled ``w.s = wt * n_s/N``
  (``simu_fun.R:22-25``).
- IPSW: ``ipsw = exp(-p_score)/a`` for cohort rows (``simu_fun.R:48``,
  ``taylor_deviate.R:63``).
- KW kernel weighting ``krnwt`` (``simu_fun.R:168-211``): kernel-smooth
  survey weights onto cohort units through the propensity-score distance
  ``K((ps_s - ps_c)/h)``, row-normalized over the cohort, with the
  zero-match fallback (unmatched survey weight spread ``1/m`` to every
  cohort unit when ``rm_s=False``, dropped when ``True``).
- Bandwidth: Silverman ``bw.nrd0`` (``simu_fun.R:54,129-130``).

Scale design: the reference materializes the full n_s x n_c signed
-distance matrix (``outer`` at ``simu_fun.R:52``) and hand-blocks it in
100 chunks when large (``simu_fun.R:143-165``). Here scores are binned
at the kernel's numeric support width, cohort rows are replicated to
the 3 adjacent buckets, and each (bucket, salt) group is sized by
**density-aware salting** (per-bucket salt counts from exact bucket
histograms, so every task carries the same number of kernel pairs no
matter how the scores pile up). One ``applyInPandas`` pass runs over
that layout: the 3-bucket replication invariant puts every in-support
cohort row in the group, so kernel row sums, normalization, and
per-cohort column sums are all computed locally as sorted,
cache-blocked numpy windows (searchsorted band limits, fused in-place
ufuncs) -- only one small partial row per replicated cohort unit
leaves the workers.

No cross join, no skew ceiling, work linear in the number of
*numerically non-zero* kernel pairs. For the Gaussian kernel
exp(-z^2/2) underflows to exactly 0.0 in IEEE double at |z| >= ~38.6,
so a cutoff of 40 bandwidths is bit-identical to the dense
computation.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.kernels import KERNELS_NP, TRIANG_BW_SCALE
from ..session import AQE_OFF, scoped_conf

# Numeric support of the Gaussian kernel. dnorm underflows to exact
# 0.0 at |z| ~ 38.6; a pair at |z| = 8 contributes K(8)/K(0) = e^-32
# ~ 1.6e-14 RELATIVE to in-band terms -- eight orders below the 1e-6
# value gate and at double round-off of the row sums -- while the
# in-band pair load scales linearly with the support width. (Raise to
# 40 for bit-paranoid parity with a dense computation.)
GAUSSIAN_SUPPORT = 8.0
TRIANG_SUPPORT = 1.0


def stack_samples(
    cohort: DataFrame,
    survey: DataFrame,
    survey_weight: str = "wt",
    sampling_fraction: float | None = None,
    trt_col: str = "trt",
) -> DataFrame:
    """C1+B2: schema-aligned union with analysis-weight columns.

    Output columns: everything common + ``trt`` (1=cohort, 0=survey),
    ``w`` (1 for cohort, wt for survey) and -- when
    ``sampling_fraction`` given -- ``w_s = wt * a`` for survey rows.
    """
    c = cohort.withColumn(trt_col, F.lit(1))
    s = survey.withColumn(trt_col, F.lit(0))
    stacked = c.unionByName(s, allowMissingColumns=True)
    stacked = stacked.withColumn(
        "w", F.when(F.col(trt_col) == 1, F.lit(1.0)).otherwise(F.col(survey_weight))
    )
    if sampling_fraction is not None:
        stacked = stacked.withColumn(
            "w_s",
            F.when(F.col(trt_col) == 1, F.lit(1.0)).otherwise(
                F.col(survey_weight) * float(sampling_fraction)
            ),
        )
    return stacked


def ipsw_weight(p_score: Column, sampling_fraction: float = 1.0) -> Column:
    """I1: inverse-propensity-odds pseudo-weight exp(-score)/a."""
    return F.exp(-p_score) / float(sampling_fraction)


def bw_nrd0(
    df: DataFrame,
    col: str,
    *,
    approx: int | None = None,
    extra_aggs: dict[str, Column] | None = None,
):
    """I5: Silverman's rule-of-thumb bandwidth, parity with R ``bw.nrd0``:
    0.9 * min(sd, IQR/1.34) * n^(-1/5) with the lo-fallback chain.

    Default: exact percentiles (reference parity; used by the oracle
    queries).  ``approx=<accuracy>`` switches to ``approx_percentile``
    (Greenwald-Khanna sketch, one streaming pass, error ~1/accuracy):
    at 100 TB an exact percentile of a continuous column materializes a
    per-value hash aggregate, while the sketch is O(accuracy) memory;
    a 1e-4-relative IQR error moves the bandwidth by the same factor,
    far inside its own n^(-1/5) statistical slack -- use approx for
    huge cohorts, exact when value-gate parity matters.

    ``extra_aggs`` (optimization round 12, guide §1.2): extra aggregate
    expressions to ride the SAME single pass — callers that need other
    scalars of the same frame (the survey_scalars prevalence
    certificate) fold them into this job instead of paying a second
    pass over the cohort.  Returns ``(h, {name: value})`` when given.
    """
    pctl = (
        f"approx_percentile({col}, {{p}}, {int(approx)})"
        if approx
        else f"percentile({col}, {{p}})"
    )
    extras = dict(extra_aggs or {})
    row = df.agg(
        F.stddev(col).alias("sd"),
        F.expr(f"{pctl.format(p=0.75)} - {pctl.format(p=0.25)}").alias("iqr"),
        F.count(col).alias("n"),
        F.expr(f"abs({pctl.format(p=0.5)})").alias("absmed"),
        F.max(F.abs(F.col(col))).alias("absmax"),
        *[c.alias(k) for k, c in extras.items()],
    ).collect()[0]
    sd, iqr, n = float(row["sd"] or 0.0), float(row["iqr"]), int(row["n"])
    lo = min(sd, iqr / 1.34)
    if lo == 0.0:  # R's fallback chain: lo <- sd || |median| || |x[1]| || 1
        lo = sd or float(row["absmed"]) or float(row["absmax"]) or 1.0
    h = 0.9 * lo * n ** (-0.2)
    if extra_aggs is not None:
        return h, {k: row[k] for k in extras}
    return h


def _kw_block_fn(width: float, h: float, kernel: str, q: int):
    """applyInPandas worker for the block KW path.

    One (bucket, salt) group holds a slice of survey rows PLUS every
    cohort row within kernel support of them (the 3-bucket replication
    invariant), so the kernel row sum ``rs`` of each survey row is
    complete inside the group: normalization and the per-cohort column
    sums all happen here, vectorized, in one pass over the data.

    Emits ``_kind=0`` rows (per-cohort partial sums ``_kw``/``_g_j``,
    to be summed across groups) and ``_kind=1`` rows (unmatched survey
    units with their weight/score/design values).
    """
    import numpy as np
    import pandas as pd

    kfun = KERNELS_NP[kernel]
    cols = (
        ["_kind", "_sid", "_cid", "_kw", "_wt", "_ps"]
        + [f"_x_{j}" for j in range(q)]
        + [f"_g_{j}" for j in range(q)]
    )

    support = width / h

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        sv = pdf[pdf["_side"] == 0]
        ch = pdf[pdf["_side"] == 1]
        if sv.empty:
            return pd.DataFrame({c: [] for c in cols})
        # Both sides sorted by score: (a) searchsorted gives each survey
        # chunk its exact in-band cohort column window -- out-of-band
        # columns are never touched, no mask pass; (b) block buffers stay
        # cache-sized (~2 MB), so 32 concurrent workers don't fight for
        # DRAM bandwidth (the naive 16 MB-temporary blocks ran 6-10x
        # slower under full concurrency than alone).
        so = np.argsort(sv["_ps"].to_numpy(dtype=float), kind="stable")
        ps_s = sv["_ps"].to_numpy(dtype=float)[so]
        wt = sv["_wt"].to_numpy(dtype=float)[so]
        xs = [sv[f"_x_{j}"].to_numpy(dtype=float)[so] for j in range(q)]
        sid_sorted = sv["_sid"].to_numpy()[so]
        n_s = len(ps_s)
        zs = ps_s / h
        if ch.empty:
            un_mask = np.ones(n_s, dtype=bool)
            nc = 0
        else:
            co = np.argsort(ch["_ps"].to_numpy(dtype=float), kind="stable")
            ps_c = ch["_ps"].to_numpy(dtype=float)[co]
            xc = [ch[f"_x_{j}"].to_numpy(dtype=float)[co] for j in range(q)]
            cid_sorted = ch["_cid"].to_numpy()[co]
            nc = len(ps_c)
            zc = ps_c / h
            kw_p = np.zeros(nc)
            g_p = [np.zeros(nc) for _ in range(q)]
            un_mask = np.zeros(n_s, dtype=bool)
            # chunk span is tiny once sorted, so the column window is
            # ~2*support wide; size the survey step so a block holds
            # ~250k doubles
            win_est = min(
                nc,
                max(
                    1,
                    int(
                        nc
                        * (2.0 * support)
                        / max(zc[-1] - zc[0], 2.0 * support)
                    ),
                ),
            )
            step = max(1, int(250_000 // win_est))
            for i0 in range(0, n_s, step):
                i1 = min(i0 + step, n_s)
                j0 = int(np.searchsorted(zc, zs[i0] - support, "left"))
                j1 = int(np.searchsorted(zc, zs[i1 - 1] + support, "right"))
                if j0 >= j1:
                    un_mask[i0:i1] = True
                    continue
                Z = zs[i0:i1][:, None] - zc[None, j0:j1]
                if kernel in ("dnorm", "gaussian"):
                    # fused in-place: K = exp(-Z^2/2)/sqrt(2pi), zeroed
                    # outside the band
                    K = np.multiply(Z, Z)
                    K *= -0.5
                    np.exp(K, out=K)
                    K *= 0.3989422804014327
                else:
                    K = kfun(Z.copy())
                K[np.abs(Z) > support] = 0.0
                rs = K.sum(axis=1)
                ok = rs > 0.0
                un_mask[i0:i1] = ~ok
                rs_safe = np.where(ok, rs, 1.0)
                A = np.where(ok, wt[i0:i1] / rs_safe, 0.0)
                kw_p[j0:j1] += A @ K
                if q:
                    # kij = -K*dist*dx/h^2 = -(1/h) * M * (xs_j - xc_j),
                    # M = K*Z -- the separable dx factors turn every
                    # per-coefficient term into gemvs over M and K; no
                    # block-sized temporary per coefficient:
                    #   sum_s A_s kij[s,c] = -(1/h)[(A*xs_j)@M - xc_j*(A@M)]
                    #   rk_s = sum_c kij[s,c] = -(1/h)[xs_j*Mrow - M@xc_j]
                    M = K * Z
                    AM = A @ M
                    Mrow = M.sum(axis=1)
                    wf = np.where(ok, wt[i0:i1] / (rs_safe * rs_safe), 0.0)
                    for j in range(q):
                        xsj = xs[j][i0:i1]
                        xcj = xc[j][j0:j1]
                        rk = (-1.0 / h) * (xsj * Mrow - M @ xcj)
                        g_p[j][j0:j1] += (
                            (-1.0 / h) * ((A * xsj) @ M - xcj * AM)
                            - (wf * rk) @ K
                        )
        nu = int(un_mask.sum())
        nan_c = np.full(nc, np.nan)
        data = {
            "_kind": np.concatenate(
                [np.zeros(nc, np.int32), np.ones(nu, np.int32)]
            ),
            "_sid": np.concatenate(
                [
                    np.full(nc, None, dtype=object),
                    sid_sorted[un_mask].astype(object),
                ]
            ),
            "_cid": np.concatenate(
                [
                    cid_sorted.astype(object)
                    if nc
                    else np.empty(0, dtype=object),
                    np.full(nu, None, dtype=object),
                ]
            ),
            "_kw": np.concatenate([kw_p if nc else np.empty(0), np.full(nu, np.nan)]),
            "_wt": np.concatenate([nan_c, wt[un_mask]]),
            "_ps": np.concatenate([nan_c, ps_s[un_mask]]),
        }
        for j in range(q):
            data[f"_x_{j}"] = np.concatenate([nan_c, xs[j][un_mask]])
            data[f"_g_{j}"] = np.concatenate(
                [g_p[j] if nc else np.empty(0), np.full(nu, np.nan)]
            )
        return pd.DataFrame(data)

    return fn


@dataclass(frozen=True)
class KwResult:
    weights: DataFrame  # (c_id, kw [, kw_g_<j> derivative columns])
    bandwidth: float
    n_unmatched: int  # survey rows with numerically zero kernel row
    deriv_cols: tuple[str, ...] = ()


def kw_weights(
    cohort_scores: DataFrame,
    survey_scores: DataFrame,
    *,
    c_id: str = "id",
    s_id: str = "id",
    score_col: str = "p_score",
    weight_col: str = "wt",
    h: float | None = None,
    kernel: str = "dnorm",
    rm_s: bool = False,
    salt: int = 64,
    deriv_cols: Sequence[str] | None = None,
) -> KwResult:
    """I3 (+I4 with ``deriv_cols``): KW kernel pseudo-weights via
    banded bucket join.

    ``cohort_scores``: (c_id, score); ``survey_scores``: (s_id, score,
    survey weight). Returns one row per cohort unit with column ``kw``.

    kw_j = sum_i wt_i * K((s_i - c_j)/h) / sum_j' K((s_i - c_j')/h)
    [+ unmatched_wt_total / m when rm_s=False]

    With ``deriv_cols`` (design columns present on BOTH score frames),
    also computes the gamma-derivative ``pw_beta`` (``krnwt`` w_beta
    branch, ``simu_fun.R:191-205``, Gaussian kernel):

        kij_g = -K(z) * dist * (x_s - x_c) / h^2,   z = dist/h
        pw_beta[c, g] = sum_s wt_s kij[s,c,g] / rs_s
                      - sum_s wt_s (sum_c' kij[s,c',g]) k[s,c] / rs_s^2

    -- in the SAME block pass as the weights. Output columns
    ``kw_g_<name>``.
    """
    if kernel not in KERNELS_NP:
        raise ValueError(f"unknown kernel {kernel!r}")
    # The gamma-derivative pair algebra kij = -K(z)*dist*dx/h^2 is the
    # formula ``krnwt`` applies for EVERY kernel choice
    # (``simu_fun.R:196-205`` uses the same kij with whatever krnfun the
    # caller picked), so deriv_cols work for dnorm and triang alike.
    dcols = list(deriv_cols or [])
    q = len(dcols)
    c = cohort_scores.select(
        F.col(c_id).alias("_cid"),
        F.col(score_col).alias("_ps_c"),
        *[F.col(x).alias(f"_xc_{j}") for j, x in enumerate(dcols)],
    )
    s = survey_scores.select(
        F.col(s_id).alias("_sid"),
        F.col(score_col).alias("_ps_s"),
        F.col(weight_col).alias("_wt_s"),
        *[F.col(x).alias(f"_xs_{j}") for j, x in enumerate(dcols)],
    )

    # Every eager phase below -- bandwidth, histograms, the block job
    # and the unmatched count -- is a fixed-shape aggregate or an
    # explicitly repartitioned block pass (AQE_OFF).
    with scoped_conf(cohort_scores.sparkSession, AQE_OFF):
        if h is None:
            h = bw_nrd0(cohort_scores, score_col)
            if kernel == "triang":
                h = h * TRIANG_BW_SCALE
        gauss = kernel in ("dnorm", "gaussian")
        width = (GAUSSIAN_SUPPORT if gauss else TRIANG_SUPPORT) * h

        # Banded bucket equi-join: a survey row sits in bucket
        # floor(ps/width); cohort rows replicate to the 3 adjacent buckets so
        # every pair with |ps_s - ps_c| <= width meets on an equality key
        # (plain shuffle hash join -- SURVEY §4.2 "band join").
        #
        # DENSITY-AWARE SALTING: propensity scores concentrate, so per-bucket
        # pair loads are wildly skewed (one bucket can hold >3/4 of all kernel
        # pairs) and a single global salt count either under-splits the hot
        # bucket or replicates the cold ones for nothing. Two tiny histogram
        # aggs (n_c + n_s input rows) give the exact per-bucket pair load
        # load_b = ns_b * (nc_{b-1}+nc_b+nc_{b+1}); each bucket then gets its
        # own salt count ~ load_b / (total_load / n_part), so every join task
        # carries about the same number of kernel evaluations regardless of
        # where the scores pile up. Buckets with zero load drop out of the
        # join entirely (their rows cannot pair; unmatched handling below
        # still sees them through the anti-join on `s`).
        bkt_c = F.floor(F.col("_ps_c") / width).cast("long")
        bkt_s = F.floor(F.col("_ps_s") / width).cast("long")
        # ONE driver round trip for the cohort size AND both bucket
        # histograms (optimization round 11, guide §1.2/§2.4: the former
        # count() + two separate histogram collects were three serialized
        # jobs over the same two inputs; m is exactly the cohort histogram
        # total, and the union'd histogram job scans each side once).
        hist_rows = (
            c.select(F.lit(1).alias("_hside"), bkt_c.alias("b"))
            .unionByName(s.select(F.lit(0).alias("_hside"), bkt_s.alias("b")))
            .groupBy("_hside", "b")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        nc_hist = {
            int(r["b"]): int(r["n"]) for r in hist_rows if r["_hside"] == 1
        }
        ns_hist = {
            int(r["b"]): int(r["n"]) for r in hist_rows if r["_hside"] == 0
        }
        m = sum(nc_hist.values())
        loads = {
            b: ns * (nc_hist.get(b - 1, 0) + nc_hist.get(b, 0) + nc_hist.get(b + 1, 0))
            for b, ns in ns_hist.items()
        }
        total_load = sum(loads.values())
        # Partition count tracks the cluster width AND the measured pair
        # load (~25M kernel evals ~= 0.5 s of vectorized work per task), so
        # the same code sizes itself from local[32] to a 1000-executor
        # cluster instead of pinning a magic constant.
        spark = cohort_scores.sparkSession
        n_part = max(
            2 * spark.sparkContext.defaultParallelism,
            min(4096, int(total_load // 25_000_000) + 1),
        )
        target = max(1.0, float(total_load) / n_part)
        max_salt = max(1, int(salt))
        salt_rows = [
            (b, min(max_salt, int(-(-load // target))))
            for b, load in loads.items()
            if load > 0
        ]
        salt_tbl = F.broadcast(
            spark.createDataFrame(salt_rows or [(0, 1)], "_bkt long, _nsalt int")
        )
        s_b = (
            s.withColumn("_bkt", bkt_s)
            .join(salt_tbl, "_bkt")
            .withColumn("_salt", F.pmod(F.hash("_sid"), F.col("_nsalt")))
            .drop("_nsalt")
        )
        c_b = (
            c.withColumn("_bkt", F.explode(F.array(bkt_c - 1, bkt_c, bkt_c + 1)))
            .join(salt_tbl, "_bkt")
            .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.col("_nsalt") - 1)))
            .drop("_nsalt")
        )

        # The 3-bucket replication invariant means each (bucket, salt)
        # group already holds every cohort row within kernel support of
        # its survey slice, so the whole computation -- kernel block, row
        # sums, normalization, per-cohort column sums -- runs vectorized
        # in numpy inside ONE applyInPandas pass; only tiny partial rows
        # (one per replicated cohort row) leave the workers.
        cid_t = dict(cohort_scores.dtypes)[c_id]
        sid_t = dict(survey_scores.dtypes)[s_id]
        s_u = s_b.select(
            "_bkt", "_salt", F.lit(0).alias("_side"),
            F.col("_sid"), F.lit(None).cast(cid_t).alias("_cid"),
            F.col("_ps_s").alias("_ps"), F.col("_wt_s").alias("_wt"),
            *[F.col(f"_xs_{j}").alias(f"_x_{j}") for j in range(q)],
        )
        c_u = c_b.select(
            "_bkt", "_salt", F.lit(1).alias("_side"),
            F.lit(None).cast(sid_t).alias("_sid"), F.col("_cid"),
            F.col("_ps_c").alias("_ps"), F.lit(0.0).alias("_wt"),
            *[F.col(f"_xc_{j}").alias(f"_x_{j}") for j in range(q)],
        )
        # user-specified repartition on the group key satisfies
        # applyInPandas' required distribution (no second shuffle) and is
        # exempt from AQE coalescing
        units = s_u.unionByName(c_u).repartition(n_part, "_bkt", "_salt")
        out_schema = (
            f"_kind int, _sid {sid_t}, _cid {cid_t}, _kw double, "
            "_wt double, _ps double"
            + "".join(f", _x_{j} double" for j in range(q))
            + "".join(f", _g_{j} double" for j in range(q))
        )
        out_raw = units.groupBy("_bkt", "_salt").applyInPandas(
            _kw_block_fn(float(width), float(h), kernel, q), schema=out_schema
        ).cache()
        kw = (
            out_raw.where(F.col("_kind") == 0)
            .groupBy("_cid")
            .agg(
                F.sum("_kw").alias("kw"),
                *[F.sum(f"_g_{j}").alias(f"_kwg_{j}") for j in range(q)],
            )
            .cache()
        )
        # Zero-match survey rows: emitted by the worker (kernel row all
        # zero) plus rows whose bucket had no cohort in band at all
        # (dropped before the group stage by the salt-table inner join).
        unmatched = (
            out_raw.where(F.col("_kind") == 1)
            .select(
                "_sid",
                F.col("_ps").alias("_ps_s"),
                F.col("_wt").alias("_wt_s"),
                *[F.col(f"_x_{j}").alias(f"_xs_{j}") for j in range(q)],
            )
            .unionByName(
                s.withColumn("_bkt", bkt_s)
                .join(salt_tbl, "_bkt", "left_anti")
                .select("_sid", "_ps_s", "_wt_s",
                        *[f"_xs_{j}" for j in range(q)])
            )
            .cache()
        )
        # Run the unmatched aggregate and the kw-cache materialization
        # CONCURRENTLY (optimization round 11, guide §2.6): both consume
        # the `out_raw` cache — whichever job reaches a partition first
        # computes it, the other blocks on the block-manager lock and
        # reads the cached result — so the block computation still runs
        # once, and the second job's scheduling latency overlaps the
        # first instead of serializing behind it.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1) as _pool:
            _kw_fut = _pool.submit(kw.count)
            urow = unmatched.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("_wt_s"), F.lit(0.0)).alias("tot"),
            ).collect()[0]
            _kw_fut.result()
        n_unmatched, unmatched_tot = int(urow["n"]), float(urow["tot"])
        # The per-cohort aggregate (n_c rows) and unmatched rows are now
        # materialized; drop the bulky per-group partial cache so repeated
        # KW fits don't accumulate storage.
        out_raw.unpersist()

    out = c.join(kw, "_cid", "left").select(
        "_cid",
        *[F.col(f"_xc_{j}") for j in range(len(dcols))],
        F.col("_ps_c"),
        (F.coalesce(F.col("kw"), F.lit(0.0))
         + F.lit(0.0 if rm_s or n_unmatched == 0 else unmatched_tot / m)).alias("kw"),
        *[
            F.coalesce(F.col(f"_kwg_{j}"), F.lit(0.0)).alias(f"_kwg_{j}")
            for j in range(len(dcols))
        ],
    )
    if dcols and n_unmatched > 0 and not rm_s:
        # Fallback rows (reference: krn_num row := 1/m, row sum := 1,
        # ``simu_fun.R:180-183``): their derivative contribution uses
        # kij = -(1/m) * dist * dx / h^2 over EVERY cohort unit --
        # exact via a cross join of the (rare) unmatched survey rows.
        um = unmatched.select(
            "_sid", "_ps_s", "_wt_s",
            *[F.col(f"_xs_{j}") for j in range(len(dcols))],
        )
        pairs_u = um.crossJoin(F.broadcast(c))
        dist = F.col("_ps_s") - F.col("_ps_c")
        for j in range(len(dcols)):
            pairs_u = pairs_u.withColumn(
                f"_kij_{j}",
                -F.lit(1.0 / m) * dist
                * (F.col(f"_xs_{j}") - F.col(f"_xc_{j}")) / float(h * h),
            )
        rk_u = pairs_u.groupBy("_sid", "_wt_s").agg(
            *[F.sum(f"_kij_{j}").alias(f"_rk_{j}") for j in range(len(dcols))]
        )
        extra = (
            pairs_u.join(F.broadcast(rk_u), ["_sid", "_wt_s"])
            .groupBy("_cid")
            .agg(
                *[
                    F.sum(
                        F.col("_wt_s") * F.col(f"_kij_{j}")
                        - F.col("_wt_s") * F.col(f"_rk_{j}") * F.lit(1.0 / m)
                    ).alias(f"_ex_{j}")
                    for j in range(len(dcols))
                ]
            )
        )
        out = out.join(F.broadcast(extra), "_cid", "left")
        for j in range(len(dcols)):
            out = out.withColumn(
                f"_kwg_{j}",
                F.col(f"_kwg_{j}") + F.coalesce(F.col(f"_ex_{j}"), F.lit(0.0)),
            ).drop(f"_ex_{j}")
    deriv_names = tuple(f"kw_g_{x}" for x in dcols)
    final = out.select(
        F.col("_cid").alias(c_id),
        F.col("kw"),
        *[F.col(f"_kwg_{j}").alias(deriv_names[j]) for j in range(len(dcols))],
    )
    return KwResult(
        weights=final,
        bandwidth=float(h),
        n_unmatched=n_unmatched,
        deriv_cols=deriv_names,
    )
