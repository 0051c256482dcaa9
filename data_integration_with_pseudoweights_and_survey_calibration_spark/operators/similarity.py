"""Similarity search over embedding columns (array<float>):
brute-force cosine top-k baseline + two approximate scale paths
(random-hyperplane LSH bands, IVF coarse quantizer).

Scale story: brute force is exact and O(Q x N) -- fine when the query
set is small (broadcast) or as the verifier; the random-hyperplane LSH
path prunes N to the candidates sharing a signature band with the
query, turning the scan into an equi-join, at a measured recall cost;
the IVF path k-means-partitions the corpus into n_lists cells and
scans only the n_probe cells nearest each query -- the standard
billion-vector ANN layout (one equi-join on cell id, candidate load
~ N * n_probe / n_lists). Recall of both approximate paths is asserted
in tests/test_training_ops.py.

Exact cosine math is JVM-side higher-order functions (zip_with +
aggregate); the IVF centroid model (n_lists x dim, driver-small by
construction) is applied with Arrow-batched pandas UDFs (one numpy
matmul per batch), never row-at-a-time Python.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..session import AQE_OFF, scoped_conf


def dot_expr(a: str | Column, b: str | Column) -> Column:
    ac = F.col(a) if isinstance(a, str) else a
    bc = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ac, bc, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(v: str | Column) -> Column:
    return F.sqrt(dot_expr(v, v))


def with_norm(df: DataFrame, vec_col: str, out: str = "_norm") -> DataFrame:
    return df.withColumn(out, norm_expr(vec_col))


def cosine_expr(a: str | Column, b: str | Column, na: str | Column, nb: str | Column) -> Column:
    nac = F.col(na) if isinstance(na, str) else na
    nbc = F.col(nb) if isinstance(nb, str) else nb
    return dot_expr(a, b) / (nac * nbc)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, one window per query for the top-k cut. Deterministic
    tie-break by neighbor id. Output: (query_id, neighbor_id, cosine,
    rank)."""
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        F.col("_norm").alias("_cn"),
    )
    q = with_norm(queries, vec_col).select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.col("_norm").alias("_qn"),
    )
    pairs = c.join(F.broadcast(q), F.lit(True))
    if exclude_self:
        pairs = pairs.where(F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.withColumn("cosine", cosine_expr("_qv", "_cv", "_qn", "_cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 13) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (Box-Muller over a
    64-bit LCG -- reproducible with no RNG-library dependence)."""
    state = seed & 0x7FFFFFFFFFFFFFFF or 1
    def _u():
        nonlocal state
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        return (state + 1) / float(1 << 63)
    planes = []
    for _ in range(n_planes):
        v = []
        while len(v) < dim:
            u1, u2 = _u(), _u()
            r = math.sqrt(-2.0 * math.log(u1))
            v.append(r * math.cos(2 * math.pi * u2))
            if len(v) < dim:
                v.append(r * math.sin(2 * math.pi * u2))
        n = math.sqrt(sum(x * x for x in v))
        planes.append([x / n for x in v])
    return planes


def _signature(vec_col: str, planes: list[list[float]]) -> Column:
    """Sign-bit signature of a vector against fixed hyperplanes,
    packed into one long per signature (n_planes <= 63).

    All n_planes dot products run in ONE ``transform`` over an
    array-of-arrays plane literal (the former n_planes independent HOF
    folds made the expression tree n_planes x dim nodes and roughly
    doubled per-row cost). Each per-plane dot product stays a
    LEFT-ASSOCIATED ``aggregate`` fold over ``zip_with``, so the IEEE
    evaluation order — and therefore the bitwise oracle contract (the
    DuckDB twin inlines the same left-associated chains) — is
    unchanged; the bit-pack is an exact integer sum."""
    plane_mat = F.array(*[F.array(*[F.lit(float(x)) for x in p]) for p in planes])
    dots = F.transform(
        plane_mat,
        lambda p: F.aggregate(
            F.zip_with(F.col(vec_col), p, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    pows = F.array(*[F.lit(1 << i).cast("long") for i in range(len(planes))])
    bits = F.zip_with(
        dots, pows, lambda d, pw: F.when(d > 0, pw).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    n_planes: int = 12,
    bands: int = 4,
    seed: int = 13,
    exclude_self: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k: random-hyperplane signatures split into
    bands; a corpus row is scored only when it shares >= 1 band with
    the query (equi-join on (band, chunk)). Same output schema as
    ``brute_force_topk``; recall < 1 traded for candidate pruning.

    ``dim``: embedding width, if the caller knows it — skips the eager
    ``first()`` probe job (at scale, a scan-task launch just to read
    one row; optimization round 11, guide §1.2).
    """
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    planes = hyperplanes(dim, n_planes, seed)
    rows = n_planes // bands
    mask = (1 << rows) - 1

    def _banded(df: DataFrame, ident: str, idc: str) -> DataFrame:
        s = with_norm(df, vec_col).withColumn("_sig", _signature(vec_col, planes))
        return s.select(
            F.col(idc).alias(ident),
            F.col(vec_col).alias(f"_{ident}_v"),
            F.col("_norm").alias(f"_{ident}_n"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            (
                                F.shiftright(F.col("_sig"), b * rows) % F.lit(mask + 1)
                            ).alias("chunk"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("_bk"),
        ).select(ident, f"_{ident}_v", f"_{ident}_n", "_bk.band", "_bk.chunk")

    c = _banded(corpus, "neighbor_id", id_col)
    q = _banded(queries, "query_id", query_id_col)
    cand = c.join(F.broadcast(q), ["band", "chunk"]).dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    if exclude_self:
        cand = cand.where(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.withColumn(
        "cosine", cosine_expr("_query_id_v", "_neighbor_id_v", "_query_id_n", "_neighbor_id_n")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# --------------------------------------------------------------------------
# IVF: k-means coarse quantizer + probe search
# --------------------------------------------------------------------------


def _assign_udf(centroids: np.ndarray, n_probe: int):
    """Arrow-batched assigner: embedding batch -> the ``n_probe``
    nearest centroid ids by dot product (centroids are unit-norm, so
    max dot == max cosine). One numpy matmul per batch; the model
    matrix rides the closure (n_lists x dim -- model-sized, not
    data-sized)."""
    cen = centroids.astype(np.float64)

    @pandas_udf("array<int>")
    def assign(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in batches:
            if len(vecs) == 0:
                yield pd.Series([], dtype=object)
                continue
            m = np.stack(vecs.to_numpy())  # (b, dim)
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = 1.0
            sims = (m / norms[:, None]) @ cen.T  # (b, n_lists)
            if n_probe == 1:
                idx = np.argmax(sims, axis=1)[:, None]
            else:
                p = min(n_probe, sims.shape[1])
                idx = np.argpartition(-sims, p - 1, axis=1)[:, :p]
                # order probes best-first (stable for determinism)
                row = np.take_along_axis(sims, idx, axis=1)
                idx = np.take_along_axis(idx, np.argsort(-row, kind="stable", axis=1), axis=1)
            yield pd.Series(list(idx.astype(np.int32)))

    return assign


def kmeans_centroids(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_lists: int = 16,
    max_iter: int = 4,
    train_fraction: float | None = None,
    train_target: int = 200_000,
    seeds: np.ndarray | None = None,
) -> np.ndarray:
    """Spherical k-means coarse quantizer, fully distributed:

    - init: the ``n_lists`` rows with smallest ``md5(id)`` -- a
      deterministic pseudo-random sample, one small collect;
    - assign: Arrow-batched matmul against the broadcast-sized centroid
      matrix (``_assign_udf``);
    - update: ``posexplode`` + groupBy(cell, dim position) mean -- one
      shuffle of (n_lists x dim) partial sums per iteration, the
      canonical distributed-Lloyd shape.

    Lloyd trains on a SAMPLE, not the full table: assignment inside
    the loop is O(rows x n_lists x dim) per iteration, and a
    production quantizer picks ``n_lists ~ n / cell_size``, which
    makes full-table training quadratic in n.  ``train_fraction``
    bounds that: None (default) auto-picks
    ``min(1, train_target / n)`` (one ``count()``), a float in (0, 1]
    pins it.  The sample is a deterministic md5-threshold cut on the
    id (no ``rand()``, stable under recomputation), so the model --
    and every hash downstream of FIXED centroids -- is reproducible.
    Quantizer quality degrades only marginally: centroids are cell
    MEANS, and a 200k sample estimates k<=4096 means tightly (the
    IVF/SemDeDup recall gates in tests/ and the scale ladder hold).
    Assignment of the FULL corpus happens downstream (``ivf_index``)
    and is unaffected.  NULL vectors are excluded from training.

    Only the (n_lists, dim) model ever reaches the driver.

    ``seeds`` (optimization round 11): the raw (n_lists, dim) seed
    vectors in smallest-``md5(id)``-first order, exactly what the init
    collect would fetch — callers that train several models over the
    same corpus (e.g. a coarse quantizer AND a PQ codebook) can run
    ONE ordered seed collect and slice it, skipping this trainer's
    seed job.  Normalization still happens here, so passing the raw
    collected vectors is bit-identical to the internal path.
    """
    train = corpus.where(F.col(vec_col).isNotNull())
    if train_fraction is None:
        n = train.count()
        train_fraction = min(1.0, float(train_target) / max(n, 1))
    if train_fraction < 1.0:
        # first 15 hex chars of md5(id) as a uniform u in [0,1): keeps
        # the cut deterministic and consistent with the seed ordering
        # (lexicographic hex == numeric prefix order)
        u = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
        ).cast("double") / F.lit(float(16**15))
        train = train.where(u < F.lit(float(train_fraction)))
    if seeds is not None:
        cen = np.asarray(seeds, dtype=np.float64)[: int(n_lists)].copy()
    else:
        seed_rows = (
            train.select(
                F.col(vec_col).alias("_v"),
                F.md5(F.col(id_col).cast("string")).alias("_h"),
            )
            .orderBy("_h")
            .limit(int(n_lists))
            .collect()
        )
        cen = np.stack(
            [np.asarray(r["_v"], dtype=np.float64) for r in seed_rows]
        )
    cen /= np.maximum(np.linalg.norm(cen, axis=1)[:, None], 1e-12)

    vecs = train.select(F.col(vec_col).alias("_v")).cache()
    # Each Lloyd round is one fixed-shape grouped aggregate (AQE_OFF;
    # bit-identity asserted by tests/test_pq.py).
    try:
        with scoped_conf(corpus.sparkSession, AQE_OFF):
            for _ in range(int(max_iter)):
                assign = _assign_udf(cen, 1)
                cell = vecs.withColumn("_cell", F.element_at(assign("_v"), 1))
                sums = (
                    cell.select("_cell", F.posexplode("_v").alias("_p", "_x"))
                    .groupBy("_cell", "_p")
                    .agg(F.sum("_x").alias("_s"), F.count(F.lit(1)).alias("_n"))
                    .collect()
                )
                new = cen.copy()
                acc = np.zeros_like(cen)
                cnt = np.zeros(cen.shape[0])
                for r in sums:
                    acc[r["_cell"], r["_p"]] += r["_s"]
                    cnt[r["_cell"]] = r["_n"]
                nonempty = cnt > 0
                new[nonempty] = acc[nonempty] / cnt[nonempty, None]
                new /= np.maximum(np.linalg.norm(new, axis=1)[:, None], 1e-12)
                if np.allclose(new, cen, atol=1e-9):
                    cen = new
                    break
                cen = new
    finally:
        vecs.unpersist()
    return cen


def ivf_index(
    corpus: DataFrame,
    centroids: np.ndarray,
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the owning cell id (``_list``) to every corpus row.
    At scale this frame is written bucketed/partitioned BY ``_list`` so
    probe joins are partition-pruned scans."""
    assign = _assign_udf(centroids, 1)
    return corpus.withColumn("_list", F.element_at(assign(vec_col), 1))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    n_lists: int = 16,
    n_probe: int = 4,
    max_iter: int = 4,
    exclude_self: bool = True,
    centroids: np.ndarray | None = None,
    train_fraction: float | None = None,
) -> DataFrame:
    """Approximate cosine top-k via an IVF coarse quantizer: score a
    corpus row only when it lives in one of the ``n_probe`` cells
    nearest the query. Same output schema as ``brute_force_topk``;
    with ``n_probe == n_lists`` the scan is exhaustive and the result
    is EXACTLY the brute-force answer (used as the correctness gate).

    Candidate volume is ~ |Q| * N * n_probe / n_lists via ONE equi-join
    on cell id -- no all-pairs stage anywhere; the centroid model is
    the only driver-resident object.
    """
    cen = (
        centroids
        if centroids is not None
        else kmeans_centroids(
            corpus, vec_col=vec_col, id_col=id_col,
            n_lists=n_lists, max_iter=max_iter,
            train_fraction=train_fraction,
        )
    )
    c = ivf_index(corpus, cen, vec_col=vec_col)
    c = with_norm(c, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        F.col("_norm").alias("_cn"),
        "_list",
    )
    probe = _assign_udf(cen, n_probe)
    q = with_norm(queries, vec_col).select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.col("_norm").alias("_qn"),
        F.explode(probe(vec_col)).alias("_list"),
    )
    cand = c.join(F.broadcast(q), "_list")
    if exclude_self:
        cand = cand.where(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.withColumn("cosine", cosine_expr("_qv", "_cv", "_qn", "_cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
