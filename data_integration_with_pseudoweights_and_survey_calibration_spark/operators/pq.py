"""IVF-PQ: product-quantized approximate nearest neighbour over
embedding columns -- the canonical billion-vector memory layout
(Jegou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", TPAMI 2011; the FAISS ``IVFx,PQy`` index family).

Why it exists next to ``operators/similarity.py``'s IVF: IVF prunes the
CANDIDATE COUNT (scan only ``n_probe`` cells) but still stores and
scans full float vectors -- at 100 TB the embedding column itself is
the bottleneck (1B x 768 x 4 B = 3 TB of vectors).  PQ replaces each
vector with ``m`` one-byte codes (argmin sub-quantizer cells), shrinking
the scanned index to ``m`` bytes/row -- 32x smaller at dim=64/m=8 --
and scores candidates with Asymmetric Distance Computation (ADC): one
``m x ksub`` lookup table per query, approximate cosine = sum of ``m``
table entries.  Exact re-ranking of the ADC top-``rerank`` then touches
original vectors for only |Q| x rerank rows.

Scale story per stage:
- codebook training: distributed Lloyd per subspace on the SAME
  deterministic md5-threshold sample as ``kmeans_centroids`` (driver
  state = the ``m x ksub x dsub`` model only);
- encode: Arrow-batched numpy argmin, map-only, output is a BINARY
  column of ``m`` bytes;
- scan: ONE equi-join on the coarse cell id (no all-pairs stage),
  ADC scoring via an Arrow UDF whose closure carries the query LUTs
  (|Q| x m x ksub doubles -- model-sized, queries are the broadcast
  side by contract, as in ``brute_force_topk``);
- re-rank: top-``rerank`` ADC hits per query join back to the original
  vectors (broadcast -- |Q| x rerank rows) and are re-scored with the
  SAME left-associated ``cosine_expr`` fold as ``brute_force_topk``,
  so with ``n_probe == n_lists`` and ``rerank=None`` the output is
  EXACTLY the brute-force answer (the driver-row correctness gate).

Variant note (round 8): the IVF path is residual-encoded IVFADC by
default -- the FAISS-standard refinement where PQ quantizes the
residual ``x_hat - c(x)`` against per-subspace codebooks TRAINED on
residuals, and ADC scores ``q_hat . x_hat ~= q_hat . c_list +
sum_s lut[s, code_s]`` (the coarse term is one (|Q| x n_lists) table
gather).  Residuals are far more concentrated than raw vectors, so
the same ``m`` bytes buy materially better ADC ranking at identical
(n_probe, rerank); the plan shape is unchanged (same codes column,
same ``_list`` equi-join), and the exactness gates do not depend on
it (ADC only selects, never reports).  ``residual=False`` restores
the raw-vector encoding; the SDC SemDeDup prefilter keeps raw codes
(SDC needs both sides in ONE codebook space, independent of cell).

Reference parity: the reference repo (R) has no ANN surface at all --
this module is part of the training-data-pipeline extension mandated
by the build brief, same family as similarity.py / dedup.py.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..session import AQE_OFF, scoped_conf
from .similarity import (
    _assign_udf,
    cosine_expr,
    kmeans_centroids,
    with_norm,
)

__all__ = [
    "pq_codebooks",
    "pq_encode",
    "adc_topk",
    "ivfpq_index",
    "ivfpq_topk",
    "sdc_table",
    "sdc_cosine_udf",
]


class PQCodebooks(np.ndarray):
    """``(m, ksub, dsub)`` codebook tensor with the training MODE
    stamped on it: ``residual=True`` means the codewords quantize
    IVFADC residuals (trained via ``pq_codebooks(centroids=...)``),
    ``False`` means raw normalized vectors.  The query/index builders
    check the stamp against their ``residual`` flag and REFUSE a
    mismatch — encoding raw-trained codebooks in residual mode (or
    vice versa) raises no numeric error but silently degrades ADC
    ranking, the worst failure shape.  Plain ``np.ndarray`` codebooks
    (user-built) skip the check.

    The stamp survives every ndarray lifecycle path: ``.copy()``,
    slicing and ufunc views propagate it via ``__array_finalize__``;
    pickle round-trips (persisting codebooks to disk) carry it through
    ``__reduce__``/``__setstate__``.  The class default is ``None``
    (UNKNOWN), not ``False``: if some exotic path still drops the
    attribute, the mode check is SKIPPED rather than misreporting a
    residual-trained codebook as raw-trained — a lost stamp degrades
    to the plain-ndarray behaviour instead of steering the caller into
    the exact mismatch the stamp exists to prevent."""

    residual: bool | None = None

    def __array_finalize__(self, obj) -> None:
        if obj is None:  # explicit __new__ — _stamp() sets it next
            return
        self.residual = getattr(obj, "residual", None)

    def __reduce__(self):
        reconstruct, args, state = super().__reduce__()
        return (reconstruct, args, state + (self.residual,))

    def __setstate__(self, state):
        self.residual = state[-1]
        super().__setstate__(state[:-1])


def _stamp(cb: np.ndarray, residual: bool) -> "PQCodebooks":
    out = cb.view(PQCodebooks)
    out.residual = bool(residual)
    return out


def _check_codebook_mode(codebooks, residual: bool, fn: str) -> None:
    got = getattr(codebooks, "residual", None)
    if got is not None and got != residual:
        trained = "on residuals" if got else "on raw vectors"
        raise ValueError(
            f"{fn}: codebooks were trained {trained} but residual="
            f"{residual}; pass residual={got}, or retrain with "
            f"pq_codebooks({'centroids=...' if residual else ''}) to "
            "match the requested mode"
        )


def _normalize_rows(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return mat / norms[:, None]


def _encode_mats(codebooks: np.ndarray):
    """Dense encode operands shared by the raw and residual encoders:
    the block-diagonal codeword matrix and the flat ``||c||^2`` row.

    The ``m`` per-subspace dot-product stacks are ONE dense
    block-diagonal GEMM ``(b, dim) @ (dim, m*ksub)``: a batched
    ``einsum('bmd,mkd->bmk')`` contracts over only ``dsub`` (4-8)
    elements, a shape BLAS runs at under 1 GFLOPS -- the dense GEMM
    spends 4x the FLOPs to go ~20x faster (measured in the --pq
    ladder).  The zero blocks add exact 0.0 terms, so scores differ
    from the per-subspace formulation only by float summation order."""
    cb = codebooks.astype(np.float64)  # (m, ksub, dsub)
    m, ksub, dsub = cb.shape
    dim = m * dsub
    # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; argmin over c drops ||x||^2
    cb_sq_flat = (cb**2).sum(axis=2).reshape(-1)  # (m*ksub,)
    blockdiag = np.zeros((dim, m * ksub))
    for s in range(m):
        blockdiag[s * dsub : (s + 1) * dsub, s * ksub : (s + 1) * ksub] = cb[
            s
        ].T
    return m, ksub, blockdiag, cb_sq_flat


def _encode_mat(
    mat: np.ndarray, m: int, ksub: int, blockdiag: np.ndarray, cb_sq_flat: np.ndarray
) -> np.ndarray:
    """(b, dim) float64 -> (b, m) uint8 argmin codes.  The score pass
    is in-place (one (b, m*ksub) buffer)."""
    scores = mat @ blockdiag  # (b, m*ksub) dots, zero blocks exact
    scores *= -2.0
    scores += cb_sq_flat[None, :]
    return (
        scores.reshape(-1, ksub).argmin(axis=1).astype(np.uint8)
    ).reshape(len(mat), m)


def _codes_udf(codebooks: np.ndarray, as_binary: bool, normalize: bool = True):
    """Arrow-batched PQ encoder: embedding batch -> ``m`` sub-quantizer
    cell ids (argmin L2 per subspace, over the L2-NORMALIZED vector so
    ADC approximates cosine; ``normalize=False`` for inputs that are
    already in quantizer space, e.g. residuals).  NULL embeddings map
    to NULL codes (nulls never pair, same contract as the dedup
    family)."""
    m, ksub, blockdiag, cb_sq_flat = _encode_mats(codebooks)

    def _encode_block(vecs: pd.Series) -> list:
        mask = vecs.notna().to_numpy()
        out: list = [None] * len(vecs)
        if not mask.any():
            return out
        mat = np.stack(vecs[mask].to_numpy()).astype(np.float64)  # (b, dim)
        if normalize:
            mat = _normalize_rows(mat)
        codes = _encode_mat(mat, m, ksub, blockdiag, cb_sq_flat)
        vals = (
            [r.tobytes() for r in codes]
            if as_binary
            else [r.astype(np.int32) for r in codes]
        )
        j = 0
        for i, ok in enumerate(mask):
            if ok:
                out[i] = vals[j]
                j += 1
        return out

    ret_type = "binary" if as_binary else "array<int>"

    @pandas_udf(ret_type)
    def encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in batches:
            yield pd.Series(_encode_block(vecs), dtype=object)

    return encode


def _residual_udf(centroids: np.ndarray):
    """Arrow-batched residual extractor: embedding batch -> the IVFADC
    quantizer-space vector ``x_hat - c(x)`` (normalized vector minus
    its nearest coarse centroid by dot product -- centroids are
    unit-norm from ``kmeans_centroids``).  NULL in -> NULL out."""
    cen = centroids.astype(np.float64)

    @pandas_udf("array<double>")
    def resid(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in batches:
            mask = vecs.notna().to_numpy()
            out: list = [None] * len(vecs)
            if mask.any():
                mat = _normalize_rows(
                    np.stack(vecs[mask].to_numpy()).astype(np.float64)
                )
                assign = np.argmax(mat @ cen.T, axis=1)
                res = mat - cen[assign]
                j = 0
                for i, ok in enumerate(mask):
                    if ok:
                        out[i] = res[j]
                        j += 1
            yield pd.Series(out, dtype=object)

    return resid


def _residual_codes_udf(centroids: np.ndarray, codebooks: np.ndarray):
    """Combined IVFADC assign + encode: one Arrow pass that normalizes
    the vector, picks the nearest coarse centroid (``_list``), and
    PQ-encodes the residual against the residual-trained codebooks
    (``_pq``) -- one normalization and one centroid GEMM instead of
    the two separate UDF passes the raw path pays."""
    cen = centroids.astype(np.float64)
    m, ksub, blockdiag, cb_sq_flat = _encode_mats(codebooks)

    @pandas_udf("_list int, _pq binary")
    def enc(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for vecs in batches:
            mask = vecs.notna().to_numpy()
            lists: list = [None] * len(vecs)
            codes: list = [None] * len(vecs)
            if mask.any():
                mat = _normalize_rows(
                    np.stack(vecs[mask].to_numpy()).astype(np.float64)
                )
                assign = np.argmax(mat @ cen.T, axis=1)
                cmat = _encode_mat(
                    mat - cen[assign], m, ksub, blockdiag, cb_sq_flat
                )
                j = 0
                for i, ok in enumerate(mask):
                    if ok:
                        lists[i] = int(assign[j])
                        codes[i] = cmat[j].tobytes()
                        j += 1
            yield pd.DataFrame({"_list": pd.Series(lists, dtype=object),
                                "_pq": pd.Series(codes, dtype=object)})

    return enc


def pq_codebooks(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 16,
    max_iter: int = 6,
    train_fraction: float | None = None,
    train_target: int = 200_000,
    centroids: np.ndarray | None = None,
    seeds: np.ndarray | None = None,
) -> np.ndarray:
    """Train the ``m`` per-subspace codebooks, fully distributed.
    Returns ``(m, ksub, dsub)`` float64 -- the only driver-resident
    object.

    ``centroids`` (round 8, IVFADC): when the coarse quantizer's
    centroid matrix is passed, training runs on the RESIDUALS
    ``x_hat - c(x)`` instead of the normalized vectors -- the
    FAISS-standard refinement; residuals are much more concentrated
    than raw vectors, so the same ``(m, ksub)`` budget quantizes them
    far more accurately.  Residuals are NOT re-normalized (they live
    in quantizer space, not on the sphere).

    Same training discipline as ``similarity.kmeans_centroids``:

    - sample: deterministic md5-threshold cut to ~``train_target`` rows
      (auto) so training cost is bounded regardless of corpus size;
    - init: the ``ksub`` rows with smallest ``md5(id)``, split into
      subvectors (every subspace seeds from the same rows);
    - assign: Arrow-batched argmin (``_codes_udf``);
    - update: ``posexplode`` of the normalized vector + groupBy
      (dim position, owning code) mean -- the shuffled partial-sum
      volume is ``ksub x dim`` rows per iteration, model-sized.

    Vectors are L2-normalized before quantization (the similarity
    metric everywhere in this repo is cosine); NULL vectors are
    excluded.  ``ksub`` must be <= 256 (codes are bytes) and ``dim``
    must be divisible by ``m``.

    ``seeds`` (optimization round 11): the raw (ksub, dim) seed
    vectors in smallest-``md5(id)``-first order — exactly what the
    init collect would fetch.  A caller training BOTH the coarse
    quantizer and this codebook over the same corpus can run one
    ordered seed collect and share it (``similarity.kmeans_centroids``
    takes the same parameter); normalization/residualization still
    happen here, so the model is bit-identical to the internal path.
    """
    if not 1 <= ksub <= 256:
        raise ValueError(f"pq_codebooks: ksub must be in [1, 256], got {ksub}")
    train = corpus.where(F.col(vec_col).isNotNull())
    if train_fraction is None:
        n = train.count()
        train_fraction = min(1.0, float(train_target) / max(n, 1))
    if train_fraction < 1.0:
        u = F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
        ).cast("double") / F.lit(float(16**15))
        train = train.where(u < F.lit(float(train_fraction)))

    if seeds is not None:
        seeds = np.asarray(seeds, dtype=np.float64)[: int(ksub)]
    else:
        seed_rows = (
            train.select(
                F.col(vec_col).alias("_v"),
                F.md5(F.col(id_col).cast("string")).alias("_h"),
            )
            .orderBy("_h")
            .limit(int(ksub))
            .collect()
        )
        if not seed_rows:
            raise ValueError("pq_codebooks: no non-null training vectors")
        seeds = np.stack(
            [np.asarray(r["_v"], dtype=np.float64) for r in seed_rows]
        )
    seeds = _normalize_rows(seeds)
    if centroids is not None:
        cen = centroids.astype(np.float64)
        seeds = seeds - cen[np.argmax(seeds @ cen.T, axis=1)]
    dim = seeds.shape[1]
    if dim % m != 0:
        raise ValueError(f"pq_codebooks: dim {dim} not divisible by m={m}")
    dsub = dim // m
    k_eff = seeds.shape[0]  # < ksub only on degenerate tiny inputs
    cb = np.zeros((m, k_eff, dsub))
    for s in range(m):
        cb[s] = seeds[:, s * dsub : (s + 1) * dsub]

    # training-space vector, computed ONCE in one Arrow pass and
    # cached: normalized embedding (raw mode) or x_hat - c(x)
    # (residual mode).  Pre-transforming matters: the old raw-mode
    # recipe re-derived the norm with a HOF aggregate in the same
    # projection as the posexplode, which Catalyst evaluates per
    # EXPLODED row — O(dim^2) work per vector per Lloyd pass (measured
    # 42.9s -> 4.9s at a 200k/dim-32 rung when pre-transformed).
    if centroids is not None:
        xform = _residual_udf(centroids)
    else:
        @pandas_udf("array<double>")
        def xform(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            for vecs_b in batches:
                mask = vecs_b.notna().to_numpy()
                out: list = [None] * len(vecs_b)
                if mask.any():
                    mat = _normalize_rows(
                        np.stack(vecs_b[mask].to_numpy()).astype(np.float64)
                    )
                    j = 0
                    for i, ok in enumerate(mask):
                        if ok:
                            out[i] = mat[j]
                            j += 1
                yield pd.Series(out, dtype=object)

    vecs = train.select(xform(F.col(vec_col)).alias("_v")).cache()
    # AQE_OFF for the Lloyd rounds: one stage-job per round instead of
    # 2-3 (bit-identity asserted by tests/test_pq.py).
    try:
        with scoped_conf(corpus.sparkSession, AQE_OFF):
            for _ in range(int(max_iter)):
                # vectors are already in quantizer space
                encode = _codes_udf(cb, as_binary=False, normalize=False)
                coded = vecs.withColumn("_codes", encode("_v"))
                # training-space component values, keyed by (position, code
                # of the subspace that owns the position)
                sums = (
                    coded.select(
                        F.posexplode(F.col("_v")).alias("_p", "_x"),
                        F.col("_x").cast("double").alias("_xn"),
                        F.col("_codes"),
                    )
                    .select(
                        "_p",
                        "_xn",
                        F.element_at(
                            "_codes", (F.col("_p") / F.lit(dsub)).cast("int") + 1
                        ).alias("_code"),
                    )
                    .groupBy("_p", "_code")
                    .agg(F.sum("_xn").alias("_s"), F.count(F.lit(1)).alias("_n"))
                    .collect()
                )
                new = cb.copy()
                acc = np.zeros((m, k_eff, dsub))
                cnt = np.zeros((m, k_eff))
                for r in sums:
                    s, d = divmod(int(r["_p"]), dsub)
                    acc[s, r["_code"], d] += r["_s"]
                    cnt[s, r["_code"]] = r["_n"]
                nonempty = cnt > 0
                new[nonempty] = acc[nonempty] / cnt[nonempty][:, None]
                if np.allclose(new, cb, atol=1e-9):
                    cb = new
                    break
                cb = new
    finally:
        vecs.unpersist()
    return _stamp(cb, centroids is not None)


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    *,
    vec_col: str = "embedding",
    out_col: str = "_pq",
) -> DataFrame:
    """Attach the ``m``-byte PQ code (BinaryType) to every row.  At
    scale the (id, cell, code) projection of this frame IS the stored
    index -- ``m`` bytes of payload per row instead of ``4 x dim``
    (32x smaller at dim=64/m=8); originals are fetched only for the
    re-rank tail."""
    return df.withColumn(out_col, _codes_udf(codebooks, as_binary=True)(vec_col))


def _adc_udf(codebooks: np.ndarray, luts: dict, qdotc: dict | None = None):
    """Arrow-batched ADC scorer: (pq code bytes, query id[, coarse
    cell id]) -> the approximate cosine.  ``luts`` maps query id ->
    ``(m, ksub)`` float64 table (normalized-query x codeword dot
    products); it rides the closure, |Q| x m x ksub doubles.

    Raw mode (``qdotc=None``): score = ``sum_s lut[qid][s, code_s]``.
    Residual mode (IVFADC): the code quantizes ``x_hat - c_list``, so
    score = ``qdotc[qid][list] + sum_s lut[qid][s, code_s]`` where
    ``qdotc`` maps query id -> the (n_lists,) table of
    normalized-query x coarse-centroid dots (|Q| x n_lists doubles,
    also closure-sized).  Scoring is one fancy-index gather + row sum
    per unique query in the batch -- no per-row Python."""
    m = codebooks.shape[0]

    @pandas_udf("double")
    def score(
        batches: Iterator[tuple[pd.Series, ...]],
    ) -> Iterator[pd.Series]:
        cols = np.arange(m)
        for batch in batches:
            codes, qids = batch[0], batch[1]
            if len(codes) == 0:
                yield pd.Series([], dtype="float64")
                continue
            code_mat = np.frombuffer(
                b"".join(codes.to_numpy()), dtype=np.uint8
            ).reshape(len(codes), m)
            out = np.empty(len(codes), dtype=np.float64)
            qarr = qids.to_numpy()
            lists = batch[2].to_numpy() if qdotc is not None else None
            for qid in pd.unique(qids):
                sel = qarr == qid
                out[sel] = luts[qid][cols, code_mat[sel]].sum(axis=1)
                if qdotc is not None:
                    out[sel] += qdotc[qid][lists[sel].astype(np.int64)]
            yield pd.Series(out)

    return score


def _query_luts(
    queries: DataFrame,
    codebooks: np.ndarray,
    id_col: str,
    vec_col: str,
    centroids: np.ndarray | None = None,
) -> tuple[dict, dict | None]:
    """One ``(m, ksub)`` dot-product table per query row, plus (when
    ``centroids`` is given, residual/IVFADC mode) one ``(n_lists,)``
    coarse-dot table per query.  The query set is the broadcast-small
    side by contract (same as ``brute_force_topk``), so this collect
    is |Q| x dim."""
    m, ksub, dsub = codebooks.shape
    rows = (
        queries.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("_i"), F.col(vec_col).alias("_v"))
        .collect()
    )
    luts = {}
    qdotc: dict | None = {} if centroids is not None else None
    for r in rows:
        q = np.asarray(r["_v"], dtype=np.float64)
        nq = np.linalg.norm(q)
        q = q / (nq if nq else 1.0)
        sub = q.reshape(m, dsub)  # (m, dsub)
        luts[r["_i"]] = np.einsum("md,mkd->mk", sub, codebooks, optimize=True)
        if qdotc is not None:
            qdotc[r["_i"]] = centroids.astype(np.float64) @ q
    return luts, qdotc


def sdc_table(codebooks: np.ndarray) -> np.ndarray:
    """Symmetric Distance Computation table: ``T[s, i, j]`` = dot of
    codewords i and j of subspace s, so the quantized cosine of two
    NORMALIZED-then-encoded vectors is ``sum_s T[s, code_a[s],
    code_b[s]]`` -- ``m`` lookups per pair instead of a ``dim``-long
    fold.  Size ``m x ksub^2`` doubles (4 MB at m=8/ksub=256):
    broadcast-model-sized, rides a UDF closure."""
    cb = codebooks.astype(np.float64)
    return np.einsum("mid,mjd->mij", cb, cb)


def sdc_cosine_udf(codebooks: np.ndarray):
    """Arrow-batched pair scorer: (code_a bytes, code_b bytes) -> the
    NORMALIZED quantized cosine ``a_hat.b_hat / (|a_hat| |b_hat|)``,
    every term a gather from the same SDC table (``|a_hat|^2 =
    sum_s T[s, c, c]``).  Normalization matters: the raw reconstruction
    dot is biased LOW for unit-norm inputs (codeword averaging shrinks
    ``|a_hat|`` well below 1 at small ksub), which would push true
    near-dup pairs under any sane threshold; the normalized estimate
    is exactly 1.0 for identical codes regardless of quantizer
    coarseness.  Three fancy-index gathers per batch, no per-row
    Python."""
    table = sdc_table(codebooks)
    m = codebooks.shape[0]

    @pandas_udf("double")
    def score(
        batches: Iterator[tuple[pd.Series, pd.Series]],
    ) -> Iterator[pd.Series]:
        cols = np.arange(m)
        for ca, cb_ in batches:
            if len(ca) == 0:
                yield pd.Series([], dtype="float64")
                continue
            a = np.frombuffer(b"".join(ca.to_numpy()), dtype=np.uint8).reshape(
                len(ca), m
            )
            b = np.frombuffer(
                b"".join(cb_.to_numpy()), dtype=np.uint8
            ).reshape(len(cb_), m)
            num = table[cols, a, b].sum(axis=1)
            na = np.sqrt(table[cols, a, a].sum(axis=1))
            nb = np.sqrt(table[cols, b, b].sum(axis=1))
            den = na * nb
            den[den == 0] = 1.0
            yield pd.Series(num / den)

    return score


def adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    codebooks: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    exclude_self: bool = True,
) -> DataFrame:
    """Pure-ADC top-k (no coarse quantizer, no re-rank): every corpus
    row is scored from its ``m``-byte code alone.  Output
    (query_id, neighbor_id, adc_score, rank); ``adc_score`` is the
    quantized cosine approximation.  Used directly by the golden NumPy
    mirror test; production callers want ``ivfpq_topk``."""
    coded = pq_encode(
        corpus.where(F.col(vec_col).isNotNull()), codebooks, vec_col=vec_col
    ).select(F.col(id_col).alias("neighbor_id"), "_pq")
    luts, _ = _query_luts(queries, codebooks, query_id_col, vec_col)
    scorer = _adc_udf(codebooks, luts)
    qids = F.array(*[F.lit(i) for i in luts])
    cand = coded.select(
        "neighbor_id", "_pq", F.explode(qids).alias("query_id")
    )
    if exclude_self:
        cand = cand.where(F.col("neighbor_id") != F.col("query_id"))
    scored = cand.withColumn("adc_score", scorer("_pq", "query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "adc_score", "rank")
    )


def ivfpq_index(
    corpus: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = True,
) -> DataFrame:
    """The stored IVF-PQ index: (id, coarse cell ``_list``, ``m``-byte
    code ``_pq``) for every non-null-vector row.  Build ONCE, persist
    (at scale: write partitioned/bucketed by ``_list`` so probe joins
    are partition-pruned scans), and hand to ``ivfpq_topk(index=...)``
    -- the query path then never touches full vectors except for the
    |Q| x rerank re-rank fetch.

    ``residual=True`` (default, IVFADC): the code quantizes
    ``x_hat - c_list`` with residual-trained ``codebooks``
    (``pq_codebooks(centroids=...)``); assign + encode run in ONE
    Arrow pass.  ``residual=False``: raw normalized-vector codes (two
    Arrow passes, codebooks trained without centroids).  Queries must
    use the matching mode -- ``ivfpq_topk`` threads one flag through
    both sides."""
    _check_codebook_mode(codebooks, residual, "ivfpq_index")
    nn = corpus.where(F.col(vec_col).isNotNull())
    if residual:
        enc = _residual_codes_udf(centroids, codebooks)
        return nn.select(
            F.col(id_col).alias("neighbor_id"), enc(vec_col).alias("_e")
        ).select("neighbor_id", "_e._list", "_e._pq")
    assign1 = _assign_udf(centroids, 1)
    return pq_encode(nn, codebooks, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.element_at(assign1(vec_col), 1).alias("_list"),
        "_pq",
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    rerank: int | None = 32,
    max_iter: int = 4,
    exclude_self: bool = True,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
    index: DataFrame | None = None,
    train_fraction: float | None = None,
    residual: bool = True,
    codebook_seeds: np.ndarray | None = None,
) -> DataFrame:
    """IVF-PQ cosine top-k: probe the ``n_probe`` nearest coarse cells,
    score candidates by ADC over ``m``-byte codes, exact-cosine re-rank
    the ADC top-``rerank`` per query.  Output schema matches
    ``brute_force_topk`` (query_id, neighbor_id, cosine, rank) and the
    re-rank reuses its ``cosine_expr`` fold, so:

    - every emitted cosine is EXACT (ADC only selects, never reports);
    - with ``n_probe == n_lists`` and ``rerank=None`` (re-rank every
      candidate) the result is EXACTLY brute force -- the driver-row
      gate (the `pq` branch of `ivf_topk` in ``__spark_entry__``),
      which certifies coarse assignment, codebook training, binary
      encode, LUT build, ADC gather and the re-rank join end to end.

    ``residual=True`` (default, round 8): IVFADC -- codebooks train
    on and codes quantize the residual ``x_hat - c_list``; ADC adds
    the per-(query, cell) coarse dot ``q_hat . c_list`` from a
    closure-sized (|Q| x n_lists) table.  Materially better ADC
    ranking at identical (n_probe, rerank); same plan shape, and
    exactness gates are encoding-invariant (ADC only selects).
    Caller-provided ``codebooks``/``index`` must match the flag
    (residual codebooks come from ``pq_codebooks(centroids=...)``).

    Plan shape: candidates come from ONE equi-join on the coarse cell
    id against the codes-only index projection (``m`` bytes/row); the
    ADC cut bounds the exact-scoring stage to |Q| x rerank rows, which
    join back to original vectors broadcast-side.  No all-pairs stage,
    no full-vector scan.
    """
    corpus_nn = corpus.where(F.col(vec_col).isNotNull())
    if codebooks is not None:
        _check_codebook_mode(codebooks, residual, "ivfpq_topk")
    if index is not None and (centroids is None or codebooks is None):
        raise ValueError(
            "ivfpq_topk: a prebuilt index needs the centroids and "
            "codebooks it was built with (probe assignment and query "
            "LUTs must use the same models)"
        )
    cen = (
        centroids
        if centroids is not None
        else kmeans_centroids(
            corpus_nn, vec_col=vec_col, id_col=id_col, n_lists=n_lists,
            max_iter=max_iter, train_fraction=train_fraction,
        )
    )
    cb = (
        codebooks
        if codebooks is not None
        else pq_codebooks(
            corpus_nn, vec_col=vec_col, id_col=id_col, m=m, ksub=ksub,
            max_iter=max_iter, train_fraction=train_fraction,
            centroids=cen if residual else None,
            seeds=codebook_seeds,
        )
    )
    if index is None:
        # codes-only index: id + coarse cell + m-byte code
        index = ivfpq_index(
            corpus_nn, cen, cb, id_col=id_col, vec_col=vec_col,
            residual=residual,
        )
    luts, qdotc = _query_luts(
        queries, cb, query_id_col, vec_col, centroids=cen if residual else None
    )
    probe = _assign_udf(cen, n_probe)
    q_cells = (
        queries.where(F.col(vec_col).isNotNull())
        .select(
            F.col(query_id_col).alias("query_id"),
            F.explode(probe(vec_col)).alias("_list"),
        )
    )
    cand = index.join(F.broadcast(q_cells), "_list")
    if exclude_self:
        cand = cand.where(F.col("neighbor_id") != F.col("query_id"))
    scorer = _adc_udf(cb, luts, qdotc)
    scored = cand.withColumn(
        "adc_score",
        scorer("_pq", "query_id", "_list") if residual
        else scorer("_pq", "query_id"),
    )
    if rerank is not None:
        wa = Window.partitionBy("query_id").orderBy(
            F.col("adc_score").desc(), F.col("neighbor_id")
        )
        scored = scored.withColumn("_ar", F.row_number().over(wa)).where(
            F.col("_ar") <= int(rerank)
        )
    shortlist = scored.select("query_id", "neighbor_id")

    # exact re-rank: fetch original vectors for the shortlist only
    nbr = with_norm(corpus_nn, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        F.col("_norm").alias("_cn"),
    )
    qv = with_norm(queries, vec_col).select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.col("_norm").alias("_qn"),
    )
    exact = (
        nbr.join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cosine", cosine_expr("_qv", "_cv", "_qn", "_cn"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
