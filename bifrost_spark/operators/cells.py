"""Coarse-quantizer cell assignment for the ANN / SemDeDup operators.

One dispatcher, two spellings:

* **literal path** (k ≤ ``LITERAL_K_MAX``): the k trained centroids are
  embedded as plan-time literal arrays and assignment is k JVM-side
  dot-product folds per row, fully inside whole-stage codegen — zero
  Python, zero broadcast state.  Plan size grows O(k·d) expression
  nodes, which is why this path is capped.
* **pandas path** (k > ``LITERAL_K_MAX``): the centroids travel to the
  executors ONCE inside the UDF closure as a single numpy (k, d)
  matrix; each Arrow batch is scored with one BLAS matmul
  (batch × k) and top-``nprobe`` cells come from an argpartition.
  The plan holds ONE expression node regardless of k — the
  production-k spelling (the shape of FAISS's own IVF assignment
  kernel), for coarse quantizers in the 4k–64k cell range.

Both paths rank cells by dot product against the given column (unit
vectors → cosine order) and break exact ties toward the LOWER cell id,
so swapping paths at the threshold never changes an assignment.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType

from bifrost_spark.operators.vectors import sql_dot_fast, sql_struct_table

LITERAL_K_MAX = 64


def _rank_cells_literal(col: str, centers: list[list[float]], nprobe: int) -> Column:
    # The (cell, centroid) table and the k dot folds over it are ONE parsed
    # expression (the IVF-PQ encode's device) — k·d F.lit() calls cost one
    # py4j round-trip EACH (plan construction, not execution: measured
    # seconds of driver wall per ANN query); see vectors.py::sql_literal.
    tab = sql_struct_table(centers, "cell", "c")
    return F.expr(
        f"transform(slice(sort_array(transform({tab}, s -> named_struct("
        f"'negd', -{sql_dot_fast(col, 's.c')}, 'cell', s.cell))), 1, {nprobe}),"
        f" s -> s.cell)"
    )


def _rank_cells_pandas(centers: list[list[float]], nprobe: int):
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centers, dtype=np.float64)  # (k, d)
    k = len(C)
    n_take = min(nprobe, k)

    @pandas_udf(ArrayType(IntegerType()))
    def rank(vec: pd.Series) -> pd.Series:
        U = np.vstack(vec.to_numpy()).astype(np.float64)  # (b, d)
        scores = U @ C.T  # one BLAS matmul per Arrow batch
        if n_take == 1:
            # argmax returns the FIRST max → lower cell id wins ties,
            # matching the literal path's struct sort
            best = np.argmax(scores, axis=1)[:, None]
        else:
            part = np.argpartition(-scores, n_take - 1, axis=1)[:, :n_take]
            rows = np.arange(len(U))[:, None]
            sel = part[
                rows, np.argsort(part, axis=1, kind="stable")
            ]  # cell-id ascending ...
            # ... then stable sort on -score: exact ties keep the lower
            # cell id first, matching the literal path's struct sort
            order = np.argsort(-scores[rows, sel], axis=1, kind="stable")
            best = sel[rows, order]
        return pd.Series([r.astype(np.int32) for r in best])

    return rank


def rank_cells(
    col: str, centers: list[list[float]], nprobe: int = 1
) -> Column:
    """array<int> of the ``nprobe`` nearest cell ids for the array<numeric>
    vector column named ``col``, best first.  Dispatches on k: literal
    folds under ``LITERAL_K_MAX``, one Arrow-batched BLAS matmul above."""
    if len(centers) <= LITERAL_K_MAX:
        return _rank_cells_literal(col, centers, nprobe)
    return _rank_cells_pandas(centers, nprobe)(col)


def assign_cell(col: str, centers: list[list[float]]) -> Column:
    """The single nearest cell id (int) for the vector column ``col``."""
    return F.element_at(rank_cells(col, centers, 1), 1)


# Bounded training-sample size: k-means quality needs ~O(k·100) points, so
# 64k covers every k this engine uses (≤ 4096) while keeping driver state
# ≤ 64k·d doubles (32 MB at d=64) — INDEPENDENT of corpus size.
TRAIN_SAMPLE_MAX = 65_536


def sample_rows(df, vec_col: str, id_col: str, max_rows: int = TRAIN_SAMPLE_MAX):
    """Deterministic bounded sample of a vector column as a numpy array.

    xxhash64-ordered TakeOrdered: one corpus pass, per-partition heaps of
    ``max_rows`` rows, deterministic under any partitioning / task retry
    (content-derived order, no RNG) — the sampling half of the FAISS
    train-on-a-sample discipline."""
    rows = (
        df.select(F.col(vec_col).alias("v"), F.col(id_col).alias("i"))
        .orderBy(F.xxhash64(F.col("i")), F.col("i"))
        .limit(max_rows)
        .collect()
    )
    if not rows:
        # keep the 2-D contract: np.asarray([]) is 1-D and every axis=1
        # reduction downstream would AxisError (fuzzer finding — an
        # all-zero/all-NULL corpus leaves the usable-vector frame empty)
        return np.zeros((0, 0), dtype=np.float64)
    return np.asarray([r["v"] for r in rows], dtype=np.float64)


def kmeans_fit(
    X: np.ndarray, k: int, seed: int, iters: int = 25, n_init: int = 4
) -> list[list[float]]:
    """Deterministic Lloyd's k-means with k-means++ init on a driver-side
    sample — the training half of the FAISS discipline (faiss trains its
    coarse quantizers and PQ codebooks exactly this way: a bounded sample
    on one node, never a distributed fit).  Replaces per-operator MLlib
    fits whose ~2 s/job scheduling overhead dominated at fixture scale
    (IVF-PQ ran 9 of them) and whose cluster-wide shuffles are wasted
    work when the sample already fits in memory.

    Deterministic: PCG64(seed) drives k-means++ (platform-stable),
    Lloyd's iterations are pure argmin/means, ties in argmin go to the
    lower center id (numpy argmin first-match), empty clusters re-seed to
    the point farthest from its center (deterministic argmax).  Identical
    input sample → identical centers, bit-for-bit, on every rerun.

    ``n_init`` seeded restarts keep the best-inertia run (sklearn's
    robustness device; a single k-means++ draw can split one true
    cluster and starve another — measured as a 0.94-vs-0.95 recall miss
    on the clustered SemDeDup gate).  Restarts multiply TRAINING cost
    only, and training is sample-bounded."""
    n = len(X)
    if n == 0 or X.ndim != 2 or X.shape[1] == 0:
        # no trainable sample (empty / all-degenerate corpus): no centers.
        # Callers treat [] as "index has no cells" and emit empty results
        # instead of crashing the whole job on one junk partition.
        return []
    k = min(k, n)
    best, best_inertia = None, None
    for run in range(max(1, n_init)):
        centers, inertia = _kmeans_once(X, k, seed + 1000 * run, iters)
        if best_inertia is None or inertia < best_inertia:
            best, best_inertia = centers, inertia
    return [[float(v) for v in c] for c in best]


def _kmeans_once(X: np.ndarray, k: int, seed: int, iters: int):
    n = len(X)
    rng = np.random.default_rng(seed)
    x2 = (X * X).sum(axis=1)

    # GREEDY k-means++ seeding (Arthur & Vassilvitskii 2007 + the
    # multiple-candidate refinement sklearn uses): at each step draw
    # 2+⌈log₂k⌉ D²-weighted candidates and keep the one that most reduces
    # the total potential.  Plain single-draw ++ left ~10-30% worse local
    # optima on a 16-well-separated-cluster fixture (measured: inertia
    # 123-163 vs the 111 global optimum); greedy seeding finds the basin.
    centers = np.empty((k, X.shape[1]), dtype=np.float64)
    n_trials = 2 + int(np.ceil(np.log2(max(k, 2))))
    centers[0] = X[rng.integers(n)]
    d2 = x2 - 2 * X @ centers[0] + centers[0] @ centers[0]
    np.maximum(d2, 0, out=d2)
    for j in range(1, k):
        tot = d2.sum()
        if tot <= 0:
            cand_idx = rng.integers(n, size=n_trials)
        else:
            cand_idx = rng.choice(n, size=n_trials, p=d2 / tot)
        cand = X[cand_idx]  # (t, d)
        nd = np.maximum(
            x2[None, :] - 2 * cand @ X.T + (cand * cand).sum(axis=1)[:, None], 0
        )  # (t, n)
        pots = np.minimum(nd, d2).sum(axis=1)
        best = int(pots.argmin())
        centers[j] = cand[best]
        d2 = np.minimum(d2, nd[best])

    assign = None
    dim = X.shape[1]
    for _ in range(iters):
        d = x2[:, None] - 2 * X @ centers.T + (centers * centers).sum(axis=1)
        new_assign = d.argmin(axis=1)
        counts = np.bincount(new_assign, minlength=k).astype(np.float64)
        # vectorized centroid update: one weighted bincount per dimension
        # (C-speed; a per-cluster boolean-mask loop is O(k·n) in Python and
        # dominated the fit at k ≈ 1000)
        sums = np.stack(
            [np.bincount(new_assign, weights=X[:, c], minlength=k) for c in range(dim)],
            axis=1,
        )
        for j in np.flatnonzero(counts == 0):
            # re-seed empty cluster to the worst-served point
            far = int(d[np.arange(n), new_assign].argmax())
            new_assign[far] = j
            sums[j] = X[far]
            counts[j] = 1.0
        centers = sums / counts[:, None]
        # converged when <0.1% of points moved — exact convergence can take
        # 100s of iterations on large samples for negligible center drift
        if assign is not None and (new_assign != assign).sum() <= n // 1000:
            break
        assign = new_assign
    d = x2[:, None] - 2 * X @ centers.T + (centers * centers).sum(axis=1)
    inertia = float(np.maximum(d.min(axis=1), 0).sum())
    return centers, inertia


def opq_fit(
    X: np.ndarray,
    m_sub: int,
    k_pq: int,
    seed: int,
    iters: int = 10,
) -> list[list[float]]:
    """OPQ rotation (Ge et al., CVPR 2013, the non-parametric variant —
    what FAISS's OPQMatrix trains): an orthogonal R minimizing the PQ
    reconstruction error of ``X @ R``, fit by alternating

      1. PQ codebooks on the rotated sample (per-subspace k-means), and
      2. the orthogonal Procrustes solve R = U·Vᵀ from SVD(Xᵀ·Y) where
         Y is the quantized reconstruction

    on the SAME bounded driver-side sample as every other quantizer here
    (FAISS discipline: transforms train on a sample, never distributed).
    Deterministic end-to-end: seeded k-means (kmeans_fit) + SVD of a
    fixed matrix; sign ambiguity in SVD columns cancels in U·Vᵀ.

    Returns R as a d×d nested list (row-major: rotated = x @ R), ready
    for ``rotate_vectors``, or ``None`` when no rotation can be fitted —
    an empty/degenerate sample, or a corpus dimension m_sub does not
    divide (junk feed with the wrong embedding width).  OPQ is a pure
    shortlist-quality optimization, so callers fall back to the identity
    (plain IVF-PQ) rather than crash the job (fuzzer finding).
    """
    if X.ndim != 2 or len(X) == 0 or X.shape[1] == 0:
        return None
    n, d = X.shape
    d_sub = d // m_sub
    if m_sub * d_sub != d:
        return None
    R = np.eye(d)
    for _ in range(max(1, iters)):
        Xr = X @ R
        # few Lloyd iters per alternation — R and the codebooks co-converge
        books = [
            np.asarray(
                kmeans_fit(
                    Xr[:, m * d_sub : (m + 1) * d_sub], k_pq, seed + m, iters=8,
                    n_init=1,
                )
            )
            for m in range(m_sub)
        ]
        Y = np.empty_like(Xr)
        for m in range(m_sub):
            sl = Xr[:, m * d_sub : (m + 1) * d_sub]
            C = books[m]  # (k, d_sub)
            d2 = (
                (sl * sl).sum(axis=1)[:, None]
                - 2 * sl @ C.T
                + (C * C).sum(axis=1)[None, :]
            )
            Y[:, m * d_sub : (m + 1) * d_sub] = C[d2.argmin(axis=1)]
        U, _, Vt = np.linalg.svd(X.T @ Y)
        R = U @ Vt
    return [[float(v) for v in row] for row in R]


def pq_mse(X: np.ndarray, m_sub: int, k_pq: int, seed: int,
           R: np.ndarray | None = None) -> float:
    """Mean squared PQ reconstruction error of ``X`` (rotated by ``R``
    if given) — the objective OPQ minimizes; used by the quality gates."""
    n, d = X.shape
    d_sub = d // m_sub
    Xr = X @ np.asarray(R) if R is not None else X
    err = 0.0
    for m in range(m_sub):
        sl = Xr[:, m * d_sub : (m + 1) * d_sub]
        C = np.asarray(kmeans_fit(sl, k_pq, seed + m, iters=8, n_init=1))
        d2 = (
            (sl * sl).sum(axis=1)[:, None]
            - 2 * sl @ C.T
            + (C * C).sum(axis=1)[None, :]
        )
        err += float(np.maximum(d2.min(axis=1), 0).sum())
    return err / n


def rotate_vectors(R: list[list[float]]):
    """pandas_udf applying the OPQ rotation: ONE BLAS matmul per Arrow
    batch (same shape as the production-k cell assignment path) — the
    plan holds a single expression node regardless of d."""
    from pyspark.sql.types import DoubleType
    from pyspark.sql.functions import pandas_udf

    Rm = np.asarray(R, dtype=np.float64)

    @pandas_udf(ArrayType(DoubleType()))
    def rot(vec: pd.Series) -> pd.Series:
        U = np.vstack(vec.to_numpy()).astype(np.float64) @ Rm
        return pd.Series(list(U))

    return rot


def train_kmeans(
    df,
    vec_col: str,
    id_col: str,
    k: int,
    seed: int,
    max_rows: int = TRAIN_SAMPLE_MAX,
) -> list[list[float]]:
    """sample_rows + kmeans_fit: the one-call replacement for an MLlib
    KMeans fit in the ANN/SemDeDup training steps."""
    return kmeans_fit(sample_rows(df, vec_col, id_col, max_rows), k, seed)
