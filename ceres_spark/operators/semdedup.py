"""Semantic deduplication over embedding columns — the SemDeDup
shape (Abbas et al. 2023, arXiv:2303.09540, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication"; public paper):
k-means-cluster the embedding space, then find near-duplicate groups
ONLY within each cluster and keep one representative per group.

This is the embedding-space sibling of the MinHash/SimHash text
paths in :mod:`ceres_spark.operators.dedup`: clustering plays the
role LSH banding plays there — it turns the corpus-quadratic
all-pairs cosine into Σ|cluster|² work, which the operator bounds by
choosing k (the paper runs 100 TB-class corpora with ~100k clusters
precisely so each cluster fits a task). Per-cluster work happens
IN-TASK (one Arrow batch per cluster: normalize → one GEMM →
union-find), so no pairwise rows are ever shuffled; the only
exchange is the groupBy on the cluster id.

Determinism: centroids come from
:func:`ceres_spark.operators.ivf.train_centroids_cached` (bounded
sample, deterministic Lloyd's); rows are sorted by id inside each
cluster before the GEMM, so float summation order is fixed and the
result is partitioning-independent (pytest-pinned against a
pure-numpy reference — tests/test_semdedup.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ceres_spark.operators.ivf import _assign, train_centroids_cached


def _component_heads(ids: np.ndarray, edge: np.ndarray) -> np.ndarray:
    """Connected components of one cluster's boolean edge matrix:
    returns each row's component head (min id reachable). Plain
    union-find on the dense matrix — the cluster is one task's worth
    of data by construction."""
    n = len(ids)
    parent = np.arange(n)

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    ii, jj = np.nonzero(np.triu(edge, k=1))
    for a, b in zip(ii.tolist(), jj.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.fromiter((find(i) for i in range(n)), dtype=np.int64, count=n)
    # ids are sorted ascending, so the root's id IS the min id of the
    # component (union always keeps the smaller index as root)
    return ids[roots]


def _cosine_edges(V: np.ndarray, tau: float) -> np.ndarray:
    """The ≥tau cosine edge matrix of float vectors."""
    norms = np.linalg.norm(V, axis=1)
    norms[norms == 0.0] = 1.0
    U = V / norms[:, None]
    return U @ U.T >= tau


def _lattice_edges(V: np.ndarray, num: int, den: int) -> np.ndarray:
    """Integer-exact edge matrix for LATTICE vectors: the edge test
    cos(a,b) ≥ num/den is evaluated as
    ``dot > 0 AND den²·dot² ≥ num²·|a|²·|b|²`` — pure int64
    arithmetic, no normalization, no float threshold, so an external
    engine reproduces every verdict bit-for-bit. Bounds are checked
    loudly: den²·dot_max² must fit int64."""
    Vi = np.asarray(V, dtype=np.int64)
    dot_max = int(np.abs(Vi).max(initial=0) or 1) ** 2 * Vi.shape[1]
    if den * den * dot_max * dot_max >= 2**62:
        raise ValueError(
            "lattice magnitudes too large for the exact int64 "
            "threshold test — rescale the lattice"
        )
    G = Vi @ Vi.T                      # exact: integer addends
    n2 = np.diag(G).copy()
    return (G > 0) & (
        (den * den) * G * G >= (num * num) * np.outer(n2, n2)
    )


#: per-cluster row cap: the in-task GEMM is |cluster|² doubles, so
#: 20k rows ≈ 3.2 GB — the last size that fits a default executor
#: task. Oversized clusters fail LOUDLY with a re-dial hint instead
#: of a silent task OOM (same contract as pq.bounded_query_rows).
MAX_CLUSTER_ROWS = 20_000


def semantic_dedup(
    vectors: DataFrame,
    tau: float = 0.95,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_key: str = "semantic_dedup",
    max_cluster_rows: int = MAX_CLUSTER_ROWS,
    target_cluster_rows: int | None = None,
    centroids: list[list[float]] | None = None,
    exact_tau: tuple[int, int] | None = None,
) -> DataFrame:
    """Per-vector semantic-dup verdict: ``vec_id, cluster, group_head,
    is_kept`` where ``group_head`` is the smallest id in the vector's
    ≥tau cosine component within its cluster and ``is_kept`` marks
    the one representative (the head) per group — singletons keep
    themselves. Downstream: ``docs.join(result.filter('is_kept'))``.

    ``target_cluster_rows`` is the production dial: when set, ``k``
    is derived as ``ceil(corpus / target_cluster_rows)`` (one count
    job) so cluster SIZE — and with it the Σ|cluster|² cost — stays
    constant as the corpus grows. The 64× probe measured exactly why
    this matters: fixed k=16 went 78× slower at 64× data; re-dialed
    k the same input ran sub-linear (docs/SCALING.md).
    """
    if target_cluster_rows is not None:
        n = vectors.count()
        k = max(int(k), -(-n // int(target_cluster_rows)))
    if centroids is None:
        # production: deterministic Lloyd's on a bounded sample
        centroids = train_centroids_cached(
            vectors, cache_key, k=int(k), id_col=id_col, vec_col=vec_col
        )
    # else: FROZEN quantizer (the integer-lattice portable twin —
    # assignment becomes SQL-expressible, see semantic_dedup_portable)
    assigned = _assign(vectors, centroids, id_col, vec_col)

    def dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > int(max_cluster_rows):
            raise ValueError(
                f"semantic_dedup cluster has {len(pdf)} rows "
                f"(> max_cluster_rows={max_cluster_rows}); the in-task "
                "similarity matrix would not fit a task. Raise k (more, "
                "smaller clusters) or max_cluster_rows (more task memory)."
            )
        pdf = pdf.sort_values(id_col, kind="mergesort")
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        if exact_tau is not None:
            edge = _lattice_edges(V, *exact_tau)
        else:
            edge = _cosine_edges(V, float(tau))
        heads = _component_heads(ids, edge)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": pdf["_list"].to_numpy(dtype=np.int32),
                "group_head": heads,
                "is_kept": ids == heads,
            }
        )

    return (
        assigned.select(id_col, vec_col, "_list")
        .groupBy("_list")
        .applyInPandas(
            dedup_cluster,
            "vec_id long, cluster int, group_head long, is_kept boolean",
        )
    )
