"""Similarity search over embedding columns (north-star §2.2).

Two paths, per the mandate:
- brute-force cosine top-k — the exact baseline. All math is
  double-cast BEFORE multiplication and accumulated left-to-right
  (``zip_with`` + ``aggregate`` HOFs), which makes the score
  bit-identical to DuckDB's ``list_reduce`` evaluation — the oracle
  can compare exact doubles, no tolerance.
- random-hyperplane LSH — the scale path: 100 TB of vectors can't
  all-pairs. Vectors land in sign-pattern buckets; only same-bucket
  (or probed-neighbor-bucket) pairs are scored. Hyperplanes are
  generated deterministically from xxhash64, so the index is
  reproducible without storing anything.

Embedding-cosine near-dup dedup reuses the same kernels.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

import ceres_spark.operators.sharding as sharding
from ceres_spark.sources.tables import spread


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i, left-to-right double accumulation (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    ad, bd = as_double(a), as_double(b)
    return dot(ad, bd) / (norm(ad) * norm(bd))


def cosine_prenorm(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with precomputed norms: 1 dot per pair instead of 3.
    Norms are projected below the join, so each side's norm is
    evaluated once per ROW, not once per PAIR — the dominant saving
    in k-NN joins. sqrt/division are IEEE-deterministic, so results
    are bit-identical to :func:`cosine`."""
    return dot(as_double(a), as_double(b)) / (na * nb)


def topk_brute(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` (small: broadcast) × ``embeddings`` (big) — the join
    is a broadcast nested loop scoring every (query, candidate) pair;
    ranking is a per-query window. Ties break on candidate id so the
    result is total-order deterministic.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        norm(as_double(F.col(vec_col))).alias("_qn"),
    )
    # spread: the fold-cosine scoring inherits the corpus scan's
    # layout — a one-row-group scan would run every dot product on
    # one core (guide §2.5); no-op when the scan is already parallel
    c = spread(embeddings).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        norm(as_double(F.col(vec_col))).alias("_cn"),
        *(["label"] if "label" in embeddings.columns else []),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_sim",
            cosine_prenorm(
                F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .drop("_qv", "_cv")
    )


# --------------------------------------------------------------- LSH

def hyperplane(plane_id: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane ±1 components derived
    from a splitmix-style integer mix — reproducible anywhere, no
    stored model."""
    comps = []
    for d in range(dim):
        z = (plane_id * 0x9E3779B97F4A7C15 + d * 0xBF58476D1CE4E5B9) & (
            (1 << 64) - 1
        )
        z = (z ^ (z >> 31)) * 0x94D049BB133111EB & ((1 << 64) - 1)
        comps.append(1.0 if (z >> 63) else -1.0)
    return comps


def lsh_buckets(
    vec_col: Column, dim: int, n_planes: int, n_tables: int
) -> Column:
    """Array of ``n_tables`` independent bucket ids (OR-amplification:
    a pair is candidate if it collides in ANY table —
    P = 1-(1-s^p)^L, the classic s-curve). Explode + join on
    (table_id, bucket).

    Arrow-batched pandas UDF: all ``n_tables × n_planes`` hyperplane
    dots are ONE numpy matmul per batch — the HOF formulation costs
    32 interpreted array-folds per row. Hyperplanes come from the
    same splitmix derivation as :func:`hyperplane`, so buckets are
    deterministic and reproducible with no stored model."""
    from pyspark.sql import types as T

    total = n_planes * n_tables
    H = np.array(
        [hyperplane(p, dim) for p in range(total)], dtype=np.float64
    )  # (total, dim)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.map(np.asarray)).astype(np.float64)  # (n, dim)
        bits = (X @ H.T) > 0  # (n, total)
        bits = bits.reshape(len(X), n_tables, n_planes)
        buckets = (bits * weights).sum(axis=2)  # (n, n_tables)
        return pd.Series(list(buckets))

    return _buckets(vec_col)


def _with_bucket_rows(
    df: DataFrame, dim: int, n_planes: int, n_tables: int,
    id_col: str, vec_col: str, id_alias: str, vec_alias: str,
) -> DataFrame:
    """(id, vec, norm) exploded to one row per (table_id, bucket)."""
    return df.select(
        F.col(id_col).alias(id_alias),
        F.col(vec_col).alias(vec_alias),
        norm(as_double(F.col(vec_col))).alias(vec_alias + "n"),
        F.posexplode(
            lsh_buckets(F.col(vec_col), dim, n_planes, n_tables)
        ).alias("_tbl", "_bkt"),
    )


def topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only candidates colliding with the
    query in ≥1 of ``n_tables`` LSH tables. At scale the bucket
    columns are precomputed + the table partitioned by them, turning
    ANN into a co-located join; candidates are deduped BEFORE the
    (expensive) cosine so each pair is scored once."""
    c = _with_bucket_rows(
        embeddings, dim, n_planes, n_tables, id_col, vec_col,
        "neighbor_id", "_cv",
    )
    q = _with_bucket_rows(
        queries, dim, n_planes, n_tables, id_col, vec_col, "query_id", "_qv"
    )
    candidates = (
        c.join(F.broadcast(q), ["_tbl", "_bkt"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = candidates.withColumn(
        "cosine_sim",
        cosine_prenorm(F.col("_qv"), F.col("_cv"), F.col("_qvn"), F.col("_cvn")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .drop("_qv", "_cv", "_qvn", "_cvn", "_bkt", "_tbl")
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.98,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-table LSH: only
    pairs colliding in ≥1 table are scored (near-identical vectors
    share all sign bits of some table with overwhelming probability),
    deduped before the cosine."""
    # eager localCheckpoint: the bucket computation appears on BOTH
    # sides of the self-join — materialize the (id, vec, norm, table,
    # bucket) rows once (guide §3.3/§8; same idiom as minhash/simhash)
    banded = _with_bucket_rows(
        embeddings, dim, n_planes, n_tables, id_col, vec_col,
        "id_a", "_va",
    ).localCheckpoint(eager=True)
    l = banded
    r = banded.select(
        F.col("id_a").alias("id_b"),
        F.col("_va").alias("_vb"),
        F.col("_van").alias("_vbn"),
        "_tbl",
        "_bkt",
    )
    return (
        l.join(r, ["_tbl", "_bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "cosine_sim",
            cosine_prenorm(
                F.col("_va"), F.col("_vb"), F.col("_van"), F.col("_vbn")
            ),
        )
        .filter(F.col("cosine_sim") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "cosine_sim")
    )


def neardup_pairs_blocked(
    embeddings: DataFrame,
    threshold: float = 0.30,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shards: int = 1,
) -> DataFrame:
    """Embedding-cosine near-dup pairs within a blocking key, scored
    by one Arrow-batched numpy pass per block (``applyInPandas``).

    Bit-exact with the declarative ``cosine_prenorm`` join and with
    DuckDB's ``list_reduce`` oracle: the pairwise Gram matrix is
    accumulated **dimension by dimension** (``D += outer(M[:,d],
    M[:,d])``), which reproduces the left-to-right double summation
    of ``F.aggregate(zip_with(...), 0.0, +)`` for every pair at once
    — same flops as a GEMM but with a pinned accumulation order
    (BLAS reorders sums and would drift in the last ulp). Measured
    2.1 s → ~0.3 s on sf0.1 vs the expression-tree join.

    Scale shape: one task per block; a block must fit in executor
    memory (n×n doubles). For oversized blocks pass ``shards=S``:
    triangle sharding — each row lands in the S shard-pair groups it
    participates in, each group holds ~2n/S rows, and every pair is
    scored in EXACTLY one group (same-shard pairs in the diagonal
    group, cross-shard pairs in their (a,b) group). S(S+1)/2 tasks of
    (2n/S)² work ≈ 2× the unsharded flops, but peak task memory drops
    S×/2 — the knob that keeps the exact path alive at 100 TB before
    falling back to :func:`embedding_neardup_pairs` (LSH).
    """
    schema = "id_a long, id_b long, cosine_sim double"

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        M = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        n, dim = M.shape
        if n < 2:
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cosine_sim": []}
            ).astype({"id_a": "int64", "id_b": "int64", "cosine_sim": "float64"})
        gram = np.zeros((n, n))
        sq = np.zeros(n)
        for d in range(dim):  # pinned left-to-right accumulation
            col = M[:, d]
            gram += np.outer(col, col)
            sq += col * col
        nrm = np.sqrt(sq)
        cos = gram / np.outer(nrm, nrm)
        ia, ib = np.triu_indices(n, 1)
        keep = cos[ia, ib] >= threshold
        if "_ga" in pdf.columns:
            # triangle sharding: emit a pair only in ITS shard-pair
            # group, so no pair is scored twice across groups
            keep &= sharding.owned_pair_mask(pdf, ia, ib)
        return pd.DataFrame(
            {
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cosine_sim": cos[ia[keep], ib[keep]],
            }
        )

    base = embeddings.select(block_col, id_col, vec_col)
    if shards <= 1:
        return base.groupBy(block_col).applyInPandas(score_block, schema)
    return (
        sharding.triangle_shard(base, id_col, shards)
        .groupBy(block_col, "_ga", "_gb")
        .applyInPandas(score_block, schema)
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Component-wise MEDIAN centroid per label: posexplode the
    vector, exact median of each (label, dim) cell, reassemble
    ordered by dim.

    The explode makes this a plain distributed aggregation — (labels
    × dims) cells, no vectors collected anywhere. `array_sort` on
    (dim, value) structs pins re-assembly order, so the centroid
    array is deterministic.

    Median, not mean, deliberately: robust to outlier vectors AND
    bit-exact across engines (Spark `percentile` ≡ DuckDB
    `quantile_cont`, a sort-based order statistic — verified
    identical). A decimal-accumulated mean was tried first and drifts
    ~1e-10 on float32-derived doubles: Spark rounds double→decimal
    via the shortest-string BigDecimal, DuckDB via scaled-double
    arithmetic, and the two disagree below the 10th decimal.
    """
    ex = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "x")
    )
    per = ex.groupBy("label", "dim").agg(
        F.expr("percentile(CAST(x AS DOUBLE), 0.5)").alias("c")
    )
    return per.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))),
            lambda s: s["c"],
        ).alias("centroid")
    )


def label_centroid_similarity(emb: DataFrame) -> DataFrame:
    """Inter-label centroid cosine matrix (upper triangle): how close
    the label clusters sit in embedding space — the corpus-curation
    readout for 'are these labels separable / worth keeping apart'.
    Labels are few, so the pairwise stage is trivially small; all the
    work is the distributed centroid aggregation."""
    cent = label_centroids(emb)
    a = cent.select(
        F.col("label").alias("label_a"), F.col("centroid").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), F.col("centroid").alias("cb")
    )
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            cosine(F.col("ca"), F.col("cb")).alias("cosine_sim"),
        )
    )


def quantize_embeddings(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Symmetric int8 quantization: per-vector scale = max |x|, each
    component → ``floor(x / scale · 127)`` ∈ [−127, 127]. 4× smaller
    vectors = 4× less shuffle/broadcast in every downstream join —
    the standard serving trick for billion-vector similarity.

    floor, not round: Spark's double→int CAST truncates while
    DuckDB's rounds, and round-half ties are engine-specific; floor
    is the one quantizer both engines compute identically.
    """
    v = as_double(F.col(vec_col))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.transform(v, lambda x: F.floor(x / scale * 127).cast("long"))
    return emb.withColumn("q", q).withColumn("q_scale", scale)


def _int_dot(a, b):
    """Exact BIGINT dot product — no accumulation-order concerns at
    all: integer addition is associative."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def topk_cosine_quantized(
    emb: DataFrame, k: int = 10, n_queries: int = 5
) -> DataFrame:
    """Brute-force top-k cosine in int8 space: all dot products are
    exact BIGINT sums (associative — the ONE similarity variant with
    zero float-accumulation caveats); one double division + sqrt at
    the end. Ranking quality vs float cosine is bounded by the
    quantization error (~1/127 per component).
    """
    from pyspark.sql.window import Window

    # spread: quantization HOFs + the int-dot scoring join inherit
    # the scan layout (§2.5)
    q = quantize_embeddings(spread(emb))
    base = q.select("vec_id", "label", "q")
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    scored = base.join(
        F.broadcast(queries), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "label",
        (
            _int_dot(F.col("qq"), F.col("q"))
            / (
                F.sqrt(_int_dot(F.col("qq"), F.col("qq")).cast("double"))
                * F.sqrt(_int_dot(F.col("q"), F.col("q")).cast("double"))
            )
        ).alias("cosine_sim_q8"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim_q8"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "label", "cosine_sim_q8", "rank")
    )


def embedding_decontamination(
    emb: DataFrame,
    eval_vectors: DataFrame,
    tau: float = 0.30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic train/eval decontamination — the embedding-space twin
    of :func:`ceres_spark.operators.dedup.contamination` (which works
    on n-grams): flag every training vector whose cosine similarity
    to ANY benchmark/eval vector reaches ``tau``, so paraphrased or
    near-verbatim eval leakage is caught even when no n-gram matches.

    Same scale shape as its n-gram twin: the EVAL side is the small
    one (benchmark suites are thousands of items) and is broadcast,
    so the corpus streams through one BroadcastNestedLoopJoin +
    aggregate — the 100 TB side never shuffles. For eval sets too big
    to broadcast, route through the IVF index instead (probe each
    eval vector, union the hit lists).

    All arithmetic is the JVM-side fold cosine (similarity.cosine) —
    bit-identical to the DuckDB oracle's list_reduce fold, like every
    other cosine entry here. Returns one row per training vector:
    ``vec_id, n_eval_hits, max_eval_sim, is_contaminated``.

    Precondition: ``eval_vectors`` must be non-empty — with an empty
    eval side the inner broadcast join would return ZERO rows (every
    training vector vanishes), which a caller doing
    ``docs.join(result)`` could misread as "nothing to keep". The
    empty case raises loudly instead; the check is a ``limit(1)``
    count on the (small, broadcastable) eval side only.
    """
    if eval_vectors.limit(1).count() == 0:
        raise ValueError(
            "embedding_decontamination: eval_vectors is empty — every "
            "training row would vanish from the inner broadcast join. "
            "Pass a non-empty eval set or skip the gate."
        )
    ev = F.broadcast(
        eval_vectors.select(
            F.col(id_col).alias("_eval_id"),
            F.col(vec_col).alias("_eval_vec"),
        )
    )
    sim_col = cosine(F.col(vec_col), F.col("_eval_vec"))
    return (
        # no spread() here (tried r12, measured, reverted): the corpus
        # side feeds a broadcast-join explode whose per-row fold-cosine
        # is cheap relative to a round-robin Exchange of the vectors —
        # the added shuffle regressed the bench action ~2× while the
        # parallelized compute it bought is pruned-out under count().
        # At production scale the scan is already parallel and spread
        # would be a no-op anyway (guide §1.2: measure, then revert).
        emb.select(id_col, vec_col)
        .join(ev)
        .select(
            id_col,
            sim_col.alias("_sim"),
        )
        .groupBy(id_col)
        .agg(
            F.sum((F.col("_sim") >= float(tau)).cast("bigint")).alias(
                "n_eval_hits"
            ),
            F.max("_sim").alias("max_eval_sim"),
        )
        .withColumn("is_contaminated", F.col("n_eval_hits") > 0)
    )


def hard_negatives(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 8,
    sim_lo: float = 0.05,
    sim_hi: float = 0.60,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive training (the DPR /
    sentence-embedding recipe, Karpukhin et al. 2020 — public): for
    each query vector, the top-``k`` corpus vectors whose cosine
    falls in the "hard" band [``sim_lo``, ``sim_hi``) — similar
    enough to be confusable, dissimilar enough to be true negatives.
    Easy negatives (below the band) and likely-positives/duplicates
    (at or above it) are excluded.

    Scale shape: queries are the small side (training batches mine
    against a fixed query set) and are BROADCAST with precomputed
    norms; the corpus streams through one BroadcastNestedLoopJoin +
    band filter, then a per-query top-k window over only the in-band
    survivors. All arithmetic is the JVM fold cosine — bit-equal to
    the DuckDB oracle. Ranking is totally ordered (cosine DESC, then
    neg id), so top-k is deterministic.

    Output: ``query_id, neg_id, cosine_sim, rank``.
    """
    from pyspark.sql.window import Window

    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            norm(as_double(F.col(vec_col))).alias("_qn"),
        )
    )
    # spread: see topk_brute — parallelize the fold-cosine band scan
    c = spread(emb).select(
        F.col(id_col).alias("neg_id"),
        F.col(vec_col).alias("_cv"),
        norm(as_double(F.col(vec_col))).alias("_cn"),
    )
    scored = (
        c.join(q, F.col("neg_id") != F.col("query_id"))
        .select(
            "query_id",
            "neg_id",
            cosine_prenorm(
                F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")
            ).alias("cosine_sim"),
        )
        .filter(
            (F.col("cosine_sim") >= float(sim_lo))
            & (F.col("cosine_sim") < float(sim_hi))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), "neg_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "neg_id", "cosine_sim", "rank")
    )


def train_pca(
    vectors: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_n: int = 16384,
):
    """Deterministic PCA trained on a bounded sample (first
    ``sample_n`` rows by id — the same no-RNG training contract as
    the IVF/PQ trainers): numpy SVD of the centered sample, sign of
    each component fixed by making its largest-|loading| coordinate
    positive (SVD signs are otherwise arbitrary — this pins them so
    retraining reproduces the identical rotation).

    Returns ``(mean[d], components[k][d], scales[k])`` where scales
    are per-component standard deviations (divide by them to
    whiten). PCA/whitening is the standard embedding pre-pass before
    clustering/ANN (SemDeDup et al., public recipes): it drops the
    low-variance tail and equalizes axes so cosine/L2 behave."""
    import numpy as np

    rows = (
        vectors.orderBy(id_col).limit(int(sample_n)).select(vec_col).collect()
    )
    S = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
    if S.shape[0] < 2:
        raise ValueError("PCA needs at least 2 sample vectors")
    # a centered n-row matrix has rank <= n-1: never emit a component
    # whose "variance" is pure float residue (review r4)
    k = min(int(k), S.shape[1], S.shape[0] - 1)
    mu = S.mean(axis=0)
    X = S - mu
    _, sv, Vt = np.linalg.svd(X, full_matrices=False)
    comps = Vt[:k].copy()
    for i in range(k):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    scales = sv[:k] / np.sqrt(S.shape[0] - 1)
    # tolerance floor, not exact-zero: rank-deficient directions carry
    # ~1e-16 BLAS noise that whitening would amplify by ~1e16 (and
    # that varies across BLAS builds, breaking retrain-determinism)
    floor = scales.max() * 1e-9 if scales.size else 0.0
    scales[scales <= floor] = 1.0
    return (
        [float(x) for x in mu],
        [[float(x) for x in row] for row in comps],
        [float(x) for x in scales],
    )


def apply_pca(
    vectors: DataFrame,
    mean,
    components,
    scales=None,
    whiten: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project embeddings through a trained PCA: one Arrow-batched
    matmul per batch (map-only, no shuffle; the rotation matrix is a
    closure constant shipped with the UDF — the broadcast-weights
    deployment shape). ``whiten=True`` divides each output axis by
    its training-set standard deviation.

    Output: ``(id_col, embedding array<double> of len(components))``.
    """
    import numpy as np

    from pyspark.sql import types as T

    if whiten and scales is None:
        raise ValueError(
            "apply_pca: whiten=True requires the training scales — "
            "pass the third value returned by train_pca"
        )
    mu = np.asarray(mean, dtype=np.float64)
    W = np.asarray(components, dtype=np.float64)  # (k, d)
    s = np.asarray(scales, dtype=np.float64) if whiten else None
    d = W.shape[1]

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _project(vecs: pd.Series) -> pd.Series:
        if vecs.isna().any():
            raise ValueError(
                "apply_pca: NULL embedding in input — filter nulls "
                "before projecting"
            )
        lens = vecs.map(len)
        if (lens != d).any():
            raise ValueError(
                f"apply_pca: embedding length != trained dim {d} "
                f"(got lengths {sorted(set(lens) - {d})[:3]})"
            )
        X = np.stack(vecs.map(np.asarray)).astype(np.float64)
        Y = (X - mu) @ W.T
        if s is not None:
            Y = Y / s
        return pd.Series(list(Y))

    return vectors.select(
        id_col, _project(F.col(vec_col)).alias("embedding")
    )
