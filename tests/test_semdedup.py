"""semantic_dedup must equal a pure-numpy reference of the same
spec (assign to trained centroids → per-cluster ≥tau cosine
components → min-id representative) and be partitioning-independent.
"""

import numpy as np
import pytest

import ceres_spark.operators.ivf as ivf
import ceres_spark.operators.semdedup as sd


def make_vectors(spark, n=60, dim=8, seed=7, dup_every=5):
    rng = np.random.RandomState(seed)
    V = rng.randn(n, dim)
    # plant exact/near duplicates: every dup_every-th vector is a
    # tiny perturbation of its predecessor
    for i in range(1, n):
        if i % dup_every == 0:
            V[i] = V[i - 1] * 1.0001
    rows = [(i, [float(x) for x in V[i]]) for i in range(n)]
    return (
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ),
        V,
    )


def ref_semdedup(V, centroids, tau):
    C = np.asarray(centroids)
    d = (C * C).sum(axis=1) - 2.0 * (V @ C.T)
    lists = np.argmin(d, axis=1)
    out = {}
    for li in np.unique(lists):
        ids = np.nonzero(lists == li)[0]
        U = V[ids] / np.linalg.norm(V[ids], axis=1)[:, None]
        sim = U @ U.T
        # naive O(n³) closure is fine at test size
        adj = sim >= tau
        comp = {i: i for i in range(len(ids))}
        changed = True
        while changed:
            changed = False
            for a in range(len(ids)):
                for b in range(len(ids)):
                    if adj[a, b] and comp[b] < comp[a]:
                        comp[a] = comp[b]
                        changed = True
        for a in range(len(ids)):
            out[int(ids[a])] = (int(li), int(ids[comp[a]]))
    return out


@pytest.fixture(scope="module")
def planted(spark):
    df, V = make_vectors(spark)
    return df, V


def test_matches_numpy_reference(spark, planted):
    df, V = planted
    cents = ivf.train_centroids_cached(df, "semdedup-test", k=4)
    want = ref_semdedup(V, cents, 0.95)
    got = {
        r["vec_id"]: (r["cluster"], r["group_head"], r["is_kept"])
        for r in sd.semantic_dedup(
            df, tau=0.95, k=4, cache_key="semdedup-test"
        ).collect()
    }
    assert len(got) == len(want)
    for vid, (cl, head) in want.items():
        assert got[vid] == (cl, head, vid == head)


def test_partitioning_invariance(spark, planted):
    df, _ = planted
    a = sorted(
        map(
            tuple,
            sd.semantic_dedup(
                df.repartition(1), tau=0.95, k=4, cache_key="semdedup-test"
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            sd.semantic_dedup(
                df.repartition(7, "vec_id"),
                tau=0.95,
                k=4,
                cache_key="semdedup-test",
            ).collect(),
        )
    )
    assert a == b


def test_planted_dups_dropped(spark, planted):
    df, _ = planted
    res = sd.semantic_dedup(
        df, tau=0.999, k=4, cache_key="semdedup-test"
    ).collect()
    dropped = [r for r in res if not r["is_kept"]]
    # the planted near-identical pairs (i-1, i) must collapse: at
    # least one drop per planted pair, head is always the lower id
    assert len(dropped) >= 10
    for r in dropped:
        assert r["group_head"] < r["vec_id"]
    # exactly one kept representative per group
    heads = {r["group_head"] for r in res}
    for r in res:
        if r["vec_id"] in heads:
            assert r["is_kept"] == (r["vec_id"] == r["group_head"])


def test_oversized_cluster_raises(spark, planted):
    import pytest as _pt

    df, _ = planted
    with _pt.raises(Exception, match="max_cluster_rows"):
        sd.semantic_dedup(
            df, tau=0.95, k=4, cache_key="semdedup-test",
            max_cluster_rows=3,
        ).collect()


def test_target_cluster_rows_scales_k(spark, planted):
    df, _ = planted  # 60 vectors
    # target 10 rows/cluster → k = ceil(60/10) = 6 clusters minimum
    res = sd.semantic_dedup(
        df, tau=0.95, k=2, cache_key="semdedup-test-dial",
        target_cluster_rows=10,
    )
    n_clusters = res.select("cluster").distinct().count()
    assert n_clusters >= 4  # 6 trained; some may be empty
    # and the explicit k still wins when it is larger
    res2 = sd.semantic_dedup(
        df, tau=0.95, k=8, cache_key="semdedup-test-dial8",
        target_cluster_rows=60,
    )
    assert res2.select("cluster").distinct().count() >= 5


def test_adversarial_all_duplicates_corpus(spark):
    """VERDICT r3 #9: the pathological corpus — EVERY vector identical,
    so k-means collapses everything into one cluster no matter how k
    is dialed. Below the cap: one global group, head = min id. Above
    the cap: the loud cap error (not an OOM) is what surfaces, even
    with the auto-k dial engaged."""
    import pytest as _pt

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    # under the cap: the all-dup corpus collapses to one kept head
    res = sd.semantic_dedup(
        df, tau=0.95, k=8, cache_key="semdedup-alldup",
        target_cluster_rows=5,       # dial asks for 8 clusters...
    ).collect()
    assert {r["group_head"] for r in res} == {0}
    assert sum(r["is_kept"] for r in res) == 1
    # ...but identical vectors can't be split: over the cap the
    # guard must fire with the actionable message, not an OOM
    with _pt.raises(Exception, match="max_cluster_rows"):
        sd.semantic_dedup(
            df, tau=0.95, k=8, cache_key="semdedup-alldup-cap",
            target_cluster_rows=5, max_cluster_rows=10,
        ).collect()


def test_exact_lattice_kernel_matches_rational_threshold():
    # r6: _lattice_edges evaluates cos >= num/den as pure
    # int64 (dot>0 AND den^2*dot^2 >= num^2*|a|^2*|b|^2) — verify
    # against exact rational arithmetic on hand vectors, including a
    # pair sitting EXACTLY on the threshold (cos == 0.9 is kept:
    # >= is inclusive) and an anti-parallel pair (dot<0 rejected)
    import numpy as np
    from fractions import Fraction

    import ceres_spark.operators.semdedup as sd

    rng = np.random.default_rng(3)
    V = rng.integers(-500, 500, (40, 8)).astype(np.float64)
    V[1] = V[0]                 # exact dup → cos 1
    V[2] = -V[0]                # anti-parallel → rejected
    V[3] = V[0] * 3             # scaled → cos 1
    ids = np.arange(40, dtype=np.int64)
    heads = sd._component_heads(ids, sd._lattice_edges(V, 9, 10))
    assert heads[1] == 0 and heads[3] == 0 and heads[2] != 0
    # brute rational reference for every pair verdict
    Vi = V.astype(object)
    for a in range(40):
        for b in range(a + 1, 40):
            dot = int(sum(Vi[a] * Vi[b]))
            na2 = int(sum(Vi[a] * Vi[a]))
            nb2 = int(sum(Vi[b] * Vi[b]))
            want = dot > 0 and Fraction(dot * dot, na2 * nb2) >= \
                Fraction(81, 100)
            got_same = heads[a] == heads[b]
            if want:
                assert got_same, (a, b)  # edge ⇒ same component
    # magnitude guard is loud
    big = np.full((2, 8), 2**20, np.float64)
    import pytest
    with pytest.raises(ValueError, match="rescale"):
        sd._lattice_edges(big, 9, 10)
