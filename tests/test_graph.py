"""Connected-components semantics on hand-built graphs."""

import pytest

import ceres_spark.operators.graph as gr


def edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_chain_collapses_to_min_label(spark):
    # 1-2-3-4 chain plus disjoint 10-11: transitivity across hops
    e = edges(spark, [(2, 1), (2, 3), (3, 4), (10, 11)])
    out = {r["node"]: r["comp"] for r in gr.connected_components(e).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_nodes_only_from_edges(spark):
    # singletons are the caller's job — CC labels only edge endpoints
    e = edges(spark, [(5, 7)])
    out = gr.connected_components(e).collect()
    assert {r["node"] for r in out} == {5, 7}
    assert all(r["comp"] == 5 for r in out)


def test_direction_irrelevant(spark):
    a = gr.connected_components(edges(spark, [(1, 2), (3, 2)])).collect()
    b = gr.connected_components(edges(spark, [(2, 1), (2, 3)])).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_non_convergence_raises(spark):
    # a 12-node chain cannot converge in 2 rounds — must raise, never
    # return a partial labelling
    chain = [(i, i + 1) for i in range(11)]
    with pytest.raises(RuntimeError, match="converge"):
        gr.connected_components(edges(spark, chain), max_iter=2)


def union_find_labels(pairs):
    """Pure-Python reference: node -> min node id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def random_pairs(seed=7, n_nodes=200, n_edges=500):
    import random

    rng = random.Random(seed)
    return [(rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)]


@pytest.mark.parametrize("cc", [gr.connected_components,
                                gr.connected_components_star])
def test_labels_match_union_find_on_random_graph(spark, cc):
    pairs = random_pairs()
    out = {r["node"]: r["comp"] for r in cc(edges(spark, pairs)).collect()}
    assert out == union_find_labels(pairs)


@pytest.mark.parametrize("cc", [gr.connected_components,
                                gr.connected_components_star])
def test_no_driver_action_inside_the_round_loop(spark, monkeypatch, cc):
    # each round's convergence sums ride its checkpoint as observed
    # metrics: no collect/count/first may run inside either CC loop
    pairs = random_pairs(seed=11, n_nodes=60, n_edges=80)
    e = edges(spark, pairs)

    def banned(*a, **k):
        raise AssertionError("driver action inside a CC loop")

    with monkeypatch.context() as m:
        for name in ("collect", "count", "first", "take", "head"):
            m.setattr(type(e), name, banned)
        out = cc(e)
    got = {r["node"]: r["comp"] for r in out.collect()}
    assert got == union_find_labels(pairs)


def _within(seconds, fn):
    # an Observation whose metrics never arrive blocks forever in
    # `.get`; run it on a daemon thread so a hang fails, not stalls
    import threading

    box = {}
    t = threading.Thread(target=lambda: box.setdefault("v", fn()),
                         daemon=True)
    t.start()
    t.join(seconds)
    assert "v" in box, f"no result within {seconds}s"
    return box["v"]


@pytest.mark.parametrize("cc", [gr.connected_components,
                                gr.connected_components_star])
def test_empty_edge_list_returns_empty(spark, cc):
    for e in (edges(spark, []),
              edges(spark, [(1, 2), (2, 3)]).filter("src > 100")):
        out = _within(120, lambda: cc(e, max_iter=3))
        assert out.columns == ["node", "comp"]
        assert out.count() == 0


def test_round_count_is_pinned(spark):
    # on the path 0-1-…-(k-1) label 0 moves one hop per round: k-1
    # rounds reach the fixpoint and round k sees no change
    k = 6
    path = edges(spark, [(i, i + 1) for i in range(k - 1)])
    out = gr.connected_components(path, max_iter=k).collect()
    assert {r["node"]: r["comp"] for r in out} == dict.fromkeys(range(k), 0)
    for short in (k - 1, 0):
        with pytest.raises(RuntimeError, match="converge"):
            gr.connected_components(path, max_iter=short)


# ---- large-star/small-star contraction (the high-diameter variant) ----


def test_star_matches_minlabel_on_small_graphs(spark):
    cases = [
        [(2, 1), (2, 3), (3, 4), (10, 11)],          # chain + disjoint
        [(1, 2), (2, 3), (1, 3), (7, 8)],            # triangle + edge
        [(5, 7)],                                    # single edge
        [(1, 2), (3, 4), (2, 3)],                    # merged chains
    ]
    for pairs in cases:
        e = edges(spark, pairs)
        a = sorted(map(tuple, gr.connected_components(e).collect()))
        b = sorted(map(tuple, gr.connected_components_star(e).collect()))
        assert a == b, pairs


def test_star_matches_minlabel_on_random_graph(spark):
    # deterministic pseudo-random sparse graph: 120 nodes, 90 edges
    pairs = [((i * 37) % 120, (i * 53 + 11) % 120) for i in range(90)]
    pairs = [(a, b) for a, b in pairs if a != b]
    e = edges(spark, pairs)
    a = sorted(map(tuple, gr.connected_components(e).collect()))
    b = sorted(map(tuple, gr.connected_components_star(e).collect()))
    assert a == b


def test_star_handles_high_diameter_chain(spark):
    # a 600-node path has diameter 599: min-label needs ~600 rounds
    # (far past its max_iter) while star contraction needs O(log^2 n).
    # This is exactly the workload the variant exists for.
    n = 600
    chain = [(i, i + 1) for i in range(n - 1)]
    out = {
        r["node"]: r["comp"]
        for r in gr.connected_components_star(
            edges(spark, chain), max_iter=25
        ).collect()
    }
    assert len(out) == n
    assert set(out.values()) == {0}


def ref_pagerank(edges, n_iter=10, d=0.85):
    import numpy as np

    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    ix = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    deg = {u: 0 for u in nodes}
    for u, _ in edges:
        deg[u] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        nr = np.full(n, (1 - d) / n)
        dangle = sum(r[ix[u]] for u in nodes if deg[u] == 0)
        nr += d * dangle / n
        for u, v in edges:
            nr[ix[v]] += d * r[ix[u]] / deg[u]
        r = nr
    return {v: r[ix[v]] for v in nodes}


def test_pagerank_matches_power_iteration(spark):
    import ceres_spark.operators.graph as gr

    # a graph with a hub, a chain, and a dangling sink
    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 4), (3, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank"]
        for r in gr.pagerank(df, n_iter=12).collect()
    }
    want = ref_pagerank(edges, n_iter=12)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved


def test_pagerank_partitioning_invariant(spark):
    import ceres_spark.operators.graph as gr

    edges = [(i, (i * 7) % 23) for i in range(60)] + [(3, 40), (40, 3)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, gr.pagerank(df.repartition(1), n_iter=6).collect()))
    b = sorted(
        map(tuple, gr.pagerank(df.repartition(13, "src"), n_iter=6).collect())
    )
    assert a == b  # decimal accumulation: bit-equal under repartition


def test_pagerank_early_exit_converges(spark):
    import ceres_spark.operators.graph as gr

    edges = [(1, 2), (2, 1), (3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    full = {
        r["node"]: r["rank"] for r in gr.pagerank(df, n_iter=40).collect()
    }
    tol = {
        r["node"]: r["rank"]
        for r in gr.pagerank(df, n_iter=40, tol=1e-12).collect()
    }
    for v in full:
        assert abs(full[v] - tol[v]) < 1e-9


def test_pagerank_empty_edges_returns_empty(spark):
    # ADVICE r3: n == 0 must yield an empty (node, rank) frame, not
    # ZeroDivisionError at the 1/n init
    e = spark.createDataFrame([], "src long, dst long")
    out = gr.pagerank(e)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def ref_pagerank_units(edges, n_iter=6, mass=10**15, dn=17, dd=20):
    """Pure-Python mirror of the integer-lattice iteration."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    deg = {u: 0 for u in nodes}
    for u, _ in edges:
        deg[u] += 1
    base = (mass * (dd - dn)) // (dd * n)
    r = {v: mass // n for v in nodes}
    for _ in range(n_iter):
        dangle_share = sum(r[u] for u in nodes if deg[u] == 0) // n
        contrib = {v: 0 for v in nodes}
        for u, v in edges:
            contrib[v] += r[u] // deg[u]
        r = {
            v: base + (dn * (contrib[v] + dangle_share)) // dd
            for v in nodes
        }
    return r


def test_pagerank_units_matches_python_lattice(spark):
    import ceres_spark.operators.graph as gr

    edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 4), (3, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["rank_units"]
        for r in gr.pagerank_units(df, n_iter=6).collect()
    }
    want = ref_pagerank_units(edges, n_iter=6)
    assert got == want  # BIT-equal: integer lattice has one answer


def test_pagerank_units_close_to_float_pagerank(spark):
    import ceres_spark.operators.graph as gr

    edges = [(i, (i * 7) % 23) for i in range(60)] + [(3, 40), (40, 3)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    lat = {
        r["node"]: r["rank"]
        for r in gr.pagerank_units(df, n_iter=6).collect()
    }
    flt = ref_pagerank(edges, n_iter=6)
    for v in flt:
        # floor truncation per step is ~deg/mass — invisible at 1e-6
        assert abs(lat[v] - flt[v]) < 1e-6, (v, lat[v], flt[v])


def test_pagerank_units_partitioning_invariant(spark):
    import ceres_spark.operators.graph as gr

    edges = [(i, (i * 11) % 19) for i in range(50)] + [(2, 30), (30, 2)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(
        map(tuple, gr.pagerank_units(df.repartition(1), n_iter=5).collect())
    )
    b = sorted(
        map(
            tuple,
            gr.pagerank_units(df.repartition(13, "src"), n_iter=5).collect(),
        )
    )
    assert a == b


def test_pagerank_units_empty_and_bad_damping(spark):
    import pytest as _pt

    import ceres_spark.operators.graph as gr

    e = spark.createDataFrame([], "src long, dst long")
    out = gr.pagerank_units(e)
    # empty path must match the non-empty schema (review r5)
    assert out.columns == ["node", "rank_units", "rank"]
    assert out.count() == 0
    with _pt.raises(ValueError):
        gr.pagerank_units(
            spark.createDataFrame([(1, 2)], "src long, dst long"),
            damping_num=21,
        )


def test_triangle_counts_known_graph(spark):
    import ceres_spark.operators.graph as gr

    # K4 on 1..4 (every node in C(3,2)=3 triangles) + a pendant edge
    # + a disconnected triangle 10-11-12; edges in MIXED orientation
    # with a duplicate and a self-loop to exercise canonicalization
    edges = [(1, 2), (3, 1), (1, 4), (2, 3), (4, 2), (3, 4),
             (4, 5),            # pendant: no triangle
             (11, 10), (10, 12), (11, 12),
             (2, 1),            # duplicate, reversed
             (7, 7)]            # self-loop: dropped
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["doc_id"]: r["n_triangles"]
           for r in gr.triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 10: 1, 11: 1, 12: 1}
