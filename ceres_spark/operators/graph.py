"""Distributed connected components — transitive closure of the
pairwise near-dup relation.

Pairwise detectors (jaccard/minhash/simhash/embedding, dedup.py &
similarity.py) emit EDGES; corpus dedup needs CLUSTERS: if A~B and
B~C, all three are one duplicate group even when A~C is below
threshold. Not in the ceres reference (no relational surface at all,
SURVEY.md §2) — this is the north-star training-pipeline step that
turns near-dup pairs into a keep/drop decision.

Algorithm: iterative min-label propagation. Every node starts
labelled with itself; each round it adopts the minimum label among
itself and its neighbours; fixpoint = every node carries the minimum
node id of its component (a unique, deterministic labelling —
independent of partitioning and join order).

Scale notes:
- each round is ONE Spark action: the eager `localCheckpoint` of the
  new labels, which also carries the convergence sums as
  `DataFrame.observe` metrics. Round 1 needs no join (labels start as
  their own node), so R rounds cost 1 + R actions. A round is one
  shuffled join (edges ⋈ labels on node) + a map-side-combinable min
  aggregation — no windows, no collect.
- rounds = graph diameter. Near-dup graphs are dense blobs (diameter
  2-4), so this beats the constant-factor-heavier large-star/
  small-star contraction (O(log²) rounds) that would win on long
  chains; swap in star-contraction if a workload ever feeds this
  high-diameter graphs.
- `localCheckpoint` truncates the growing lineage each round —
  without it, round N replans rounds 1..N-1 (quadratic planning). On
  a real cluster with an HA requirement use `checkpoint()` to a
  replicated dir instead; localCheckpoint trades re-computability
  for speed, which is right for a deterministic rerunnable job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node of the undirected graph ``edges`` with the
    minimum node id reachable from it.

    Returns ``node, comp`` for every node that appears in an edge
    (callers union in singletons). Raises if ``max_iter`` rounds don't
    reach the fixpoint — a wrong-but-plausible labelling must never
    be silently returned.
    """
    # Γ(a) ∪ {a} in ONE edge list (optimization r12, guide §2.4):
    # both directions of every edge plus a self-loop per node, so each
    # round's neighbor-min already includes the node's own label. One
    # pass over ``edges`` and one checkpoint; `distinct` keeps one
    # self-loop per node and drops repeated edges, which no min sees.
    ends = ((src, dst), (dst, src), (src, src), (dst, dst))
    sym_self = (
        edges.select(F.inline(F.array(*(
            F.struct(F.col(x).alias("a"), F.col(y).alias("b"))
            for x, y in ends
        ))))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def dsum(c: str):  # decimal: immune to int64 overflow at scale
        return F.sum(F.col(c).cast("decimal(38,0)")).alias(c)

    # round 1: every label starts as its own node, so comp(b) = b
    nbr = sym_self.withColumnRenamed("b", "comp")
    prev_sum = None
    for _ in range(max_iter):
        labels, m = _checkpoint_observed(
            nbr.groupBy("a")
            .agg(F.min("comp").alias("comp"))
            .withColumnRenamed("a", "node"),
            dsum("comp"),
            dsum("node"),
        )
        # labels only ever DECREASE, so Σcomp strictly decreases iff
        # any label changed. Round 1's Σnode is the starting label sum:
        # each node has exactly one output row.
        if prev_sum is None:
            prev_sum = m["node"]
        if m["comp"] == prev_sum:
            return labels
        prev_sum = m["comp"]
        nbr = sym_self.join(labels, sym_self["b"] == labels["node"])
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def _checkpoint_observed(df: DataFrame, *metrics) -> tuple[DataFrame, dict]:
    """Eagerly ``localCheckpoint`` ``df`` and return it with the
    aggregate ``metrics`` observed on that same action — the one Spark
    action a fixpoint round pays (an `Observation` is single-use, so
    each call makes its own)."""
    obs = Observation()
    out = df.observe(obs, *metrics).localCheckpoint(eager=True)
    return out, obs.get


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 40,
) -> DataFrame:
    """Alternating large-star / small-star contraction — the
    O(log² n)-round connected components of Kiveris et al.,
    "Connected Components in MapReduce and Beyond" (SOCC'14).

    Same contract as :func:`connected_components` (``node, comp`` with
    ``comp`` = min node id of the component) but rounds grow with
    log² n instead of graph diameter: the right variant when the
    workload can feed HIGH-DIAMETER graphs (chains of borderline
    near-dups), where min-label's O(diameter) rounds would stall.
    Near-dup blobs (diameter 2–4) should keep using min-label — fewer,
    cheaper rounds.

    Each round is two groupBy-min + join passes over the current edge
    multiset; edges only ever point "downhill" toward smaller ids, and
    at the fixpoint the edge set is a forest of stars rooted at each
    component's minimum id.

    large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
    small-star(u): over Γ≤(u) = {v ∈ Γ(u): v < u}: m = min(Γ≤ ∪ {u});
                   emit (v, m) for v ∈ Γ≤(u) ∪ {u}, v ≠ m
    """
    # canonical DOWNHILL edge set (u > v), self-loops dropped
    # (optimization r12, guide §2.4): keeping `e` strictly downhill
    # makes the symmetric closure `e ∪ swap(e)` a DISJOINT union, so
    # the per-round `.distinct()` that used to follow it (a full
    # edge-set Exchange + HashAggregate) is provably a no-op and is
    # gone; the small-star output is strictly downhill too, so the
    # invariant self-maintains across rounds.
    e = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # remember every vertex: star rounds may contract a node away from
    # the edge list entirely once it points straight at the root
    vertices = (
        e.select(F.explode(F.array("u", "v")).alias("node"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    prev = None
    for _ in range(max_iter):
        # ---- large-star (`e` is downhill u→v, distinct, loop-free:
        # the symmetric closure below is a disjoint union — no
        # distinct needed, guide §2.4) ----
        se = e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = se.groupBy("u").agg(
            F.least(F.col("u"), F.min("v")).alias("m")
        )
        large = (
            se.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star over the large-star output ----
        # large is STRICTLY downhill (m = min(Γ(u) ∪ {u}) ≤ u < v for
        # every emitted (v, m)), so the downhill half of its symmetric
        # closure — what the old `union(swap).distinct().filter(v<u)`
        # computed — is large itself (two more per-round edge-set
        # shuffles gone).
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        # (v, m) for each small neighbor v, plus (u, m) for u itself;
        # the round's checkpoint also observes an order-free edge-set
        # fingerprint, stable iff the edge set stopped changing
        # (xxhash collisions can't produce a FALSE fixpoint two rounds
        # in a row on a shrinking-sum lattice)
        e, cur = _checkpoint_observed(
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct(),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("n"),
        )
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    # fixpoint: e is (node → root) stars; roots label themselves
    labels = vertices.join(
        e.select(F.col("u").alias("node"), F.col("v").alias("comp")),
        "node",
        "left",
    ).select(
        "node", F.coalesce("comp", F.col("node")).alias("comp")
    )
    return labels


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    n_iter: int = 10,
    src: str = "src",
    dst: str = "dst",
    tol: float = 0.0,
) -> DataFrame:
    """PageRank over the DIRECTED graph ``edges`` — the authority
    score a corpus pipeline hangs off its domain/source link graph
    (the CommonCrawl-style seed-quality signal). Brin & Page 1998
    semantics with proper dangling-mass redistribution: every
    iteration, rank lost at sink nodes is spread uniformly, so ranks
    sum to 1 at every step.

    Determinism at scale: per-node contribution sums and the dangling
    mass cross shuffle boundaries as DECIMAL(38,18), not doubles —
    float addition is order-dependent, so a double sum would make
    ranks depend on partitioning (the invariance contract every
    oracle-paired op here keeps; pytest pins partitioning-equality
    and ≤1e-9 agreement with a numpy power-iteration reference).

    Plan per iteration: one join of the edge list with the current
    rank vector (rank vector is node-cardinality — broadcast when
    small, shuffle-keyed when not; AQE decides), one dst-keyed
    aggregate with map-side combine, one scalar dangling aggregate.
    Lineage is truncated every few rounds like the CC loops. With
    ``tol > 0`` iteration stops early when the L1 delta (in decimal)
    drops below it.
    """
    D = "decimal(38,18)"
    # materialize the edge list ONCE — nodes/degrees/dangling all
    # derive from it, and the caller's edge construction may be an
    # expensive join it must not pay three times
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        # empty edge list → empty (node, rank) result, matching the
        # explicit empty-input behavior elsewhere (global_exact_ntile)
        # instead of ZeroDivisionError at the 1/n init
        return nodes.withColumn("rank", F.lit(None).cast("double"))
    deg = e.groupBy("u").agg(F.count("*").alias("_deg"))
    e_deg = e.join(deg, "u").localCheckpoint(eager=True)
    # the dangling SET is static — compute it once; when it is empty
    # (every node has out-edges) the whole per-iteration dangling
    # action disappears and iterations stay fully lazy between
    # checkpoints
    dangling = nodes.join(
        deg, nodes["node"] == deg["u"], "left_anti"
    ).localCheckpoint(eager=True)
    has_dangling = bool(dangling.limit(1).count())
    ranks = nodes.withColumn("rank", F.lit(1.0 / n).cast(D))
    base = (1.0 - float(damping)) / n
    for it in range(1, int(n_iter) + 1):
        contrib = (
            e_deg.join(ranks, e_deg["u"] == ranks["node"])
            .select(
                "v",
                (F.col("rank") / F.col("_deg")).cast(D).alias("_c"),
            )
            .groupBy("v")
            .agg(F.sum("_c").cast(D).alias("_in"))
        )
        if has_dangling:
            dangle = (
                ranks.join(dangling.select("node"), "node")
                .agg(F.sum("rank").cast(D).alias("_d"))
                .collect()[0]["_d"]
            )
            dangle_share = float(dangle or 0) / n
        else:
            dangle_share = 0.0
        new_ranks = (
            nodes.join(contrib, nodes["node"] == contrib["v"], "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(float(damping))
                    * (
                        F.coalesce(F.col("_in"), F.lit(0).cast(D))
                        + F.lit(dangle_share).cast(D)
                    )
                )
                .cast(D)
                .alias("rank"),
            )
        )
        if it % 3 == 0 or it == int(n_iter):
            new_ranks = new_ranks.localCheckpoint(eager=True)
        if tol > 0:
            delta = (
                new_ranks.join(ranks.withColumnRenamed("rank", "_old"), "node")
                .agg(F.sum(F.abs(F.col("rank") - F.col("_old"))).alias("_l1"))
                .collect()[0]["_l1"]
            )
            ranks = new_ranks
            if float(delta) < tol:
                break
        else:
            ranks = new_ranks
    return ranks.select(
        "node", F.col("rank").cast("double").alias("rank")
    )


def pagerank_units(
    edges: DataFrame,
    n_iter: int = 6,
    damping_num: int = 17,
    damping_den: int = 20,
    mass: int = 10**15,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Integer-lattice PageRank: the same Brin-&-Page iteration as
    :func:`pagerank` (dangling-mass redistribution included), but on a
    BIGINT unit lattice — ranks are integer "units" out of ``mass``,
    every per-step operation is integer multiply / floor-divide / sum.

    Why a lattice variant exists at all: float rank sums are
    order-dependent (so partitioning-dependent), and even the DECIMAL
    variant's per-step double⋅decimal products round differently
    across engines — which kept :func:`pagerank` a rows-only entry.
    Integer arithmetic has ONE answer everywhere: any engine, any
    partitioning, any executor count reproduces the result
    bit-for-bit, which is what lets the driver hash-check an
    ITERATIVE fixpoint against a recursive-CTE oracle. Floor errors
    are ≤ out_degree/mass per node per step — ~1e-13 relative at the
    default mass, pinned ≤1e-6 against the float reference in pytest.

    Overflow safety, by construction: total units never exceed
    ``mass`` (floors only shed mass), so every shuffle-side SUM is
    ≤ mass ≈ 1e15, and the one product ``damping_num · x`` is
    ≤ 17·1e15 ≈ 1.7e16 ≪ 2^63. Same per-iteration plan shape as
    :func:`pagerank`: edge⋈rank join, dst-keyed SUM with map-side
    combine, one scalar dangling aggregate; LONG columns shuffle
    ~2.4× narrower than DECIMAL(38,18) ones.
    """
    if damping_num >= damping_den or damping_num < 0:
        raise ValueError("damping_num/damping_den must be in [0, 1)")
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        # schema must match the non-empty path (node, rank_units, rank)
        return nodes.withColumn(
            "rank_units", F.lit(None).cast("long")
        ).withColumn("rank", F.lit(None).cast("double"))
    deg = e.groupBy("u").agg(F.count("*").alias("_deg"))
    e_deg = e.join(deg, "u").localCheckpoint(eager=True)
    dangling = nodes.join(
        deg, nodes["node"] == deg["u"], "left_anti"
    ).localCheckpoint(eager=True)
    has_dangling = bool(dangling.limit(1).count())
    base_units = (mass * (damping_den - damping_num)) // (damping_den * n)
    ranks = nodes.withColumn("units", F.lit(mass // n).cast("long"))
    for it in range(1, int(n_iter) + 1):
        contrib = (
            e_deg.join(ranks, e_deg["u"] == ranks["node"])
            .select("v", F.expr("units div _deg").alias("_c"))
            .groupBy("v")
            .agg(F.sum("_c").alias("_in"))
        )
        if has_dangling:
            dangle = (
                ranks.join(dangling.select("node"), "node")
                .agg(F.sum("units").alias("_d"))
                .collect()[0]["_d"]
            )
            dangle_share = int(dangle or 0) // n
        else:
            dangle_share = 0
        new_ranks = nodes.join(
            contrib, nodes["node"] == contrib["v"], "left"
        ).select(
            "node",
            F.expr(
                f"{base_units}L + ({damping_num}L * "
                f"(coalesce(_in, 0L) + {dangle_share}L)) "
                f"div {damping_den}L"
            ).alias("units"),
        )
        if it % 3 == 0 or it == int(n_iter):
            new_ranks = new_ranks.localCheckpoint(eager=True)
        ranks = new_ranks
    return ranks.select(
        "node",
        F.col("units").alias("rank_units"),
        (F.col("units").cast("double") / F.lit(float(mass))).alias("rank"),
    )


def triangle_counts(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """Per-node triangle counts on an undirected graph — the local
    community-density signal (the numerator of the clustering
    coefficient): on a near-dup graph, a doc in many triangles sits
    in a tight plagiarism/boilerplate cluster rather than a chance
    pairwise match.

    Plan: canonicalize to a < b (undirected edges arrive in either
    orientation; dedup), then the standard two-join wedge closure —
    wedges a→b→c from e1.b = e2.a, closed by probing (a, c) against
    the edge set. Every triangle a<b<c is generated exactly once, so
    per-node counts are exact. Joins are hash-shuffles on node keys;
    at production scale the classic refinement is degree-ordering
    (orient each edge low-degree → high-degree) which bounds wedge
    fan-out by the arboricity — the canonical a<b orientation used
    here IS that scheme under the near-dup graph's roughly uniform
    degrees, and a degree-ranked relabel can be prepended without
    touching the closure plan.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))  # drop self-loops
        .distinct()
        # eager localCheckpoint (optimization r12, guide §3.3/§5):
        # the closure consumes the edge set THREE times (e1/e2/e3),
        # and Catalyst clones the upstream plan per consumer — with a
        # pair-generation pipeline upstream (neardup_triangles' full
        # jaccard tokenize → band join → verify) the whole pipeline
        # ran 3×. The edge table is pair-cardinality — far smaller
        # than the corpus it came from — so staging it once is the
        # same contract as connected_components' input checkpoint.
        .localCheckpoint(eager=True)
    )
    wedges = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .select(
            F.col("e1.a").alias("_wa"),
            F.col("e1.b").alias("_wb"),
            F.col("e2.b").alias("_wc"),
        )
    )
    tri = wedges.join(
        e.alias("e3"),
        (F.col("_wa") == F.col("e3.a"))
        & (F.col("_wc") == F.col("e3.b")),
    ).select("_wa", "_wb", "_wc")
    return (
        tri.select(
            F.explode(
                F.array(F.col("_wa"), F.col("_wb"), F.col("_wc"))
            ).alias("doc_id")
        )
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_triangles"))
    )
