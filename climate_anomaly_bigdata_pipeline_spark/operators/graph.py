"""Iterative graph analytics on DataFrames: PageRank, triangle counting.

Connected components (the dedup workhorse) lives in
``operators/dedup.py``; this module adds the rank-propagation family.
The loop shape is the canonical iterative-Spark pattern: per round one
join (ranks onto edges) + one keyed aggregation (contributions by
destination), lineage truncated with lazy ``localCheckpoint`` so the
plan doesn't grow by a join per round. At 100 TB: pre-partition edges
and ranks by node id so the per-round join is co-partitioned, swap
``localCheckpoint`` for reliable ``checkpoint``.

Engine-parity contract (same recipe as the IVF codebook training):
per-destination contribution sums run in DECIMAL(30,18) — exact and
order-independent, so results are bit-identical in any engine that
follows the recipe — with the scalar damping arithmetic in double.
An external SQL oracle reproduces the iterations verbatim
(``queries/analyticsq.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    n_iter: int = 3,
    broadcast_ranks: bool = False,
) -> DataFrame:
    """PageRank over a directed edge list, ``n_iter`` synchronous
    iterations from the uniform start: r₀ = 1/N and

        r_{t+1}(v) = (1−d)/N + d · Σ_{u→v} r_t(u) / outdeg(u).

    A node with no out-edges absorbs rank (total mass < 1); callers add
    reverse edges or a sink node when they want conservation. The
    fixed iteration count is what the oracle mirrors.

    Deterministic: the contribution sum is DECIMAL
    (order-independent), every other step is double arithmetic on
    identical inputs.

    Per iteration: one equi-join of the 2-column rank table onto the
    edges and one sum keyed by destination — both shuffles keyed by
    node id, so bucketing both tables by node makes the loop
    exchange-free on a cluster. Node payloads never enter the loop.

    ``broadcast_ranks=True`` ships the rank table to every executor
    instead of shuffling the edge list each round — strictly better
    WHEN |V| fits the broadcast threshold (a 16-byte-row rank table:
    ~10M nodes per 160 MB); the shuffle-join default is the path that
    scales to arbitrary |V|.
    """
    # The 2-column edge list is consumed three times before the loop
    # (out-degree build, degree-join probe, node set); each un-pinned
    # consumption replays the caller's edge construction — for the
    # purchase graph a 60 M-row join + distinct + union, ~25 s per
    # replay at sf10. Pinning it here was MEASURED AND REJECTED for
    # the local profile: localCheckpoint holds deserialized rows, and
    # 117 M edges in the 8 GB local heap spill-thrashed the whole
    # query 152 s → 736 s (SCALE.md round-9 stage accounting). On a
    # real cluster the same replay cost is what bucketing or a
    # reliable ``checkpoint`` to distributed storage removes — pin
    # there, not here.
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # Degree rides the edge table through the loop (computed once).
    ed = e.join(deg, "src").localCheckpoint()
    # The node set reads the PINNED ed, not e: every node appears as a
    # src or dst of some edge (nodes are defined by the edge list), so
    # the sets are identical — and deriving it downstream of the
    # checkpoint drops one full replay of the caller's edge
    # construction (round-9 stage accounting: the un-pinned e is the
    # expensive input, consumed by the deg build and the join probe;
    # this was its third consumption).
    nodes = (
        ed.select(F.col("src").alias("node"))
        .union(ed.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:  # empty edge list: empty rank table, not a ZeroDivision
        return nodes.withColumn("rank", F.lit(0.0))

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(n_iter):
        r = ranks.withColumnRenamed("node", "src")
        if broadcast_ranks:
            r = F.broadcast(r)
        contrib = (
            ed.join(r, "src")
            .select(
                "dst",
                (F.col("rank") / F.col("outdeg"))
                .cast("decimal(30,18)")
                .alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * F.coalesce(F.col("s").cast("double"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    min_support: int = 2,
    max_group_size: int | None = 100_000,
) -> DataFrame:
    """Weighted co-occurrence edge list: ``(u, v, w)`` where u < v are
    items sharing a group and ``w`` counts the shared groups, kept at
    ``w >= min_support``. Built by collecting each group's distinct
    sorted item set and exploding its C(n,2) combinations — one keyed
    shuffle, versus two for the naive distinct + self-join on the
    group key (and the array form never materializes the join's hash
    table of the whole item set per key). Per-group work is C(n,2);
    ``max_group_size`` caps it in the operator itself (same contract
    as the LSH ``max_bucket_size`` guard): a pathological mega-group
    — one group containing 1% of all items would materialize ~10^9
    pair structs in a single task — must not OOM an executor. Pass
    ``None`` to disable (only when the group domain is known-bounded).

    The cap is never silent: an over-cap group fails the job through a
    plan-embedded ``raise_error``, evaluated inside the normal pass (no
    extra job), so results are never quietly incomplete.
    """
    sets = (
        df.select(F.col(group_col).alias("g"), F.col(item_col).alias("it"))
        .groupBy("g")
        .agg(F.array_sort(F.collect_set("it")).alias("items"))
        .where(F.size("items") >= 2)
    )
    if max_group_size is not None:
        sets = sets.where(
            F.when(
                F.size("items") > max_group_size,
                F.raise_error(
                    F.concat(
                        F.lit(
                            "cooccurrence_edges: group exceeds "
                            f"max_group_size={max_group_size}: "
                        ),
                        F.col("g").cast("string"),
                        F.lit(" size="),
                        F.size("items").cast("string"),
                    )
                ).cast("boolean"),
            ).otherwise(F.lit(True))
        )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("items"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("items"), i + 2, F.size(F.col("items"))
                        ),
                        lambda y: F.struct(
                            x.alias("u"), y.alias("v")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.u", "p.v")
    return (
        pairs.groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= min_support)
    )


def _canonical_edges(edges: DataFrame, u_col: str, v_col: str) -> DataFrame:
    """The deduped, self-loop-free u<v edge set of an undirected edge
    list, lineage-truncated (every caller reads it more than once)."""
    return (
        edges.select(
            F.least(u_col, v_col).alias("u"),
            F.greatest(u_col, v_col).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )


def _orient(e: DataFrame) -> DataFrame:
    """Orient a canonical edge set by (degree, id): each edge becomes
    ``(s, d)`` from the lower endpoint to the higher one. Acyclic, so
    every triangle of ``e`` or of any subgraph of it has exactly one
    node with both of its edges pointing out."""
    deg = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    return (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("d")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("d")))
            .alias("o")
        )
        .select(F.col("o.s").alias("s"), F.col("o.d").alias("d"))
        .localCheckpoint()
    )


def _triangles(oriented: DataFrame) -> DataFrame:
    """One row ``(a, b, c)`` per triangle of an oriented edge set: the
    wedges a→b, a→c (b < c) closed by an edge between b and c in
    either direction."""
    w1 = oriented.select(F.col("s").alias("a"), F.col("d").alias("b"))
    w2 = oriented.select(F.col("s").alias("a"), F.col("d").alias("c"))
    wedges = w1.join(w2, "a").where(F.col("b") < F.col("c"))
    # NB: union is positional — keep both branches in (b, c) column order.
    closing = oriented.select(F.col("s").alias("b"), F.col("d").alias("c")).union(
        oriented.select(F.col("d").alias("b"), F.col("s").alias("c"))
    )
    return wedges.join(closing, ["b", "c"]).select("a", "b", "c")


def _edge_support(tri: DataFrame) -> DataFrame:
    """``(u, v, support)``: the number of triangles of ``tri`` on each
    canonical u<v edge that lies in at least one."""
    tri_edges = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("a", "b").alias("u"),
                    F.greatest("a", "b").alias("v"),
                ),
                F.struct(
                    F.least("a", "c").alias("u"),
                    F.greatest("a", "c").alias("v"),
                ),
                F.struct(
                    F.least("b", "c").alias("u"),
                    F.greatest("b", "c").alias("v"),
                ),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    return tri_edges.groupBy("u", "v").agg(F.count(F.lit(1)).alias("support"))


def oriented_triangles(
    edges: DataFrame, u_col: str = "u", v_col: str = "v"
) -> tuple[DataFrame, DataFrame]:
    """Enumerate each triangle of an undirected edge list exactly once
    via the degree-ordered orientation: returns ``(tri, canonical)``
    where ``tri`` has one row (a, b, c) per triangle and ``canonical``
    is the deduped self-loop-free u<v edge set the triangles were found
    over. See triangles_per_node for the complexity argument."""
    e = _canonical_edges(edges, u_col, v_col)
    return _triangles(_orient(e)), e


def triangles_per_node(
    edges: DataFrame, u_col: str = "u", v_col: str = "v"
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list, via the
    degree-ordered orientation (Suri & Vassilvitskii's MR triangle
    counting): orient every edge from the endpoint with smaller
    ``(degree, id)`` to the larger, so each node's out-degree is
    O(√m) and the wedge join (out-edges ⋈ out-edges on the pivot)
    touches Σ outdeg(a)² = O(m^1.5) rows instead of Σ deg(a)² — the
    bound that makes triangle counting feasible on a 100 TB edge set.
    A wedge a→b, a→c closes iff the oriented edge b→c exists; each
    triangle is found exactly once, then exploded to its 3 vertices.
    Self-loops are dropped up front (an oriented u→u would otherwise
    fabricate a wedge that "closes" through any real neighbor).

    All three steps are equi-joins / keyed aggregations (shuffle on
    node id); no cross join, no driver-side collection. The canonical
    edge set and the oriented set are each consumed by several plan
    branches, so both are lineage-truncated with ``localCheckpoint``
    (otherwise the upstream edge construction replays per branch).
    Returns ``(node, n_triangles)`` for nodes in ≥1 triangle.
    """
    tri, _ = oriented_triangles(edges, u_col, v_col)
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def triangle_support_per_edge(
    edges: DataFrame, u_col: str = "u", v_col: str = "v"
) -> DataFrame:
    """Per-EDGE triangle counts (the k-truss "support"): each triangle
    (a, b, c) found once by the oriented enumeration contributes to its
    three canonical u<v edges; edges in no triangle keep support 0 via
    a left join from the canonical edge set. Support >= k-2 is exactly
    the k-truss membership condition, so this is the peel-step primitive
    — same O(m^1.5) wedge bound and all-equi-join shape as
    triangles_per_node."""
    tri, canonical = oriented_triangles(edges, u_col, v_col)
    sup = _edge_support(tri)
    return canonical.join(sup, ["u", "v"], "left").select(
        "u", "v", F.coalesce("support", F.lit(0)).cast("long").alias("support")
    )


def bfs_distances(
    edges: DataFrame,
    source,
    u_col: str = "u",
    v_col: str = "v",
    max_hops: int = 6,
) -> DataFrame:
    """Single-source shortest hop-distances over an undirected edge
    list, bounded at ``max_hops`` — synchronous frontier BFS, the
    Pregel iteration as DataFrames. Per round: one equi-join of the
    current frontier onto the (bidirectional) edge list + one
    left-anti join against the visited set; both shuffle on node id,
    so pre-partitioning edges by node makes rounds exchange-free.
    Work per round is O(edges touched by the frontier), never O(V²);
    ``localCheckpoint`` truncates lineage so the plan stays flat.

    Returns ``(node, dist)`` for every node within ``max_hops``.
    """
    bidir = edges.select(
        F.col(u_col).alias("s"), F.col(v_col).alias("d")
    ).union(edges.select(F.col(v_col).alias("s"), F.col(u_col).alias("d")))
    bidir = bidir.where(F.col("s") != F.col("d")).distinct().localCheckpoint()

    visited = (
        bidir.sparkSession.range(1)
        .select(F.lit(source).alias("node"), F.lit(0).cast("int").alias("dist"))
        .localCheckpoint()
    )
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(bidir, frontier["node"] == bidir["s"])
            .select(F.col("d").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("dist", F.lit(hop).cast("int"))
        )
        nxt = nxt.localCheckpoint()
        if nxt.isEmpty():
            break
        visited = visited.union(nxt).localCheckpoint()
        frontier = nxt
    return visited


def k_core(
    edges: DataFrame,
    k: int,
    u_col: str = "u",
    v_col: str = "v",
    max_rounds: int = 50,
) -> DataFrame:
    """Nodes of the ``k``-core of an undirected graph: iteratively peel
    every node with degree < k until a fixpoint (Matula & Beck's
    peeling, the degeneracy primitive behind dense-community and spam
    detection).

    Per round: one grouped degree count + two anti-joins removing the
    peeled endpoints — every step an equi-shuffle on node id, so
    bucketing edges by node makes rounds exchange-free (the same
    posture as :func:`bfs_distances` / the star CC rounds), and
    ``localCheckpoint`` truncates the growing lineage. Rounds are
    data-dependent but bounded by the longest peeling chain; the loop
    early-exits the first round nothing peels. Work per round is
    O(remaining edges), never O(V²).

    Returns ``(node, degree)`` for the surviving core (degree within
    the core, >= k by construction).
    """
    bidir = (
        edges.select(F.col(u_col).alias("s"), F.col(v_col).alias("d"))
        .union(edges.select(F.col(v_col).alias("s"), F.col(u_col).alias("d")))
        .where(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint()
    )
    cur = bidir
    rounds_used = 0
    for _ in range(max_rounds):
        low = (
            cur.groupBy("s")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") < k)
            .select("s")
        )
        if low.isEmpty():
            break
        rounds_used += 1
        low = low.localCheckpoint()
        lx = low.withColumnRenamed("s", "x")
        cur = (
            cur.join(lx, cur.s == lx.x, "left_anti")
            .join(lx, F.col("d") == lx.x, "left_anti")
            .localCheckpoint()
        )
    out = cur.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    # Peeling rounds actually executed (fixpoint depth) — exposed so
    # callers with a fixed-unroll oracle can assert a safety margin.
    out.kcore_rounds = rounds_used
    return out


def adamic_adar(
    edges: DataFrame,
    max_neighbor_degree: int | None = None,
) -> DataFrame:
    """Adamic-Adar link-prediction scores for all non-adjacent pairs:
    ``(u, v, common_neighbors, aa_score)`` with
    score(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)).

    ``edges`` is an undirected edge list ``(u, v)`` with u < v, no
    duplicates. Candidate pairs come from the wedge equi-join on the
    shared-neighbor key — never an all-pairs comparison; degrees
    attach to the adjacency rows BEFORE the wedge join so no
    post-explosion lookup is needed. Every shared neighbor has
    deg ≥ 2 by construction, so ln(deg) > 0.

    Scale guard: the wedge fan-out is Σ_w deg(w)² — a hub-skewed
    graph (one celebrity node adjacent to 1% of a 100 TB corpus)
    detonates it quadratically. ``max_neighbor_degree`` bounds the
    blow-up by dropping SHARED-NEIGHBOR roles above the cap (each
    contributes ≤ 1/ln(cap) per pair, so high-degree hubs carry the
    least per-pair signal — the standard mitigation). The cap is never
    silent: the wedges it drops are counted with ``DataFrame.observe``,
    exposed as ``result.overcap_observation`` (metric key
    ``capped_wedges_dropped`` = Σ_{deg(w)>cap} C(deg(w), 2); None when
    no cap is set).

    Float parity (for cross-engine oracles): the per-pair score folds
    cnt/ln(deg) over the degree-sorted (deg, cnt) list in pinned order
    and rounds to 6 decimals to absorb ln() ulp differences.
    """
    edges = edges.select("u", "v").localCheckpoint()  # adjacency ×2 + anti-join
    adj = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("k"))
    observation = None
    if max_neighbor_degree is not None:
        cap = int(max_neighbor_degree)
        observation = Observation()
        deg = deg.observe(
            observation,
            F.sum(
                F.when(
                    F.col("k") > cap,
                    F.col("k") * (F.col("k") - 1) / 2,
                ).otherwise(F.lit(0)).cast("long")
            ).alias("capped_wedges_dropped"),
        )
        # dropping the DEGREE row removes the node only in its
        # wedge-center (shared-neighbor) role; it still appears as
        # an endpoint of other wedges, which is the semantics the
        # oracle mirror (WHERE k <= cap in the degree CTE) has.
        deg = deg.where(F.col("k") <= cap)
    adjd = adj.join(
        deg.select(F.col("node").alias("nbr"), F.col("k").alias("kw")),
        "nbr",
    )
    a, b = adjd.alias("a"), adjd.alias("b")
    wedge = a.join(
        b,
        (F.col("a.nbr") == F.col("b.nbr"))
        & (F.col("a.node") < F.col("b.node")),
    ).select(
        F.col("a.node").alias("u"),
        F.col("b.node").alias("v"),
        F.col("a.kw").alias("kw"),
    )
    cand = wedge.join(edges, ["u", "v"], "left_anti")
    gt = cand.groupBy("u", "v", "kw").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    out = gt.groupBy("u", "v").agg(
        F.sum("cnt").cast("long").alias("common_neighbors"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("kw", "cnt"))),
                F.lit(0.0),
                lambda acc, s: acc
                + s["cnt"].cast("double") / F.log(s["kw"].cast("double")),
            ),
            6,
        ).alias("aa_score"),
    )
    out.overcap_observation = observation
    return out


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Community detection by synchronous label propagation with a
    FIXED round count and deterministic tie-breaking: labels start as
    node ids; each round every node adopts the MODE of its neighbors'
    labels, ties to the SMALLEST label. The fixed unroll is the
    determinism contract (the k_core posture) — synchronous LPA can
    oscillate on bipartite-ish structure, and a convergence loop would
    make the result run-dependent; R rounds from the id start is a
    pure function of the graph on every engine.

    ``edges`` is the canonical undirected (u < v) list. Per round: one
    equi-join (adjacency ⋈ labels on the neighbor key) + one grouped
    count + one per-node argmax — all hash exchanges on node keys, the
    shape that bucketed edges make exchange-free at 100 TB. Labels are
    lazily checkpointed per round to cut lineage growth.

    Returns ``(node, community)`` — the community id is the label that
    survived round R (a node id, stable across runs).
    """
    edges = edges.select("u", "v").localCheckpoint()
    adj = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    labels = adj.select("node").distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(int(rounds)):
        cnt = (
            adj.join(
                labels.select(F.col("node").alias("nbr"), "lbl"), "nbr"
            )
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        # argmax by (count DESC, label ASC): max over (cnt, -lbl)
        labels = (
            cnt.groupBy("node")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("lbl")).alias("nl"))
                ).alias("m")
            )
            .select("node", (-F.col("m.nl")).alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return labels.select("node", F.col("lbl").alias("community"))


def ktruss_decomposition(
    edges: DataFrame,
    u_col: str = "u",
    v_col: str = "v",
    k_max: int = 5,
    max_rounds: int = 6,
) -> list[tuple[int, int, int]]:
    """Sequential k-truss peel over an undirected edge list: for each
    k = 3..``k_max``, iteratively remove edges with triangle support
    < k−2 (recomputing support each round) until a fixpoint, starting
    each level from the previous level's truss (valid because the
    (k+1)-truss is a subset of the k-truss). Returns bounded driver
    rows ``(k, truss_edges, truss_nodes)`` — the trained-codebook
    posture: the loop runs distributed (each round is one oriented
    triangle enumeration, the O(m^1.5) equi-join shape of
    :func:`triangle_support_per_edge`), only the per-level COUNTS come
    back to the driver.

    ``max_rounds`` bounds the per-level peel and is MIRRORED by the
    oracle's unrolled CTE chain — not a silent cap: both engines stop
    after the same round count, so the contract stays exact even if a
    pathological cascade outruns the bound (measured fixpoints on the
    co-purchase graph: ≤ 3 rounds per level at sf0.01/sf0.1, bound 6).
    Each round's survivor set is lineage-truncated (localCheckpoint) —
    an un-truncated peel replays every prior round's triangle join
    per action, going quadratic in rounds.
    """
    # Orient ONCE by the initial graph's (degree, id) order and reuse
    # the orientation for every peel round: any acyclic orientation
    # enumerates each triangle of any SUBGRAPH exactly once, and the
    # initial degree order keeps the wedge bound at the first round's
    # O(m^1.5) (it can only loosen as edges leave). Re-orienting per
    # round (the triangle_support_per_edge path) re-derives degrees,
    # re-canonicalizes, and double-checkpoints every round — measured
    # ~2x the whole peel's cost at sf1.
    cur = _orient(_canonical_edges(edges, u_col, v_col))
    n = cur.count()
    out: list[tuple[int, int, int]] = []
    for k in range(3, k_max + 1):
        for _ in range(max_rounds):
            if n == 0:
                break
            sup = _edge_support(_triangles(cur))
            # an oriented edge (s, d) has s < d OR s > d depending on
            # the degree rule; support rows are canonical (min, max),
            # so probe both orders with one keyed join on the
            # canonical pair
            keep = (
                cur.withColumn("u", F.least("s", "d"))
                .withColumn("v", F.greatest("s", "d"))
                .join(sup, ["u", "v"])
                .filter(F.col("support") >= k - 2)
                .select("s", "d")
                .localCheckpoint()
            )
            n_new = keep.count()
            cur = keep
            if n_new == n:
                break
            n = n_new
        n_nodes = (
            cur.select(F.col("s").alias("nd"))
            .union(cur.select(F.col("d").alias("nd")))
            .distinct()
            .count()
            if n
            else 0
        )
        out.append((k, n, n_nodes))
    return out
