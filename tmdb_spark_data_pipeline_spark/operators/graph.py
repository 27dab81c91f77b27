"""Graph-motif operators over edge lists.

Triangle counting via DEGREE ORIENTATION (the node-iterator++ / forward
algorithm): orient every undirected edge from its lower-(degree, id)
endpoint to the higher one. Out-degrees are then bounded by O(√m) on ANY
graph, so enumerating wedges (pairs of out-neighbors per apex) costs
Σ outdeg² ≈ m^1.5 instead of the Σ deg² a hub node turns quadratic — the
difference between finishing and not finishing on a power-law graph at
100 TB. Each triangle has exactly one apex with two out-edges under the
orientation total order, so one equi-join against the canonical edge set
counts every triangle exactly once.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import Rounds
from . import rank


def _closed_wedges(e0: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-oriented closed-wedge (triangle) enumeration: direct every
    id-canonical edge from its lower-(degree, id) endpoint to the higher, so
    each node's out-degree is O(√m) and the wedge self-join costs Σ outdeg²
    ≈ m^1.5 even on hub-heavy graphs; each triangle has exactly ONE apex
    with two out-edges, so the closing equi-join emits it exactly once as
    ``(apex, b, c)`` with ``b < c``."""
    oriented = (
        e0.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("s"), F.col("v").alias("t")),
            )
            .otherwise(F.struct(F.col("v").alias("s"), F.col("u").alias("t")))
            .alias("__e")
        )
        .select(F.col("__e.s").alias("s"), F.col("__e.t").alias("t"))
    )
    e1 = oriented.select(F.col("s").alias("apex"), F.col("t").alias("b"))
    e2 = oriented.select(F.col("s").alias("apex"), F.col("t").alias("c"))
    wedge = e1.join(e2, "apex").filter(F.col("b") < F.col("c"))
    closing = e0.select(F.col("u").alias("b"), F.col("v").alias("c"))
    return wedge.join(closing, ["b", "c"])


def triangle_stats(edges: DataFrame, u_col: str = "u", v_col: str = "v") -> DataFrame:
    """Count triangles + wedges + the global clustering coefficient of an
    undirected simple graph given as id-canonical edges (``u < v``, no
    duplicates — the caller's contract).

    Returns one row: (n_nodes, n_edges, n_triangles, n_wedges,
    clustering_coeff). All counts are exact integers; the coefficient is
    the single final double division 3·triangles / wedges.
    """
    e0 = edges.select(F.col(u_col).alias("u"), F.col(v_col).alias("v"))
    deg = (
        e0.select(F.col("u").alias("n"))
        .unionAll(e0.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    tri = _closed_wedges(e0, deg).agg(F.count("*").alias("t"))
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) DIV 2")).alias("n_wedges"),
    )
    n_edges = e0.agg(F.count("*").alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            F.col("t").alias("n_triangles"),
            "n_wedges",
            F.round(3.0 * F.col("t") / F.col("n_wedges"), 6).alias(
                "clustering_coeff"
            ),
        )
    )


def local_clustering(
    edges: DataFrame, u_col: str = "u", v_col: str = "v"
) -> DataFrame:
    """Per-node triangle counts + LOCAL clustering coefficient
    ``2·T(v) / (d(v)·(d(v)−1))`` of an undirected simple graph given as
    id-canonical edges (``u < v``, no duplicates — the ``triangle_stats``
    contract). Returns ``(node, degree, triangles, local_cc)`` for every
    node of degree ≥ 2 (the coefficient is undefined below that).

    Same degree-oriented enumeration as ``triangle_stats``
    (``_closed_wedges`` — Σ outdeg² ≈ m^1.5 wedge join), then each closed
    wedge credits ALL THREE corners via one explode: the per-node rollup is
    a plain hash aggregation on node id, and the degree table left-joins
    back (nodes in no triangle keep T=0). All counts exact integers; the
    coefficient is one final double division. At 100 TB scale nothing here
    is node-quadratic: the only superlinear term is the m^1.5 wedge join
    shared with the global statistic."""
    e0 = edges.select(F.col(u_col).alias("u"), F.col(v_col).alias("v"))
    deg = (
        e0.select(F.col("u").alias("n"))
        .unionAll(e0.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    corners = _closed_wedges(e0, deg).select(
        F.explode(F.array("apex", "b", "c")).alias("n")
    )
    tcnt = corners.groupBy("n").agg(F.count("*").alias("t"))
    return (
        deg.filter(F.col("d") >= 2)
        .join(tcnt, "n", "left")
        .select(
            F.col("n").alias("node"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("triangles"),
            F.round(
                (2 * F.coalesce("t", F.lit(0))).cast("double")
                / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("local_cc"),
        )
    )


def _symmetric(edges: DataFrame, u: str, v: str, *carry: Column) -> DataFrame:
    """Both directions of every edge ``(u, v)`` as ``(src, dst, *carry)``."""
    return edges.select(F.col(u).alias("src"), F.col(v).alias("dst"), *carry).unionAll(
        edges.select(F.col(v).alias("src"), F.col(u).alias("dst"), *carry)
    )


def _peel(
    sym: DataFrame,
    strength: Column,
    floor: int,
    name: str,
    measure: str,
    max_iter: int,
) -> DataFrame:
    """The peel loop of ``kcore`` and ``s_core`` over a symmetric edge list
    ``sym`` (src, dst, ...), a checkpoint the loop consumes: each round
    drops every node whose ``strength`` aggregate over its ``src`` rows is
    below ``floor``, until none is. Odd rounds cut the surviving edge list
    (each cut materializes the whole list, and halving them saves ~1/3 of
    the loop wall — the pagerank_fixed measurement); every 3rd cut
    launders the size estimate each anti-join round multiplies
    (``session.Rounds``). Raises ``RuntimeError`` naming ``name`` and
    ``measure`` if ``max_iter`` rounds leave such nodes."""
    converged = False
    consumed = [sym]  # read for the last time by the next cut
    with Rounds(launder_every=3) as rounds:
        for i in range(max_iter):
            deg = sym.groupBy("src").agg(strength.alias("__d"))
            # three consumers of the tiny dead list (probe + both anti-join
            # sides) — materialize once, not three degree aggregates per round
            dead = deg.filter(F.col("__d") < floor).select("src").localCheckpoint()
            if dead.isEmpty():
                rounds.drop(dead)  # empty probe list, consumed by nothing
                converged = True
                break
            consumed.append(dead)
            sym = sym.join(dead, "src", "left_anti").join(
                dead.select(F.col("src").alias("dst")), "dst", "left_anti"
            )
            if i % 2 == 1:
                sym = rounds.cut(sym, *consumed)
                consumed = []
    if not converged and not (
        sym.groupBy("src").agg(strength.alias("__d"))
        .filter(F.col("__d") < floor)
        .isEmpty()
    ):
        raise RuntimeError(
            f"{name} did not converge within max_iter={max_iter} rounds: "
            f"{measure}-<{floor} nodes remain (peel depth exceeds max_iter — "
            "raise max_iter)"
        )
    return sym


def kcore(
    edges: DataFrame,
    k: int,
    *,
    u_col: str = "u",
    v_col: str = "v",
    max_iter: int = 50,
) -> DataFrame:
    """The k-CORE of an undirected simple graph (id-canonical edges, the
    ``triangle_stats`` contract): iteratively peel every node of degree
    < k until none remains — the standard community-density filter (a
    node survives iff it has ≥ k surviving neighbors; the 3-core of a
    co-purchase graph is its "always bought together" backbone).

    Returns ``(node, core_deg)`` — surviving nodes with their degree
    INSIDE the core. Peeling is the Pregel discipline of
    ``dedup.connected_components``: each round is one symmetric-degree
    aggregate + two anti-joins carrying (src, dst) longs only,
    ``localCheckpoint`` truncates the iterative lineage, and the
    per-round convergence ``count()`` is the documented one-scalar
    exception to the no-driver-collect rule. Rounds are bounded by the
    peel DEPTH (≤ degeneracy ≪ n); each removes every currently-light
    node at once, so cascades collapse into few rounds. If the cascade
    is DEEPER than ``max_iter`` (a long chain peels one layer per round)
    the function raises rather than silently returning a non-core with
    degree-<k nodes still present (ADVICE r6) — callers on pathological
    graphs raise ``max_iter``; the result is always a true k-core."""
    sym = _symmetric(edges, u_col, v_col).localCheckpoint()
    sym = _peel(sym, F.count("*"), k, "kcore", "degree", max_iter)
    return sym.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("core_deg")
    )


def s_core(
    edges: DataFrame,
    s: int,
    *,
    u_col: str = "u",
    v_col: str = "v",
    w_col: str = "w",
    max_iter: int = 50,
) -> DataFrame:
    """The s-CORE (weighted k-core; Eidsaa & Almaas 2013, public method)
    of an undirected weighted simple graph: iteratively peel every node
    whose total incident edge WEIGHT (strength) is < ``s`` until none
    remains. Where ``kcore`` filters on partner COUNT, this filters on
    interaction VOLUME — a part with three weight-1 partners survives a
    3-core but not an s=6 core, while a two-partner node with heavy
    edges does; the density filter that respects how often things
    co-occur, not just whether they do.

    Returns ``(node, core_deg, core_weight)`` — surviving nodes with
    their degree and strength INSIDE the core. Same Pregel discipline
    and convergence guard as ``kcore``: per round one grouped weight sum
    + two anti-joins carrying (long, long, long) rows, localCheckpoint
    lineage truncation, a convergence scalar per round, and a raise if
    ``max_iter`` rounds exhaust with light nodes remaining (silent
    non-cores never escape)."""
    sym = _symmetric(edges, u_col, v_col, F.col(w_col).alias("w")).localCheckpoint()
    sym = _peel(sym, F.sum("w"), s, "s_core", "strength", max_iter)
    return sym.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("core_deg"),
        F.sum("w").cast("long").alias("core_weight"),
    )


def _pagerank_rounds(
    edges: DataFrame,
    u_col: str,
    v_col: str,
    iters: int,
    degree: Column,
    share: str,
    start: Callable,
    *carry: Column,
) -> DataFrame:
    """The round loop of the fixed-iteration PageRanks over the symmetrized
    ``edges`` (``carry`` columns ride along). ``degree`` is the aliased
    per-node aggregate over its out-edges; it is static across rounds, so
    it is attached to the edge list ONCE and each round needs a single
    (node, rank)⋈edges join, not two. ``share`` is the SQL for one edge's
    contribution from ``rank`` and that degree. ``start(deg, rounds)``
    returns the initial ``(node, rank)`` frame and the teleport step that
    turns the per-``dst`` contribution sums ``__s`` into the next one.

    Per round: one key-partitioned join + one grouped sum — shuffles carry
    longs, never payloads. Every OTHER round (and the last) is cut: two
    rounds of join+agg lineage is shallow, and each cut costs a full
    materialization — halving them saves ~1/3 of the loop wall. Output:
    (node, rank_micro)."""
    with Rounds() as rounds:
        sym = rounds.hold(_symmetric(edges, u_col, v_col, *carry))
        deg = sym.groupBy("src").agg(degree)
        ranks, teleport = start(deg, rounds)
        sym_deg = rounds.hold(
            sym.join(deg, "src").select(
                F.col("src").alias("node"), *sym.columns[1:], *deg.columns[1:]
            )
        )
        for i in range(iters):
            contrib = ranks.join(sym_deg, "node").select(
                "dst", F.expr(share).alias("__c")
            )
            ranks = teleport(contrib.groupBy("dst").agg(F.sum("__c").alias("__s")))
            if i % 2 == 1 or i == iters - 1:
                ranks = rounds.cut(ranks)
        if not iters:
            ranks = rounds.cut(ranks)  # the start frame reads the held inputs
        return ranks.select("node", F.col("rank").alias("rank_micro"))


def _uniform_start(scale: int, deg: DataFrame, _rounds: Rounds):
    """``_pagerank_rounds`` start for global PageRank: ``scale DIV n`` on
    every node, and a uniform teleport ``(15·(scale DIV n)) DIV 100``."""
    n = deg.agg(F.count("*").alias("__nn"))
    ranks = deg.crossJoin(F.broadcast(n)).select(
        F.col("src").alias("node"),
        F.expr(f"CAST({scale} DIV __nn AS BIGINT)").alias("rank"),
    )

    def teleport(summed: DataFrame) -> DataFrame:
        return summed.crossJoin(F.broadcast(n)).select(
            F.col("dst").alias("node"),
            F.expr(
                f"CAST((15 * ({scale} DIV __nn)) DIV 100"
                " + (85 * __s) DIV 100 AS BIGINT)"
            ).alias("rank"),
        )

    return ranks, teleport


def pagerank_fixed(
    edges: DataFrame,
    *,
    iters: int = 5,
    u_col: str = "u",
    v_col: str = "v",
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-iteration PageRank over the SYMMETRIZED graph, in ALL-INTEGER
    arithmetic so an external engine replays it bit-for-bit: ranks live in
    micro-units of ``scale`` total mass, every division is integer DIV
    (floor), and each of the ``iters`` synchronous rounds computes
    ``rank' = (15·(scale DIV n)) DIV 100 + (85·Σ (rank DIV outdeg)) DIV
    100`` — damping 0.85 as an exact integer formula. Float PageRank is
    NOT cross-engine checkable (neighbor-sum order changes the last ulp);
    the integer form loses a bounded floor remainder per round and gains
    determinism, which is the right trade for an oracle-gated pipeline.
    Symmetric graphs have no dangling nodes (every node has out-edges and
    in-edges), so no dangling-mass term is needed.

    Iteration shape: ``_pagerank_rounds`` — per round one key-partitioned
    join of (node, rank) against the out-edge list and one grouped sum;
    shuffles carry (long, long) pairs, never payloads. Output: (node,
    rank_micro)."""
    return _pagerank_rounds(
        edges, u_col, v_col, iters, F.count("*").alias("outdeg"),
        "rank DIV outdeg", partial(_uniform_start, scale),
    )


def pagerank_weighted_fixed(
    edges: DataFrame,
    *,
    iters: int = 5,
    u_col: str = "u",
    v_col: str = "v",
    w_col: str = "w",
    scale: int = 10**12,
) -> DataFrame:
    """WEIGHTED fixed-iteration PageRank: same all-integer micro-unit
    discipline as ``pagerank_fixed``, but a node's rank splits across its
    out-edges PROPORTIONALLY TO EDGE WEIGHT instead of uniformly —
    ``contrib(u→v) = (rank_u · w_uv) DIV Σ_x w_ux``. On a co-purchase
    graph where the weight is the co-occurrence count, centrality then
    follows purchase VOLUME, not mere adjacency — the ranking a
    merchandiser actually wants (a part co-bought 50× with a hub should
    outrank one co-bought twice). Weights must be positive integers
    (caller's contract; counts are). Multiply-before-divide keeps the
    floor exact and stays in bigint: rank < scale=10^12 and Σw per node
    < ~10^6 at any realistic degree, so rank·w < 10^18 < 2^63.

    Same per-round shape and replayability as the unweighted form: one
    (node, rank) join against the weighted out-edge list + one grouped
    sum, (long, long, long) shuffles; an external engine replays every
    floor division bit-for-bit."""
    return _pagerank_rounds(
        edges, u_col, v_col, iters, F.sum("w").alias("wdeg"),
        "(rank * w) DIV wdeg", partial(_uniform_start, scale), F.col(w_col).alias("w"),
    )


def personalized_pagerank_fixed(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    iters: int = 5,
    u_col: str = "u",
    v_col: str = "v",
    seed_col: str = "id",
    scale: int = 10**12,
) -> DataFrame:
    """Personalized PageRank (restart to a SEED SET) in the same
    all-integer discipline as ``pagerank_fixed``: the teleport mass
    ``(15·(scale DIV n_seeds)) DIV 100`` returns to seed nodes only, so
    the stationary mass concentrates in the seeds' graph neighborhood —
    "parts similar to THIS brand's parts", the recommendation-seed query
    global PageRank can't answer. Seeds outside the graph are ignored
    (they can neither receive nor forward mass); non-seed nodes start at
    0 and fill in as mass diffuses. An EMPTY effective seed set (no seed
    present in the graph) raises — under non-ANSI Spark SQL the
    ``scale DIV 0`` would otherwise yield silent NULL ranks for every
    node (ADVICE r6). Same per-round shape as the global variant: one
    (node, rank) join against out-edges + one grouped sum, (long, long)
    shuffles."""

    def start(deg: DataFrame, rounds: Rounds):
        seed_nodes = (
            deg.select("src")
            .join(seeds.select(F.col(seed_col).alias("src")).distinct(), "src", "left_semi")
            .select(F.col("src").alias("node"))
        )
        if seed_nodes.isEmpty():
            raise ValueError(
                "personalized_pagerank_fixed: no seed is present in the graph "
                "(empty effective seed set) — the restart distribution is "
                "undefined; check the seed ids against the edge list"
            )
        ns = seed_nodes.agg(F.count("*").alias("__ns"))
        base = seed_nodes.crossJoin(F.broadcast(ns)).select(
            "node", F.expr(f"CAST((15 * ({scale} DIV __ns)) DIV 100 AS BIGINT)").alias("__base")
        )
        # initial distribution: all mass on the seeds
        ranks = (
            deg.select(F.col("src").alias("node"))
            .join(
                seed_nodes.crossJoin(F.broadcast(ns)).select(
                    "node", F.expr(f"CAST({scale} DIV __ns AS BIGINT)").alias("rank")
                ),
                "node",
                "left",
            )
            .select("node", F.coalesce("rank", F.lit(0).cast("bigint")).alias("rank"))
        )
        # the static per-node teleport base folded onto the node list once —
        # each round is then ONE edge join + ONE grouped sum + ONE node-list
        # left join
        node_base = rounds.hold(
            deg.select(F.col("src").alias("node"))
            .join(base, "node", "left")
            .select(
                "node", F.coalesce("__base", F.lit(0).cast("bigint")).alias("__base")
            )
        )

        def teleport(summed: DataFrame) -> DataFrame:
            return node_base.join(
                summed.select(F.col("dst").alias("node"), "__s"), "node", "left"
            ).select(
                "node",
                (
                    F.col("__base")
                    + F.expr("CAST((85 * coalesce(__s, 0)) DIV 100 AS BIGINT)")
                ).alias("rank"),
            )

        return ranks, teleport

    return _pagerank_rounds(
        edges, u_col, v_col, iters, F.count("*").alias("outdeg"),
        "rank DIV outdeg", start,
    )


def propagate_labels(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    rounds: int = 2,
    u_col: str = "u",
    v_col: str = "v",
    id_col: str = "id",
    label_col: str = "label",
) -> DataFrame:
    """Seeded synchronous label propagation (label spreading with clamped
    seeds): each round, every still-unlabeled node with at least one
    labeled neighbor takes the MAJORITY label among its labeled neighbors
    (tie → lexicographically smallest label, so the result is independent
    of execution order). Seeds never change; a node labeled in round r
    votes from round r+1 on. The semi-supervised imputation pass — spread
    known categories (brand, topic, language) across a co-occurrence
    graph.

    ``rounds`` is a static unroll (each round = one symmetric-edge join +
    one grouped vote + one windowed argmax — all key-partitioned; no
    driver-side convergence check, unlike ``connected_components``).
    Returns (id, label, round) with round 0 for seeds.
    """
    sym = _symmetric(edges, u_col, v_col)
    labels = seeds.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.lit(0).alias("round"),
    )
    for r in range(1, rounds + 1):
        neighbor_labels = sym.join(
            labels.select(F.col("id").alias("dst"), "label"), "dst"
        ).select(F.col("src"), "label")
        unlabeled_votes = neighbor_labels.join(
            labels.select(F.col("id").alias("src")), "src", "left_anti"
        )
        votes = unlabeled_votes.groupBy("src", "label").agg(
            F.count("*").alias("__n")
        )
        pick = rank.top_n_per_group(
            votes, ("src",), "__n", n=1, tiebreak=("label",), rank_col="__rn"
        ).select(F.col("src").alias("id"), "label", F.lit(r).alias("round"))
        labels = labels.unionAll(pick)
    return labels


def multi_source_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    max_hops: int = 4,
    u_col: str = "u",
    v_col: str = "v",
    id_col: str = "id",
) -> DataFrame:
    """Multi-source BFS hop distance over an undirected edge list: every
    graph node's minimum hop count to the nearest seed, bounded at
    ``max_hops`` (unreached within the bound → hops = −1). The proximity
    primitive next to ``personalized_pagerank_fixed`` (which ranks by
    stationary mass, not distance) — "how many co-purchase steps from any
    of this brand's parts" — and the standard iterative-frontier loop.

    Semantics: classic level-synchronous frontier expansion. Seeds outside
    the graph's node set are ignored (the `personalized_pagerank_fixed`
    convention — an external oracle can replay the node-set restriction).

    Scale shape: each round is ONE frontier ⋈ edges join (key-partitioned
    on the frontier node) + a distinct + a left-anti against the settled
    set — work proportional to the frontier's edge boundary, never the
    whole graph; the settled table carries (id, hops) only. The loop is a
    static ``max_hops`` unroll with a ``session.Rounds`` cut per round
    (plan stays linear; superseded rounds are freed). Early-exit on
    an empty frontier is deliberately NOT driver-checked — at a bounded
    hop count the empty rounds cost one no-op join each, cheaper than a
    per-round count() action on a 100 TB graph.

    Returns (id, hops) for ALL graph nodes, hops ∈ {0..max_hops, −1}.
    """
    with Rounds() as rounds:
        # every frontier round joins this — materialize once or the edge
        # DERIVATION (often an order-basket self-join) re-executes per hop
        sym = rounds.hold(_symmetric(edges, u_col, v_col))
        nodes = sym.select(F.col("src").alias("id")).distinct().localCheckpoint()
        settled = rounds.cut(
            seeds.select(F.col(id_col).alias("id"))
            .distinct()
            .join(nodes, "id")
            .select("id", F.lit(0).alias("hops"))
        )
        frontier = settled
        for h in range(1, max_hops + 1):
            nxt = (
                frontier.join(sym, frontier["id"] == sym["src"])
                .select(F.col("dst").alias("id"))
                .distinct()
                .join(settled, "id", "left_anti")
                .select("id", F.lit(h).alias("hops"))
            )
            settled = rounds.cut(settled.unionByName(nxt))
            frontier = settled.filter(F.col("hops") == h)
    return nodes.join(settled, "id", "left").select(
        "id", F.coalesce("hops", F.lit(-1)).cast("int").alias("hops")
    )


def _edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle SUPPORT (# triangles containing the edge = # common
    neighbors of its endpoints) of an id-canonical edge set, via the same
    degree-oriented ``_closed_wedges`` enumeration as ``triangle_stats``
    (Σ outdeg² ≈ m^1.5, hub-safe): each closed wedge credits its THREE
    edges (re-canonicalized by id — orientation is by degree, so apex/b/c
    aren't id-ordered) through one explode + hash rollup. Edges in no
    triangle get no row (callers coalesce to 0)."""
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    cred = _closed_wedges(e, deg).select(
        F.explode(
            F.array(
                F.struct(
                    F.least("apex", "b").alias("u"), F.greatest("apex", "b").alias("v")
                ),
                F.struct(
                    F.least("apex", "c").alias("u"), F.greatest("apex", "c").alias("v")
                ),
                F.struct(F.col("b").alias("u"), F.col("c").alias("v")),
            )
        ).alias("__e")
    ).select(F.col("__e.u").alias("u"), F.col("__e.v").alias("v"))
    return cred.groupBy("u", "v").agg(F.count("*").alias("__s"))


def ktruss(
    edges: DataFrame,
    k: int,
    *,
    u_col: str = "u",
    v_col: str = "v",
    max_iter: int = 30,
) -> DataFrame:
    """The k-TRUSS of an undirected simple graph (id-canonical edges, the
    ``triangle_stats`` contract): iteratively peel every EDGE whose
    triangle support is < k−2 until none remains — the edge-level
    density filter one notch stronger than ``kcore`` (a k-truss is
    contained in the (k−1)-core, and every surviving edge closes ≥ k−2
    triangles with surviving edges). The standard cohesive-subgraph
    backbone for community seeding.

    Peel discipline mirrors ``kcore``: per round one support computation
    (the m^1.5 wedge join — the round's only superlinear term), one
    left-join + filter carrying (u, v) longs, a ``session.Rounds`` cut
    (every 3rd launders the size estimate, which the support pass's three
    references to the evolving edge set would otherwise cube per round),
    one convergence scalar per round (the documented
    one-scalar exception to the no-driver-collect rule). Rounds are
    bounded by the peel depth; raises rather than returning a non-truss
    if ``max_iter`` is exceeded. Returns ``(u, v, support)`` — the
    surviving edges with their support INSIDE the truss (≥ k−2 by
    construction)."""
    e = edges.select(F.col(u_col).alias("u"), F.col(v_col).alias("v")).localCheckpoint()
    n = e.count()
    converged = False
    with Rounds(launder_every=3) as rounds:
        for _ in range(max_iter):
            sup = _edge_support(e)
            # the cut consumes the previous edge set (the input, first round)
            e = rounds.cut(
                e.join(sup, ["u", "v"], "left")
                .filter(F.coalesce("__s", F.lit(0)) >= k - 2)
                .select("u", "v"),
                e,
            )
            n2 = e.count()
            if n2 == n:
                converged = True
                break
            n = n2
    if not converged:
        raise RuntimeError(
            f"ktruss did not converge within max_iter={max_iter} rounds "
            "(peel depth exceeds max_iter — raise max_iter)"
        )
    return e.join(_edge_support(e), ["u", "v"], "left").select(
        "u",
        "v",
        F.coalesce("__s", F.lit(0)).cast("long").alias("support"),
    )
