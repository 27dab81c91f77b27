"""Triangle counting (degree-orientation) on crafted graphs."""

from __future__ import annotations

import pytest

from tmdb_spark_data_pipeline_spark.operators import dedup, graph


def _stats(spark, edges):
    df = spark.createDataFrame(edges, "u long, v long")
    return graph.triangle_stats(df).collect()[0]


def test_k4_has_four_triangles(spark):
    # complete graph on 4 nodes: C(4,3)=4 triangles, 12 wedges, coeff 1.0
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    r = _stats(spark, k4)
    assert (r.n_nodes, r.n_edges, r.n_triangles, r.n_wedges) == (4, 6, 4, 12)
    assert r.clustering_coeff == 1.0


def test_hub_star_has_no_triangles(spark):
    # star: hub 0 with 10 leaves — the degree-skew case the orientation
    # bounds; 45 wedges at the hub, zero triangles
    star = [(0, i) for i in range(1, 11)]
    r = _stats(spark, star)
    assert (r.n_nodes, r.n_edges, r.n_triangles, r.n_wedges) == (11, 10, 0, 45)
    assert r.clustering_coeff == 0.0


def test_triangle_plus_pendant(spark):
    # one triangle with a tail: 1 triangle; wedges = 3 (in triangle)
    # + node 3 has degree 3 -> C(3,2)=3 wedges; total 1+1+3+0 = 5
    edges = [(1, 2), (2, 3), (1, 3), (3, 4)]
    r = _stats(spark, edges)
    assert (r.n_triangles, r.n_wedges) == (1, 5)


def test_local_clustering_triangle_with_pendant(spark):
    # triangle 1-2-3 plus pendant 3-4: nodes 1,2 have d=2, T=1 -> cc=1.0;
    # node 3 has d=3, T=1 -> cc = 2/(3*2) = 1/3; node 4 (d=1) excluded
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "u long, v long"
    )
    out = {r.node: r for r in graph.local_clustering(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].local_cc == 1.0 and out[1].triangles == 1
    assert out[2].local_cc == 1.0
    assert out[3].degree == 3 and out[3].triangles == 1
    assert out[3].local_cc == 0.333333


def test_local_clustering_hub_star_all_zero(spark):
    # star hub: every pair of leaves is an open wedge -> hub cc 0; leaves
    # have degree 1 and are excluded entirely
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "u long, v long")
    rows = graph.local_clustering(star).collect()
    assert len(rows) == 1
    assert rows[0].node == 0 and rows[0].triangles == 0 and rows[0].local_cc == 0.0


def test_local_clustering_sums_to_three_times_triangles(spark):
    # K4 plus a bridge to a second triangle: per-node triangle credits must
    # total 3x the global triangle count (each triangle has 3 corners)
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6), (4, 6)]
    df = spark.createDataFrame(edges, "u long, v long")
    per_node = graph.local_clustering(df).collect()
    global_t = graph.triangle_stats(df).collect()[0].n_triangles
    assert sum(r.triangles for r in per_node) == 3 * global_t == 15


def test_label_propagation_majority_tiebreak_and_rounds(spark):
    #   1(A)   2(A)   3(B)        7(no labeled neighbor until round 2)
    #     \     |     /
    #           4 --------- 7
    #   5(B) -- 6 (one labeled neighbor)
    edges = spark.createDataFrame(
        [(1, 4), (2, 4), (3, 4), (4, 7), (5, 6)], "u long, v long"
    )
    seeds = spark.createDataFrame(
        [(1, "A"), (2, "A"), (3, "B"), (5, "B")], "id long, label string"
    )
    from tmdb_spark_data_pipeline_spark.operators import graph

    out = {
        r.id: (r.label, r.round)
        for r in graph.propagate_labels(edges, seeds, rounds=2).collect()
    }
    assert out[4] == ("A", 1)   # majority 2xA vs 1xB
    assert out[6] == ("B", 1)   # single labeled neighbor
    assert out[7] == ("A", 2)   # reachable only once 4 is labeled
    assert out[1] == ("A", 0) and out[5] == ("B", 0)  # seeds clamped


def test_label_propagation_tie_breaks_lexicographically(spark):
    edges = spark.createDataFrame([(1, 3), (2, 3)], "u long, v long")
    seeds = spark.createDataFrame([(1, "Z"), (2, "B")], "id long, label string")
    from tmdb_spark_data_pipeline_spark.operators import graph

    out = {r.id: r.label for r in graph.propagate_labels(edges, seeds, rounds=1).collect()}
    assert out[3] == "B"  # 1-1 tie -> smallest label


def test_geo_within_distance_pairs_boundary_and_recall(spark):
    import math

    from tmdb_spark_data_pipeline_spark.operators import geo

    mid = 45.5
    m_lon = geo.M_PER_DEG_LAT * math.cos(math.radians(mid))
    # points: 1-2 are ~1500 m apart straddling a cell boundary; 3 is ~2.6 km
    # from 1 (outside); 4 coincides with 1 (0 m)
    pts = [
        (1, 45.5000, 7.0000),
        (2, 45.5000 + 1500.0 / geo.M_PER_DEG_LAT, 7.0000),
        (3, 45.5000, 7.0000 + 2600.0 / m_lon),
        (4, 45.5000, 7.0000),
    ]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    out = {
        (r.id_a, r.id_b): r.dist_m
        for r in geo.within_distance_pairs(
            df, "id", "lat", "lon", max_m=2000.0, mid_lat_deg=mid
        ).collect()
    }
    assert set(out) == {(1, 2), (1, 4), (2, 4)}
    assert out[(1, 4)] == 0.0
    assert abs(out[(1, 2)] - 1500.0) < 0.01


def test_kcore_triangle_with_tail_cascades(spark):
    # triangle {1,2,3} + tail 3-4-5: peeling 5 (deg 1) drops 4 to deg 1 —
    # the cascade must continue until only the triangle remains
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["u", "v"]
    )
    out = {r.node: r.core_deg for r in graph.kcore(edges, 2).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_empty_when_no_core_exists(spark):
    # path graph: no 2-core at all (every peel round empties further)
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["u", "v"])
    assert graph.kcore(edges, 2).count() == 0


def test_kcore_k4_is_its_own_3core(spark):
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    out = {r.node: r.core_deg for r in graph.kcore(spark.createDataFrame(k4, ["u", "v"]), 3).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_raises_when_max_iter_exhausted_with_dead_nodes(spark):
    """ADVICE r6: a peel cascade deeper than max_iter must RAISE, not
    silently return a non-core with degree-<k nodes still present. A path
    graph peels exactly one layer per round from each end."""
    import pytest

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], ["u", "v"]
    )  # 11-edge chain: 2-core is empty, but needs ~6 peel rounds
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.kcore(path, 2, max_iter=2)
    # same graph with enough rounds converges to the (empty) true core
    assert graph.kcore(path, 2, max_iter=10).count() == 0


def test_kcore_converges_exactly_at_max_iter_boundary(spark):
    """The final peel landing exactly on the last allowed round is a
    CONVERGED result (the post-loop re-check must pass), not an error."""
    # triangle + 1-deep tail: the single allowed round peels node 4 and the
    # loop exits WITHOUT seeing an empty dead set — the post-loop re-check
    # must confirm convergence instead of raising
    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)], ["u", "v"])
    out = {r.node: r.core_deg for r in graph.kcore(edges, 2, max_iter=1).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_personalized_pagerank_empty_seed_set_raises(spark):
    """ADVICE r6: an empty EFFECTIVE seed set (no seed present in the
    graph) must raise instead of silently emitting NULL ranks via the
    non-ANSI scale DIV 0."""
    import pytest

    edges = spark.createDataFrame([(1, 2), (2, 3)], ["u", "v"])
    seeds = spark.createDataFrame([(99,), (100,)], ["id"])  # none in graph
    with pytest.raises(ValueError, match="no seed is present"):
        graph.personalized_pagerank_fixed(edges, seeds, iters=2)


def test_pagerank_fixed_integer_exact_values(spark):
    # triangle {1,2,3} + pendant 3-4: hub 3 ranks highest, symmetric 1/2
    # tie exactly; values pinned against the DuckDB recursive-CTE replay of
    # the same integer formula (micro-units of 1e12, 5 rounds, d=0.85)
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], ["u", "v"])
    out = {r.node: r.rank_micro for r in graph.pagerank_fixed(edges, iters=5).collect()}
    assert out == {
        1: 242317606967,
        2: 242317606967,
        3: 380015367293,
        4: 135349418763,
    }


def test_pagerank_weighted_pinned_values(spark):
    # triangle {1,2,3} + pendant 3-4 with edge weights 1/2/3/10: the heavy
    # 3-4 edge pulls mass to the pendant (unweighted PR gives 4 the LOWEST
    # rank; weighted gives it the 2nd highest); values pinned against the
    # DuckDB recursive-CTE replay of the identical integer formula
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2), (3, 1, 3), (3, 4, 10)], ["u", "v", "w"]
    )
    out = {
        r.node: r.rank_micro
        for r in graph.pagerank_weighted_fixed(edges, iters=5).collect()
    }
    assert out == {
        1: 138980328547,
        2: 114975140425,
        3: 487874300245,
        4: 258170230768,
    }


def test_pagerank_weighted_uniform_weights_equal_unweighted(spark):
    # w=1 everywhere must reproduce pagerank_fixed exactly (same floors)
    e = [(1, 2), (2, 3), (3, 1), (3, 4)]
    ew = spark.createDataFrame([(u, v, 1) for u, v in e], ["u", "v", "w"])
    eu = spark.createDataFrame(e, ["u", "v"])
    got_w = {r.node: r.rank_micro for r in graph.pagerank_weighted_fixed(ew, iters=5).collect()}
    got_u = {r.node: r.rank_micro for r in graph.pagerank_fixed(eu, iters=5).collect()}
    assert got_w == got_u


def test_personalized_pagerank_pinned_values(spark):
    # triangle {1,2,3} + pendant 3-4, seeds {1, 9} (9 not in the graph →
    # ignored); values pinned against the DuckDB recursive-CTE replay
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], ["u", "v"])
    seeds = spark.createDataFrame([(1,), (9,)], ["id"])
    out = {
        r.node: r.rank_micro
        for r in graph.personalized_pagerank_fixed(edges, seeds, iters=5).collect()
    }
    assert out == {
        1: 332492085502,
        2: 239635161674,
        3: 343951743704,
        4: 83921009114,
    }


def test_s_core_strength_vs_count_semantics(spark):
    """The distinction that makes s-core not-a-k-core: a 2-partner node
    with heavy edges survives s=6 (strength 6+6=12) while a 3-partner
    weight-1 node (strength 3) peels — the OPPOSITE of a 3-core verdict.
    Graph: heavy triangle {1,2,3} (w=6 each) + light star 4-{5,6,7}
    (w=1 each)."""
    edges = spark.createDataFrame(
        [(1, 2, 6), (2, 3, 6), (1, 3, 6), (4, 5, 1), (4, 6, 1), (4, 7, 1)],
        ["u", "v", "w"],
    )
    out = {r.node: (r.core_deg, r.core_weight) for r in graph.s_core(edges, 6).collect()}
    assert out == {1: (2, 12), 2: (2, 12), 3: (2, 12)}  # star fully peeled


def test_s_core_cascade_and_empty(spark):
    # weighted chain 1-2-3-4 (w=3): ends have strength 3, middles 6;
    # peeling ends drops middles to 3 -> cascade empties the s=6 core
    chain = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 3), (3, 4, 3)], ["u", "v", "w"]
    )
    assert graph.s_core(chain, 6).count() == 0
    # s=3 keeps everything
    out = {r.node: r.core_weight for r in graph.s_core(chain, 3).collect()}
    assert out == {1: 3, 2: 6, 3: 6, 4: 3}


def test_s_core_raises_on_max_iter_exhaustion(spark):
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1, 2) for i in range(1, 12)], ["u", "v", "w"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.s_core(chain, 3, max_iter=2)


def test_multi_source_bfs_distances_and_bounds(spark):
    """Crafted path + disconnected component: exact hop distances from two
    seeds, max_hops bound -> -1 for beyond-bound and disconnected nodes,
    out-of-graph seeds ignored (the PPR convention)."""
    from tmdb_spark_data_pipeline_spark.operators import graph

    # path 1-2-3-4-5-6-7, triangle 10-11-12 (disconnected), seed 1 and 10
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7), (10, 11), (11, 12), (10, 12)]
    e = spark.createDataFrame(edges, "u long, v long")
    seeds = spark.createDataFrame([(1,), (10,), (999,)], "id long")  # 999 not in graph
    got = {
        r.id: r.hops
        for r in graph.multi_source_bfs(e, seeds, max_hops=3).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: -1, 6: -1, 7: -1,
                   10: 0, 11: 1, 12: 1}


def test_ktruss_hand_cases(spark):
    """Bowtie (two triangles sharing node 3) + pendant edge: the 3-truss
    keeps exactly the six triangle edges with support 1 and drops the
    pendant; the 4-truss (support >= 2) empties it — but keeps all of K4."""
    bowtie = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (3, 5), (4, 5), (5, 6)],
        "u long, v long",
    )
    out = {(r.u, r.v): r.support for r in graph.ktruss(bowtie, 3).collect()}
    assert out == {(1, 2): 1, (1, 3): 1, (2, 3): 1, (3, 4): 1, (3, 5): 1, (4, 5): 1}
    assert graph.ktruss(bowtie, 4).count() == 0
    k4 = spark.createDataFrame(
        [(a, b) for a in range(1, 5) for b in range(a + 1, 5)], "u long, v long"
    )
    out4 = {(r.u, r.v): r.support for r in graph.ktruss(k4, 4).collect()}
    assert len(out4) == 6 and all(s == 2 for s in out4.values())


def test_ktruss_cascade_and_triangle_free(spark):
    """Triangle strip 1-2-3-4-5 (triangles 123, 234, 345): the 4-truss
    peel must CASCADE — only edges 23/24/34 have support 2 initially, but
    after the outer edges die no triangle survives, so the 4-truss is
    empty (a support-once filter would wrongly keep the middle). A 5-cycle
    has no triangles at all -> empty 3-truss."""
    strip = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4), (3, 5), (4, 5)],
        "u long, v long",
    )
    assert graph.ktruss(strip, 4).count() == 0
    assert {(r.u, r.v) for r in graph.ktruss(strip, 3).collect()} == {
        (1, 2), (2, 3), (1, 3), (2, 4), (3, 4), (3, 5), (4, 5)
    }
    cycle = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 5)], "u long, v long"
    )
    assert graph.ktruss(cycle, 3).count() == 0


def test_ktruss_matches_python_model_random_graphs(spark):
    """Peel fixpoint vs a naive python model on random graphs — same
    discipline as the multi_source_bfs / local_clustering property tests."""
    import itertools
    import random

    rng = random.Random(13)
    for trial in range(3):
        n = 14
        edges = sorted(
            {(a, b) for a, b in (
                tuple(sorted(rng.sample(range(n), 2))) for _ in range(40)
            )}
        )
        k = rng.choice([3, 4])
        cur = set(edges)
        while True:
            adj = {}
            for a, b in cur:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
            sup = {e: len(adj[e[0]] & adj[e[1]]) for e in cur}
            nxt = {e for e in cur if sup[e] >= k - 2}
            if nxt == cur:
                break
            cur = nxt
        expect = {e: sup[e] for e in cur}
        df = spark.createDataFrame(list(edges) or [(0, 1)], "u long, v long")
        if not edges:
            continue
        got = {(r.u, r.v): r.support for r in graph.ktruss(df, k).collect()}
        assert got == expect, (trial, k)


def test_deep_peel_leaves_no_cache_entries(spark):
    """ADVICE_r10: the estimate-laundering persist() caches in kcore (and
    the CC loop) must be unpersisted when superseded AND on return — a
    long peel cascade used to leave one cached edge-list copy per
    laundering round alive for the life of the application. A 24-node
    path peels one layer from each end per round (~12 rounds, crossing
    the i%6==5 laundering rounds twice); after materializing the result
    the CacheManager must be exactly as empty as before."""
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    edges = spark.createDataFrame([(i, i + 1) for i in range(24)], "u long, v long")
    out = graph.kcore(edges, 2)
    assert out.count() == 0  # a path has no 2-core
    assert cm.isEmpty(), "kcore left laundering caches behind"
    # s_core: unit weights, s=2 — endpoints (strength 1) peel two per
    # round, the same deep cascade through the i%6==5 laundering rounds
    wedges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(24)], "u long, v long, w long"
    )
    assert graph.s_core(wedges, 2).count() == 0
    assert cm.isEmpty(), "s_core left laundering caches behind"
    # ktruss: a chain of 12 vertex-sharing triangles — end edges sit in
    # one triangle each, so a 4-truss peels inward over ~6 rounds,
    # crossing the every-3rd-round laundering persists
    tri = []
    for i in range(12):
        tri += [(i, i + 1), (i, i + 2), (i + 1, i + 2)]
    tedges = spark.createDataFrame(sorted(set(tri)), "u long, v long")
    assert graph.ktruss(tedges, 4).count() == 0
    assert cm.isEmpty(), "ktruss left laundering caches behind"


def test_deep_peel_bounds_live_checkpoints(spark):
    """Round-12 hygiene: the peel loops (and CC) free superseded round
    checkpoints DETERMINISTICALLY, so a deep cascade leaves a BOUNDED
    number of live persistent RDDs — the final edge/label table the
    returned plan reads, at most one unconsumed dead list, at most one
    laundering pin — not one edge-list + dead-list copy per round.
    ``getPersistentRDDs`` is the probe the CacheManager test above cannot
    provide: localCheckpoint registers an RDD persist, never a DF cache
    entry, so ``cm.isEmpty()`` is blind to this leak class. Same deep
    graphs as the cache test: the 24-node path cascades ~12 kcore/s_core
    rounds (≈19 checkpoints before the fix), the triangle chain ~6 ktruss
    rounds, the 60-node path ~15+ CC rounds."""
    from tmdb_spark_data_pipeline_spark.operators import dedup

    def live() -> set[int]:
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {k for k in m.keySet().toArray()}

    spark.catalog.clearCache()
    seen = live()
    edges = spark.createDataFrame([(i, i + 1) for i in range(24)], "u long, v long")
    assert graph.kcore(edges, 2).count() == 0
    kc = live() - seen
    assert len(kc) <= 5, f"kcore left {len(kc)} live checkpoints"
    seen |= kc
    wedges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(24)], "u long, v long, w long"
    )
    assert graph.s_core(wedges, 2).count() == 0
    sc = live() - seen
    assert len(sc) <= 5, f"s_core left {len(sc)} live checkpoints"
    seen |= sc
    tri = []
    for i in range(12):
        tri += [(i, i + 1), (i, i + 2), (i + 1, i + 2)]
    tedges = spark.createDataFrame(sorted(set(tri)), "u long, v long")
    assert graph.ktruss(tedges, 4).count() == 0
    kt = live() - seen
    assert len(kt) <= 5, f"ktruss left {len(kt)} live checkpoints"
    seen |= kt
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    assert dedup.connected_components(path).count() == 61
    cc = live() - seen
    assert len(cc) <= 3, f"connected_components left {len(cc)} live checkpoints"


def test_rank_and_bfs_loops_bound_live_checkpoints(spark):
    """The PageRank and BFS loops cut through ``session.Rounds`` too: a
    superseded round's checkpoint is freed when the next cut exists, and
    the symmetrized edge list (plus the static degree and teleport tables)
    when the loop exits. What stays is what the returned plan reads: the
    final rank table, or BFS's node list and final settled table — not one
    copy per round (9 rounds left 7-8 live checkpoints per PageRank and 11
    for BFS before). Same ``getPersistentRDDs`` probe as above."""

    def live() -> set[int]:
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {k for k in m.keySet().toArray()}

    path = spark.createDataFrame([(i, i + 1) for i in range(24)], "u long, v long")
    wpath = spark.createDataFrame([(i, i + 1, 1) for i in range(24)], "u long, v long, w long")
    seeds = spark.createDataFrame([(0,)], "id long")
    runs = {
        "pagerank_fixed": (lambda: graph.pagerank_fixed(path, iters=9), 1),
        "pagerank_weighted_fixed": (lambda: graph.pagerank_weighted_fixed(wpath, iters=9), 1),
        "personalized_pagerank_fixed": (
            lambda: graph.personalized_pagerank_fixed(path, seeds, iters=9), 1
        ),
        "multi_source_bfs": (lambda: graph.multi_source_bfs(path, seeds, max_hops=8), 2),
    }
    for name, (run, bound) in runs.items():
        seen = live()
        assert run().count() == 25
        left = live() - seen
        assert len(left) <= bound, f"{name} left {len(left)} live checkpoints"


#: Each loop's result on the 1-edge graph (1, 2) with weight 3 and seed 1.
_ONE_EDGE = {
    "connected_components": (
        lambda e, s: dedup.connected_components(e, "u", "v"), [(1, 1), (2, 1)]
    ),
    "kcore": (lambda e, s: graph.kcore(e, 1), [(1, 1), (2, 1)]),
    "s_core": (lambda e, s: graph.s_core(e, 1), [(1, 1, 3), (2, 1, 3)]),
    "ktruss": (lambda e, s: graph.ktruss(e, 2), [(1, 2, 0)]),
    "pagerank_fixed": (
        lambda e, s: graph.pagerank_fixed(e), [(1, 500000000000), (2, 500000000000)]
    ),
    "pagerank_weighted_fixed": (
        lambda e, s: graph.pagerank_weighted_fixed(e),
        [(1, 500000000000), (2, 500000000000)],
    ),
    "personalized_pagerank_fixed": (
        lambda e, s: graph.personalized_pagerank_fixed(e, s),
        [(1, 336675937500), (2, 663324062500)],
    ),
    "multi_source_bfs": (lambda e, s: graph.multi_source_bfs(e, s), [(1, 0), (2, 1)]),
}


@pytest.mark.parametrize("n_edges", [0, 1])
@pytest.mark.parametrize("op", sorted(_ONE_EDGE))
def test_iterative_loops_on_zero_and_one_edge(spark, op, n_edges):
    """Edge sizes: no edges gives an empty result (personalized PageRank
    raises: no seed can be in an empty graph); one edge gives the pinned
    rows."""
    run, one = _ONE_EDGE[op]
    edges = spark.createDataFrame([(1, 2, 3)][:n_edges], "u long, v long, w long")
    seeds = spark.createDataFrame([(1,)], "id long")
    if op == "personalized_pagerank_fixed" and n_edges == 0:
        with pytest.raises(ValueError, match="no seed is present"):
            run(edges, seeds)
        return
    got = sorted(tuple(r) for r in run(edges, seeds).collect())
    assert got == (one if n_edges else [])
