"""Similarity-search tests (SURVEY.md §2.11 item 13): exact brute-force vs a
numpy oracle, LSH recall on its own buckets, near-dup pair threshold."""

from __future__ import annotations

import math
import os
import random

import pytest

from pyspark.sql import functions as F

from tmdb_spark_data_pipeline_spark.operators import similarity
from tmdb_spark_data_pipeline_spark.sources.io import load_table


@pytest.fixture(scope="module")
def vectors():
    rng = random.Random(7)
    vecs = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(30)]
    # plant a near-dup of vector 0 at index 29 (tiny perturbation)
    vecs[29] = [v + 0.001 for v in vecs[0]]
    return vecs


@pytest.fixture(scope="module")
def emb(spark, vectors):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)], ["vec_id", "embedding"]
    )


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))


def test_dot_and_norm(spark):
    df = spark.createDataFrame([([1.0, 2.0, 2.0], [3.0, 0.0, 4.0])], ["a", "b"])
    row = df.select(
        similarity.dot("a", "b").alias("d"), similarity.l2_norm("a").alias("n")
    ).first()
    assert row.d == 11.0
    assert row.n == 3.0


def test_bruteforce_topk_matches_numpy_oracle(emb, vectors):
    out = similarity.cosine_topk_bruteforce(
        emb.filter("vec_id < 3"), emb, k=5
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r.query_id, []).append((r.neighbor_id, r.cos))
    for q in range(3):
        expect = sorted(
            ((j, _cos(vectors[q], vectors[j])) for j in range(30) if j != q),
            key=lambda t: (-t[1], t[0]),
        )[:5]
        assert [n for n, _ in got[q]] == [n for n, _ in expect]
        for (_, a), (_, b) in zip(got[q], expect):
            assert abs(a - b) < 1e-9


def test_topk_excludes_self_and_respects_k(emb):
    out = similarity.cosine_topk_bruteforce(emb.filter("vec_id = 0"), emb, k=3).collect()
    assert len(out) == 3
    assert all(r.neighbor_id != 0 for r in out)


def test_planted_neardup_is_top_neighbor(emb):
    out = similarity.cosine_topk_bruteforce(emb.filter("vec_id = 0"), emb, k=1).first()
    assert out.neighbor_id == 29
    assert out.cos > 0.999


def test_embedding_neardup_pairs_threshold(emb):
    out = similarity.embedding_neardup_pairs(emb, min_cos=0.999).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(0, 29)]


def test_blocked_neardup_pairs_equals_unblocked_within_blocks(spark):
    # two exact clusters, blocked by a label — block join must find both pairs
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "x"),
            (2, [1.0, 0.0], "x"),
            (3, [0.0, 1.0], "y"),
            (4, [0.0, 1.0], "y"),
        ],
        ["vec_id", "embedding", "label"],
    )
    out = similarity.embedding_neardup_pairs(df, min_cos=0.99, block_col="label")
    assert sorted((r.id_a, r.id_b) for r in out.collect()) == [(1, 2), (3, 4)]


def test_lsh_topk_returns_bucket_neighbors_with_exact_cos(emb, vectors):
    out = similarity.cosine_topk_lsh(
        emb.filter("vec_id = 0"), emb, k=3, num_planes=2, dim=8, seed=3
    ).collect()
    assert 1 <= len(out) <= 3
    for r in out:
        assert abs(r.cos - _cos(vectors[0], vectors[r.neighbor_id])) < 1e-9


def test_multiprobe_superset_of_single_probe(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    single = similarity.cosine_topk_lsh(q, emb, k=1000, num_planes=6, dim=64)
    multi = similarity.cosine_topk_lsh(q, emb, k=1000, num_planes=6, dim=64, multiprobe=True)
    s_pairs = {(r.query_id, r.neighbor_id) for r in single.collect()}
    m_pairs = {(r.query_id, r.neighbor_id) for r in multi.collect()}
    # hamming-1 probing can only ADD candidates; with k above corpus size (no
    # truncation), the single-probe result set is contained in the multi-probe one
    assert s_pairs <= m_pairs
    assert len(m_pairs) > len(s_pairs)  # and it actually recovers more


def test_ivf_full_probe_equals_bruteforce(emb):
    """Probing every cell (nprobe = #centroids) makes IVF exact: identical
    (query, neighbor) sets and cosines to the brute-force baseline."""
    q = emb.filter("vec_id < 3")
    cents = emb.filter(F.col("vec_id") % 10 == 0).count()
    ivf = similarity.cosine_topk_ivf(
        q, emb, k=5, centroid_filter=F.col("vec_id") % 10 == 0, nprobe=cents
    ).collect()
    bf = similarity.cosine_topk_bruteforce(q, emb, k=5).collect()
    canon = lambda rows: sorted((r.query_id, r.neighbor_id, round(r.cos, 9)) for r in rows)
    assert canon(ivf) == canon(bf)


@pytest.mark.parametrize("include_self", [False, True])
def test_full_candidate_paths_answer_row_for_row_like_bruteforce(
    spark, vectors, tmp_path, include_self
):
    """Every cosine top-k entry point ends in one rule (self pair dropped
    unless asked for, cos descending, ties to the lower neighbor id). With
    a candidate set that covers the corpus — one LSH bucket, every IVF cell
    probed, in memory or from the artifact — each must return the
    brute-force rows exactly, doubles included. Ids 30-32 copy vector 1,
    so query 1 has a four-way tie at cos 1 that k=2 cuts through."""
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vectors)]
    rows += [(i, rows[1][1]) for i in (30, 31, 32)]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = corpus.filter("vec_id < 3")
    cells = corpus.filter(F.col("vec_id") % 25 == 0).count()
    path = str(tmp_path / "ivf")
    similarity.write_ivf_artifact(corpus, path)
    kw = dict(k=2, include_self=include_self)
    bf = similarity.cosine_topk_bruteforce(q, corpus, **kw)
    paths = {
        "lsh": similarity.cosine_topk_lsh(q, corpus, planes=[], **kw),
        "ivf": similarity.cosine_topk_ivf(q, corpus, nprobe=cells, **kw),
        "artifact": similarity.cosine_topk_ivf_from_artifact(
            spark, path, q, nprobe=cells, **kw
        ),
    }
    rows_of = lambda df: sorted(
        (r.query_id, r.neighbor_id, r.cos) for r in df.collect()
    )
    expect = rows_of(bf)
    tied = [n for qid, n, _ in expect if qid == 1]
    assert tied == ([1, 30] if include_self else [30, 31])
    for name, df in paths.items():
        assert rows_of(df) == expect, name


def test_ivf_partial_probe_subset_of_bruteforce_candidates(emb):
    """With nprobe=1, every returned neighbor must live in the probed cell —
    i.e. IVF returns a subset of the brute-force candidate space and at most
    k rows per query."""
    out = similarity.cosine_topk_ivf(
        emb.filter("vec_id < 3"), emb, k=5,
        centroid_filter=F.col("vec_id") % 10 == 0, nprobe=1,
    ).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.neighbor_id)
    for q, ns in per_q.items():
        assert len(ns) <= 5
        assert q not in ns


def test_int8_quant_stats_hand_vector(spark):
    """One 4-dim vector with max|x| = 2.54: scale = 0.02, and every element
    an exact multiple of the scale → (near-)zero reconstruction error."""
    df = spark.createDataFrame(
        [(1, [2.54, -1.28, 0.02, 0.0], 0)], ["vec_id", "embedding", "label"]
    )
    row = similarity.int8_quant_stats(df).first()
    assert row.n_vecs == 1
    assert row.avg_scale == pytest.approx(0.02, abs=1e-9)
    assert row.avg_mae == pytest.approx(0.0, abs=1e-9)


def test_int8_quant_error_bounded_by_half_scale(emb):
    """Reconstruction MAE can never exceed scale/2 (round-to-nearest)."""
    out = similarity.int8_quant_stats(
        emb.withColumn("label", F.col("vec_id") % 2)
    ).collect()
    for r in out:
        assert r.avg_mae <= r.avg_scale / 2 + 1e-12


def test_kmeans_lloyd_separated_clusters(spark):
    # two well-separated blobs in 2-D; k=2 with lowest-id init (one seed in
    # each blob) must recover the blobs exactly after one iteration
    rows = [
        (0, [0.0, 0.0]), (2, [0.2, 0.0]), (4, [0.0, 0.2]),
        (1, [10.0, 10.0]), (3, [10.2, 10.0]), (5, [10.0, 10.2]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: r.cid for r in similarity.kmeans_lloyd(df, k=2, iters=1, dim=2).collect()}
    assert out[0] == out[2] == out[4] == 0
    assert out[1] == out[3] == out[5] == 1


@pytest.mark.parametrize("odd", [[0.1], None], ids=["short", "null"])
def test_kmeans_rejects_vector_of_other_width(spark, odd):
    # the element-wise means read positions 1..dim: a short vector would
    # silently add NULLs with ANSI off, so the width contract raises instead
    rows = [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, odd)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="width != 2 at vec_id=2"):
        similarity.kmeans_centroids(df, k=2, iters=1, dim=2).collect()


def test_assign_nearest_tie_breaks_lowest_cid(spark):
    df = spark.createDataFrame([(7, [1.0, 0.0])], ["vec_id", "embedding"])
    cents = spark.createDataFrame(
        [(5, [0.0, 0.0]), (3, [2.0, 0.0])], ["cid", "cvec"]
    )
    out = similarity.assign_nearest(df, cents).collect()[0]
    assert out.cid == 3 and abs(out.d2 - 1.0) < 1e-12  # equidistant -> lowest cid


def test_cosine_topk_pandas_bit_identical_to_expression(spark, sf_smoke):
    from tmdb_spark_data_pipeline_spark.sources.io import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    q = emb.filter("vec_id < 5")
    expr = similarity.cosine_topk_bruteforce(q, emb, k=5)
    pand = similarity.cosine_topk_pandas(q, emb, k=5)
    a = sorted((r.query_id, r.neighbor_id, r.cos) for r in expr.collect())
    b = sorted((r.query_id, r.neighbor_id, r.cos) for r in pand.collect())
    # identical neighbor sets; scores agree to within numpy's SIMD
    # partial-sum reordering (a few ulps), far inside the round-5 the
    # declared query reports
    assert [(q, n) for q, n, _ in a] == [(q, n) for q, n, _ in b]
    assert all(abs(x - y) < 1e-12 for (_, _, x), (_, _, y) in zip(a, b))


def test_label_dispersion_grouped_agg_pandas_udf(spark):
    import math

    # label 0: identical vectors -> R = 1; label 1: opposite vectors -> R = 0
    # label 2: orthogonal unit vectors -> ||mean|| = sqrt(2)/2, mean norm 1
    rows = [
        (0, 0, [1.0, 0.0]), (1, 0, [1.0, 0.0]),
        (2, 1, [1.0, 0.0]), (3, 1, [-1.0, 0.0]),
        (4, 2, [1.0, 0.0]), (5, 2, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    out = {r.label: r for r in similarity.label_dispersion(df).collect()}
    assert out[0].dispersion == 1.0 and out[0].n_vectors == 2
    assert out[1].dispersion == 0.0
    assert out[2].dispersion == round(math.sqrt(2) / 2, 6)


def test_mutual_reachability_dissolves_sparse_blob(spark):
    """The distinctive mutual-reachability semantics: a 3-point blob is
    TIGHT pairwise (d ~ 0) but SPARSE at k=4 (each member's 4th nearest
    other point lies across the gap), so its core distances blow past eps
    and the blob dissolves to noise — while the 5-point blob, dense at
    k=4, clusters. A plain eps-graph (DBSCAN) would cluster both."""
    import math as m

    def unit(theta):
        return [m.cos(theta), m.sin(theta)]

    # 5-blob around 0 rad (spread 0.02 rad), 3-blob around pi/2
    rows = [(i, unit(0.005 * i)) for i in range(5)]
    rows += [(10 + i, unit(m.pi / 2 + 0.005 * i)) for i in range(3)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r.id: r.cluster
        for r in similarity.mutual_reachability_clusters(df, k=4, eps=0.3).collect()
    }
    assert out[0] == out[1] == out[2] == out[3] == out[4] == 0  # min-id label
    assert out[10] == out[11] == out[12] == -1  # dissolved to noise
    # sanity: the same eps-graph WITHOUT core inflation keeps the 3-blob
    db = {
        r.id: r.cluster
        for r in similarity.dbscan_cosine(df, min_pts=2, eps=0.3).collect()
    }
    assert db[10] == db[11] == db[12] == 10


def test_mutual_reachability_matches_python_model(spark):
    """Brute-force model replay on a deterministic pseudo-random set: same
    cosine distances (sequential fold order), same k-th-NN core distance
    (qb tiebreak), same eps-graph components (min-id labels)."""
    import math as m
    import random as rnd

    rng = rnd.Random(7)
    n, dim, k, eps = 24, 4, 3, 0.45
    vecs = {i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(n)}

    def cos_d(a, b):
        dp = 0.0
        for x, y in zip(a, b):
            dp += x * y
        na = m.sqrt(sum(x * x for x in a))
        nb = m.sqrt(sum(x * x for x in b))
        return 1.0 - dp / (na * nb)

    d = {(i, j): cos_d(vecs[i], vecs[j]) for i in vecs for j in vecs if i != j}
    core = {}
    for i in vecs:
        nn = sorted(((d[(i, j)], j) for j in vecs if j != i))
        core[i] = nn[k - 1][0]
    # eps-graph on mutual reachability -> components via union-find
    parent = {i: i for i in vecs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges = 0
    for i in vecs:
        for j in vecs:
            if i < j and max(d[(i, j)], core[i], core[j]) <= eps:
                edges += 1
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    assert 0 < edges  # non-vacuous draw
    expect = {}
    sizes: dict[int, int] = {}
    for i in vecs:
        sizes[find(i)] = sizes.get(find(i), 0) + 1
    for i in vecs:
        root = find(i)
        expect[i] = root if sizes[root] > 1 else -1

    df = spark.createDataFrame(
        [(i, vecs[i]) for i in vecs], ["vec_id", "embedding"]
    )
    got = {
        r.id: r.cluster
        for r in similarity.mutual_reachability_clusters(df, k=k, eps=eps).collect()
    }
    assert got == expect


def test_hard_negative_is_nearest_other_label(spark):
    """The mined negative must be the most-similar DIFFERENT-label vector
    — same-label near-duplicates are skipped, ties break on lowest id."""
    rows = [
        (0, 0, [1.0, 0.0]),        # probe, label 0
        (1, 0, [0.999, 0.01]),     # nearest overall but SAME label
        (2, 1, [0.95, 0.3]),       # nearest other-label
        (3, 1, [0.0, 1.0]),        # far other-label
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    # exercise the declared query's selection rule directly
    base = df.select(
        "vec_id", "label", "embedding", similarity.l2_norm("embedding").alias("n")
    )
    p = base.filter(F.col("vec_id") == 0)
    c = base
    pairs = c.alias("c").join(
        p.alias("p"),
        (F.col("c.vec_id") != F.col("p.vec_id"))
        & (F.col("c.label") != F.col("p.label")),
    ).select(
        F.col("p.vec_id").alias("probe_id"),
        F.col("c.vec_id").alias("neg_id"),
        (
            similarity.dot("p.embedding", "c.embedding")
            / (F.col("p.n") * F.col("c.n"))
        ).alias("cos"),
    )
    top = pairs.orderBy(F.col("cos").desc(), F.col("neg_id").asc()).first()
    assert top.neg_id == 2  # not 1 (same label), not 3 (far)


def test_dbscan_roles_and_min_id_border_attach(spark):
    """Crafted DBSCAN case pinning all three roles and the deterministic
    border rule: a 4-point dense blob (cores at minPts=4, self included),
    one border point within eps of a core but with too few neighbors, and
    one far noise point. A border point adjacent to TWO clusters must
    attach to the SMALLER cluster id (the replayable min rule)."""
    import math as m

    def unit(theta):
        return [m.cos(theta), m.sin(theta)]

    rows = [(i, unit(0.06 * i)) for i in range(4)]            # blob A: cores
    rows += [(10, unit(0.44))]                                # border of A
    rows += [(20 + i, unit(m.pi / 2 + 0.06 * i)) for i in range(4)]  # blob B
    rows += [(30, unit(m.pi))]                                # noise
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r.id: (r.cluster, r.role)
        for r in similarity.dbscan_cosine(df, eps=0.05, min_pts=4).collect()
    }
    for i in range(4):
        assert out[i] == (0, "core")
    for i in range(4):
        assert out[20 + i] == (20, "core")
    assert out[30] == (-1, "noise")
    # the point at 0.44 rad reaches ONLY the 0.18-rad core within eps
    # (1-cos(0.26) ~ 0.034 <= 0.05; next-closest 1-cos(0.32) ~ 0.051 > eps),
    # so it has 1 neighbor (< min_pts) but sits within eps of a core:
    # a BORDER point of cluster 0
    assert out[10] == (0, "border")


def test_dbscan_matches_python_model(spark):
    """Brute-force replay of the deterministic DBSCAN definition on a
    pseudo-random set: same eps-graph, same core rule (self included),
    same min-id component labels, same min-cluster border attach."""
    import math as m
    import random as rnd

    rng = rnd.Random(11)
    n, dim, eps, min_pts = 26, 3, 0.35, 3
    vecs = {i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(n)}

    def cos_d(a, b):
        dp = sum(x * y for x, y in zip(a, b))
        return 1.0 - dp / (m.sqrt(sum(x * x for x in a)) * m.sqrt(sum(x * x for x in b)))

    near = {i: {j for j in vecs if j != i and cos_d(vecs[i], vecs[j]) <= eps} for i in vecs}
    cores = {i for i in vecs if len(near[i]) + 1 >= min_pts}
    # CC over core-core edges, min-id labels
    parent = {i: i for i in cores}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in cores:
        for j in near[i]:
            if j in cores:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    expect = {}
    for i in cores:
        expect[i] = (find(i), "core")
    for i in vecs:
        if i in cores:
            continue
        adj = [find(j) for j in near[i] if j in cores]
        if adj:
            expect[i] = (min(adj), "border")
        else:
            expect[i] = (-1, "noise")

    df = spark.createDataFrame([(i, vecs[i]) for i in vecs], ["vec_id", "embedding"])
    got = {
        r.id: (r.cluster, r.role)
        for r in similarity.dbscan_cosine(df, eps=eps, min_pts=min_pts).collect()
    }
    assert got == expect


def test_mutual_reachability_ann_equals_exact_on_aligned_blobs(spark):
    """VERDICT_r07 #2: when every blob owns a probed cell (centroids drawn
    one-per-blob, blobs angularly separated), the IVF candidate feed
    contains every within-blob pair — and cross-blob pairs are beyond eps
    anyway — so the candidate-fed clustering is IDENTICAL to the exact
    all-pairs run: same labels, same core distances, point for point."""
    import math as m

    def unit(theta):
        return [m.cos(theta), m.sin(theta)]

    rows = []
    for b, center in enumerate((0.0, m.pi / 2, m.pi)):  # 3 separated blobs
        rows += [(10 * b + i, unit(center + 0.004 * i)) for i in range(6)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {
        r.id: (r.cluster, r.core_dist)
        for r in similarity.mutual_reachability_clusters(df, k=4, eps=0.3).collect()
    }
    ann = {
        r.id: (r.cluster, r.core_dist)
        for r in similarity.mutual_reachability_clusters_ann(
            df, k=4, eps=0.3, centroid_filter=F.col("vec_id") % 10 == 0, nprobe=1
        ).collect()
    }
    assert ann == exact
    assert sorted({c for c, _ in exact.values()}) == [0, 10, 20]  # non-vacuous


def test_mutual_reachability_ann_is_conservative(spark):
    """Structural containment on an adversarial draw (pseudo-random
    vectors, cells NOT aligned with structure): candidate core distances
    can only grow (candidates ⊆ all pairs), so the ANN edge set is a
    subset of the exact edge set and the ANN components REFINE the exact
    components — two points the ANN run co-clusters are always
    co-clustered by the exact run, never the reverse."""
    import random as rnd

    rng = rnd.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {
        r.id: (r.cluster, r.core_dist)
        for r in similarity.mutual_reachability_clusters(df, k=3, eps=0.45).collect()
    }
    ann = {
        r.id: (r.cluster, r.core_dist)
        for r in similarity.mutual_reachability_clusters_ann(
            df, k=3, eps=0.45, centroid_filter=F.col("vec_id") % 7 == 0, nprobe=2
        ).collect()
    }
    for i, (ac, acd) in ann.items():
        ec, ecd = exact[i]
        if acd is not None:
            assert acd >= ecd  # k-th among candidates >= k-th overall
    # component refinement: same ann cluster -> same exact cluster
    for i, (ac, _) in ann.items():
        for j, (ac2, _) in ann.items():
            if ac != -1 and ac == ac2:
                assert exact[i][0] == exact[j][0]


def test_mutual_reach_hierarchy_slices_match_flat_runs(spark):
    """Each fixed-λ slice of the hierarchy equals an independent flat
    ``mutual_reachability_clusters`` run at that eps (the composite-encoded
    single CC loop changes the orchestration, never the labels), and the
    slices NEST: two points co-clustered at a finer eps stay co-clustered
    at every coarser eps (edges only accumulate as eps grows)."""
    import random as rnd

    rng = rnd.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(25)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    levels = (0.35, 0.45, 0.55)
    hier = {}
    for r in similarity.mutual_reach_hierarchy(
        df, k=3, eps_levels=levels
    ).collect():
        hier[(r.id, round(r.eps, 2))] = r.cluster
    for eps in levels:
        flat = {
            r.id: r.cluster
            for r in similarity.mutual_reachability_clusters(
                df, k=3, eps=eps
            ).collect()
        }
        assert {i: hier[(i, eps)] for i in flat} == flat
    ids = sorted({i for i, _ in hier})
    for fine, coarse in ((0.35, 0.45), (0.45, 0.55)):
        for i in ids:
            for j in ids:
                if hier[(i, fine)] != -1 and hier[(i, fine)] == hier[(j, fine)]:
                    assert hier[(i, coarse)] == hier[(j, coarse)]


def test_ivf_artifact_roundtrip_and_incremental_append(spark, tmp_path):
    """The persisted IVF index answers queries bit-identically to the
    direct in-memory assignment, and mode="append" (new vector batches
    against FROZEN centroids) equals a full rebuild over the union — the
    incremental-maintenance contract of write_ivf_artifact."""
    import random as rnd

    rng = rnd.Random(3)
    all_rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(60)]
    first, second = all_rows[:40], all_rows[40:]
    df_all = spark.createDataFrame(all_rows, ["vec_id", "embedding"])
    df_first = spark.createDataFrame(first, ["vec_id", "embedding"])
    df_second = spark.createDataFrame(second, ["vec_id", "embedding"])
    q = df_all.filter(F.col("vec_id") < 5)
    cf = F.col("vec_id") % 10 == 0

    def key(df):
        return {
            (r.query_id, r.neighbor_id, round(r.cos, 9)) for r in df.collect()
        }

    direct = key(
        similarity.cosine_topk_ivf(q, df_all, k=4, nprobe=2, centroid_filter=cf)
    )
    path = str(tmp_path / "ivf_idx")
    similarity.write_ivf_artifact(df_all, path, centroid_filter=cf)
    assert key(
        similarity.cosine_topk_ivf_from_artifact(spark, path, q, k=4, nprobe=2)
    ) == direct

    # incremental: build from the first batch with the full centroid set
    # frozen up front (explicit centroids=), then append the second batch
    # THROUGH write_ivf_artifact — append must read the PERSISTED centroid
    # table and leave it untouched, never re-derive centroids from the batch
    path2 = str(tmp_path / "ivf_idx_inc")
    cents = df_all.filter(cf).select("vec_id", "embedding")
    similarity.write_ivf_artifact(df_first, path2, centroids=cents)
    frozen_before = {
        (r.vec_id, tuple(r.embedding))
        for r in spark.read.parquet(f"{path2}/centroids").collect()
    }
    similarity.write_ivf_artifact(df_second, path2, mode="append")
    frozen_after = {
        (r.vec_id, tuple(r.embedding))
        for r in spark.read.parquet(f"{path2}/centroids").collect()
    }
    assert frozen_after == frozen_before
    assert key(
        similarity.cosine_topk_ivf_from_artifact(spark, path2, q, k=4, nprobe=2)
    ) == direct

    # append without an existing artifact must raise, not silently build
    import pytest as _pytest

    with _pytest.raises(Exception):
        similarity.write_ivf_artifact(
            df_second, str(tmp_path / "ivf_idx_missing"), mode="append"
        )


def test_ivf_artifact_writes_the_centroids_it_assigned_with(spark, tmp_path):
    """The sampled centroid table is computed once: the one landed at
    ``{path}/centroids`` is the one every cell was assigned against, even
    for a nondeterministic sample that would differ if each of the two
    concurrent sinks recomputed it."""
    import math
    import random as rnd

    from pyspark.sql.types import BooleanType

    rng = rnd.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(60)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    coin = F.udf(lambda _: rnd.random() < 0.5, BooleanType()).asNondeterministic()
    path = str(tmp_path / "ivf_idx")
    similarity.write_ivf_artifact(df, path, centroid_filter=coin("vec_id"))
    cents = {
        r.vec_id: r.embedding for r in spark.read.parquet(f"{path}/centroids").collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

    def nearest(v):  # max cosine, ties to the lowest centroid id
        return max(cents, key=lambda c: (cos(v, cents[c]), -c))

    cells = {
        r.vec_id: r.cell_id for r in spark.read.parquet(f"{path}/cells").collect()
    }
    assert cells == {i: nearest(v) for i, v in rows}


def test_mutual_reach_hierarchy_ann_audit_full_coverage(spark):
    """When the IVF candidate feed covers every pair (nprobe = number of
    cells), the ANN hierarchy is IDENTICAL to the exact one, so the audit
    must report label_agreement 1.0 and equal cluster counts at every
    density level."""
    import random

    rng = random.Random(7)

    def blob(base, n, start_id):
        return [
            (start_id + j, [b + rng.uniform(-0.02, 0.02) for b in base])
            for j in range(n)
        ]

    rows = blob([1.0, 0.0, 0.0, 0.0], 6, 0) + blob([0.0, 1.0, 0.0, 0.0], 6, 25)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.mutual_reach_hierarchy_ann_audit(
        df, k=3, eps_levels=(0.05, 0.5, 1.1), nprobe=2
    ).collect()
    assert len(out) == 3
    for r in out:
        assert r.n_points == 12
        assert r.label_agreement == 1.0
        assert r.clusters_ann == r.clusters_exact


def test_mutual_reach_hierarchy_ann_audit_plans_no_expand(spark):
    """The audit counts each leg's clusters without a distinct aggregate:
    two of them plan an Expand whose group order changed from one build
    of the same query to the next, so its plan text was not stable."""
    rows = [(i, [1.0, 0.01 * i]) for i in range(6)] + [
        (25 + i, [0.01 * i, 1.0]) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.mutual_reach_hierarchy_ann_audit(
        df, k=2, eps_levels=(0.05, 1.1), nprobe=2
    )
    assert "Expand" not in out._jdf.queryExecution().optimizedPlan().toString()
    assert dict(out.dtypes)["clusters_exact"] == "bigint"
    assert dict(out.dtypes)["clusters_ann"] == "bigint"


def test_ivf_trained_centroids_recall_certificate(spark):
    """The VERDICT_r08 item-1 certificate, pinned on the real test corpus:
    kmeans-trained cells (k=25, 2 Lloyd iterations) must serve recall@10
    >= 0.9 at nprobe=8, and must beat the vec_id%25 sampled-cell serving
    path at the same nprobe budget."""
    emb = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    q = emb.filter(F.col("vec_id") < 20)
    cents = similarity.kmeans_centroids(emb, k=25, iters=2, dim=64).select(
        F.col("cid").alias("vec_id"), F.col("cvec").alias("embedding")
    )
    trained = {
        r.nprobe: r.recall_at_k
        for r in similarity.ivf_recall_curve(
            q, emb, k=10, max_nprobe=8, centroids=cents
        ).collect()
    }
    sampled = {
        r.nprobe: r.recall_at_k
        for r in similarity.ivf_recall_curve(q, emb, k=10, max_nprobe=8).collect()
    }
    assert trained[8] >= 0.9
    assert trained[8] > sampled[8]


def test_ivf_recall_curve_aligned_blobs_and_monotonicity(spark):
    """Crafted two-blob corpus with one centroid per blob: every query's
    exact top-k lives in its own cell, so recall@k is 1.0 already at
    nprobe=1; recall and candidate workload must both be non-decreasing in
    nprobe (the explode-by-probe-rank level replication)."""
    import random

    rng = random.Random(3)

    def blob(base, n, start_id):
        rows = []
        for j in range(n):
            v = [b + rng.uniform(-0.02, 0.02) for b in base]
            rows.append((start_id + j, v))
        return rows

    rows = blob([1.0, 0.0, 0.0, 0.0], 6, 0) + blob([0.0, 1.0, 0.0, 0.0], 6, 25)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id").isin(1, 26))
    out = {
        r.nprobe: r
        for r in similarity.ivf_recall_curve(
            q,
            df,
            k=2,
            max_nprobe=2,
            centroid_filter=F.col("vec_id").isin(0, 25),
        ).collect()
    }
    assert set(out) == {1, 2}
    assert out[1].n_queries == 2 and out[1].recall_at_k == 1.0
    assert out[2].recall_at_k >= out[1].recall_at_k
    assert out[2].avg_candidates >= out[1].avg_candidates
    # nprobe=1 candidates = own cell minus self = 5 per query
    assert out[1].avg_candidates == 5.0
    # nprobe=2 probes both cells: all 11 non-self vectors are candidates
    assert out[2].avg_candidates == 11.0


# --- product quantization ---------------------------------------------------


def test_pq_train_codebooks_matches_numpy_model(spark, vectors):
    """Subspace-keyed Lloyd must equal m independent per-subspace k-means
    runs under the shared deterministic contract (lowest-id init, plain
    means, lowest-cid ties) — checked against a python model on the module
    fixture (8-dim vectors, m=4 subspaces of 2, ksub=4, 2 iterations)."""
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
        ["vec_id", "embedding"],
    )
    m, dsub, ksub, iters = 4, 2, 4, 2
    got = {
        (r.sub, r.cid): list(r.cvec)
        for r in similarity.pq_train_codebooks(
            emb, m=m, dim=8, ksub=ksub, iters=iters
        ).collect()
    }
    expect = {}
    for s in range(m):
        sv = {i: v[s * dsub : (s + 1) * dsub] for i, v in enumerate(vectors)}
        cents = {i: list(sv[i]) for i in range(ksub)}
        for _ in range(iters):
            assign = {}
            for i, x in sv.items():
                best = min(
                    (sum((a - b) ** 2 for a, b in zip(x, c)), cid)
                    for cid, c in cents.items()
                )
                assign[i] = best[1]
            nxt = {}
            for cid in cents:
                members = [sv[i] for i, a in assign.items() if a == cid]
                if members:
                    nxt[cid] = [
                        sum(col) / len(members) for col in zip(*members)
                    ]
            cents = nxt
        for cid, c in cents.items():
            expect[(s, cid)] = c
    assert set(got) == set(expect)
    for key, cv in expect.items():
        assert got[key] == pytest.approx(cv, abs=1e-9), key


def test_pq_train_codebooks_rejects_vector_of_other_width(spark):
    # the subspace slices read positions 1..dim: a short vector would train
    # on short slices, so the width contract raises instead
    rows = [(0, [0.0, 0.0, 0.0, 0.0]), (1, [1.0, 1.0, 1.0, 1.0]), (2, [0.5, 0.5])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="pq_train_codebooks: embedding width != 4 at vec_id=2"):
        similarity.pq_train_codebooks(df, m=2, dim=4, ksub=2, iters=1).collect()


def test_pq_encode_distortion_shrinks_with_more_codewords(spark, vectors):
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
        ["vec_id", "embedding"],
    )

    def total_d2(ksub):
        cb = similarity.pq_train_codebooks(emb, m=4, dim=8, ksub=ksub, iters=2)
        codes = similarity.pq_encode(emb, cb, m=4, dim=8)
        return codes.agg(F.sum("d2")).first()[0]

    assert total_d2(8) < total_d2(2)


def test_pq_adc_recall_audit_refine_dominates_and_exact_codebook_is_lossless(
    spark, vectors
):
    """(a) refined recall ≥ raw ADC recall per query (exact re-rank of a
    superset containing the ADC top-k can only improve agreement with the
    exact top-k); (b) when every vector IS a codeword (ksub = N), ADC
    distances equal true distances, so raw ADC recall@k = 1."""
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
        ["vec_id", "embedding"],
    )
    q = emb.filter("vec_id < 4")
    aud = similarity.pq_adc_recall_audit(
        q, emb, m=4, dim=8, ksub=4, iters=2, k=5, refine=15
    ).collect()
    assert len(aud) == 4
    for r in aud:
        assert r.hits_refined >= r.hits_adc
        assert r.recall_adc == pytest.approx(r.hits_adc / 5)
    lossless = similarity.pq_adc_recall_audit(
        q, emb, m=4, dim=8, ksub=30, iters=1, k=5, refine=15
    ).collect()
    assert all(r.recall_adc == 1.0 for r in lossless)


def test_pq_declared_recall_bar_sf(spark, sf_smoke):
    """The declared pq_adc_recall contract (m=32, ksub=16, 2 iters,
    refine=150) must hold its certificate bar on real test data: mean
    refined recall@10 ≥ 0.9 and refine never below raw ADC."""
    emb = load_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    q = emb.filter("vec_id < 20")
    rows = similarity.pq_adc_recall_audit(
        q, emb, m=32, dim=64, ksub=16, iters=2, k=10, refine=150
    ).collect()
    mean_refined = sum(r.recall_refined for r in rows) / len(rows)
    assert mean_refined >= 0.9
    assert all(r.hits_refined >= r.hits_adc for r in rows)


def test_ivfpq_topk_audit_recall_and_shape(spark, sf_smoke):
    """The composed IVF-PQ serve (declared similarity_topk_ivfpq contract)
    on real test data: exactly k rows per query with ranks 1..k, true d2
    non-decreasing in rank, and mean recall@10 >= 0.9."""
    emb = load_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    q = emb.filter("vec_id < 20")
    rows = similarity.ivfpq_topk_audit(q, emb).collect()
    per = {}
    for r in rows:
        per.setdefault(r.query_id, []).append(r)
    assert len(per) == 20
    hits = 0
    for qid, rs in per.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, 11))
        d2s = [r.d2 for r in rs]
        assert d2s == sorted(d2s)
        hits += sum(r.hit for r in rs)
    assert hits / (10 * len(per)) >= 0.9


def test_ivfpq_serve_never_broadcasts_corpus(spark, sf_smoke, tmp_path):
    """Scale-posture machine check (ADVICE_r09 medium, kept fixed): in the
    artifact serve's physical plan, every BroadcastExchange subtree must
    be query-bounded — none may contain the codes/vectors parquet scans
    (a corpus-proportional broadcast OOMs at 100 TB). The cell-blocked
    scan joins broadcast(probes) INTO the code scan, never the reverse."""
    emb = load_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    q = emb.filter("vec_id < 5")
    path = str(tmp_path / "ivfpq_posture")
    similarity.write_ivfpq_artifact(emb, path)
    served = similarity.ivfpq_topk_from_artifact(spark, path, q)
    plan = served._jdf.queryExecution().executedPlan().toString()
    # walk broadcast subtrees: capture each BroadcastExchange block by
    # indentation and assert no corpus file scan appears inside it
    lines = plan.splitlines()
    in_bc, bc_depth = False, 0
    offenders = []
    for ln in lines:
        depth = len(ln) - len(ln.lstrip(" :+-*"))
        if "BroadcastExchange" in ln:
            in_bc, bc_depth = True, depth
            continue
        if in_bc and depth <= bc_depth and ln.strip():
            in_bc = False
        if in_bc and ("/codes" in ln or "/vectors" in ln):
            offenders.append(ln.strip()[:120])
    assert not offenders, offenders
    # and the serve still answers correctly end to end
    assert served.count() == 50


def test_ivfpq_full_probe_full_refine_equals_exact(spark, vectors):
    """With nprobe = coarse_k (no cell pruning) and refine = N (no ADC
    pruning), the composed path degenerates to the exact search: every
    served row must be an exact-top-k hit."""
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
        ["vec_id", "embedding"],
    )
    q = emb.filter("vec_id < 3")
    rows = similarity.ivfpq_topk_audit(
        q, emb, coarse_k=4, coarse_iters=1, nprobe=4,
        m=4, dim=8, ksub=4, iters=1, refine=30, k=5,
    ).collect()
    assert len(rows) == 15
    assert all(r.hit == 1 for r in rows)


def test_ivfpq_artifact_serves_bit_identical(spark, sf_smoke, tmp_path):
    """write_ivfpq_artifact + ivfpq_topk_from_artifact must serve the same
    top-k as the in-memory ivfpq_topk_audit (probing/ADC/refine are pure
    functions of the frozen quantizers and codes), and the artifact must
    contain all four serving tables with codes packed per vector."""
    emb = load_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    q = emb.filter("vec_id < 5")
    path = str(tmp_path / "ivfpq")
    similarity.write_ivfpq_artifact(emb, path)
    served = similarity.ivfpq_topk_from_artifact(spark, path, q)
    qd = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"))
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__nv")
    )
    got = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.d2, r.hit)
        for r in similarity._ivfpq_hit_tail(served, qd, nv, k=10).collect()
    )
    expect = sorted(
        (r.query_id, r.rank, r.neighbor_id, r.d2, r.hit)
        for r in similarity.ivfpq_topk_audit(q, emb).collect()
    )
    assert got == expect and len(got) == 50
    codes = spark.read.parquet(f"{path}/codes")
    n = emb.count()
    assert codes.count() == n
    assert codes.select(F.size("codes")).distinct().collect() == [(32,)]
    assert spark.read.parquet(f"{path}/codebooks").count() == 32 * 16
    assert spark.read.parquet(f"{path}/centroids").count() == 25
    assert spark.read.parquet(f"{path}/vectors").count() == n


def test_ivfpq_artifact_append_frozen_quantizers(spark, sf_smoke, tmp_path):
    """write_ivfpq_artifact(mode='append'): building from a 90% slice and
    appending the rest through the FROZEN persisted quantizers must leave
    the quantizer tables byte-stable and the grown codes/vectors tables
    equal to directly encoding the full corpus through those same frozen
    quantizers; append without an existing artifact raises."""
    import pytest

    emb = load_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    old = emb.filter("vec_id % 10 != 7")
    new = emb.filter("vec_id % 10 = 7")
    path = str(tmp_path / "ivfpq_incr")
    similarity.write_ivfpq_artifact(old, path)
    cents_before = sorted(map(tuple, spark.read.parquet(f"{path}/centroids").collect()))
    cbs_before = sorted(map(tuple, spark.read.parquet(f"{path}/codebooks").collect()))
    similarity.write_ivfpq_artifact(new, path, mode="append")
    assert sorted(map(tuple, spark.read.parquet(f"{path}/centroids").collect())) == cents_before
    assert sorted(map(tuple, spark.read.parquet(f"{path}/codebooks").collect())) == cbs_before
    # grown tables == direct encode of the FULL corpus through the frozen
    # quantizers (assignment/encoding are pure functions of them)
    coarse = spark.read.parquet(f"{path}/centroids")
    cb = spark.read.parquet(f"{path}/codebooks")
    cells = similarity.assign_nearest(emb, coarse).select(
        "vec_id", F.col("cid").alias("cell_id")
    )
    direct = (
        similarity.pq_encode(emb, cb, m=32, dim=64)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "cid"))),
                lambda s: s["cid"],
            ).alias("codes")
        )
        .join(cells, "vec_id")
    )
    got = sorted(
        (r.vec_id, tuple(r.codes), r.cell_id)
        for r in spark.read.parquet(f"{path}/codes").collect()
    )
    expect = sorted((r.vec_id, tuple(r.codes), r.cell_id) for r in direct.collect())
    assert got == expect
    assert spark.read.parquet(f"{path}/vectors").count() == emb.count()
    with pytest.raises(Exception):
        similarity.write_ivfpq_artifact(
            new, str(tmp_path / "missing"), mode="append"
        )
    # geometry mismatch must raise BEFORE writing (ADVICE r10): an append
    # with m/dim different from the build would silently land code arrays
    # of the wrong length in the existing cell-partitioned codes table
    codes_before = spark.read.parquet(f"{path}/codes").count()
    with pytest.raises(ValueError, match="geometry mismatch"):
        similarity.write_ivfpq_artifact(new, path, mode="append", m=16, dim=64)
    with pytest.raises(ValueError, match="geometry mismatch"):
        similarity.write_ivfpq_artifact(new, path, mode="append", m=32, dim=32)
    assert spark.read.parquet(f"{path}/codes").count() == codes_before


def test_ivfpq_append_derives_geometry_from_artifact(spark, sf_smoke, tmp_path):
    """ADVICE r11: append with the sentinel defaults (m=dim=None) against a
    NON-default-geometry artifact must succeed — geometry is derived from
    the persisted codebooks, never assumed from library defaults — and the
    appended code arrays must carry the artifact's m, not the default 32."""
    emb = load_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    old = emb.filter("vec_id % 10 != 3")
    new = emb.filter("vec_id % 10 = 3")
    path = str(tmp_path / "ivfpq_m16")
    similarity.write_ivfpq_artifact(old, path, m=16, dim=64)
    similarity.write_ivfpq_artifact(new, path, mode="append")  # no m/dim
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == emb.count()
    lens = codes.select(F.size("codes").alias("n")).distinct().collect()
    assert [r.n for r in lens] == [16]
    # an EXPLICITLY passed wrong geometry (the old library default, even)
    # still raises before any write
    with pytest.raises(ValueError, match="geometry mismatch"):
        similarity.write_ivfpq_artifact(new, path, mode="append", m=32, dim=64)


@pytest.mark.parametrize(
    "writer, kw",
    [
        ("write_ivf_artifact", {}),
        ("write_ivfpq_artifact", {"coarse_k": 4, "coarse_iters": 1, "m": 4, "dim": 8, "ksub": 4, "iters": 1}),
    ],
    ids=["ivf", "ivfpq"],
)
def test_artifact_writer_rejects_other_modes_before_any_work(spark, emb, tmp_path, writer, kw):
    """Both artifact writers only rebuild or append: ``mode="error"`` on an
    existing artifact raises ValueError before training or writing, and
    every file of the artifact keeps its mtime."""
    write = getattr(similarity, writer)
    path = str(tmp_path / "artifact")
    write(emb, path, **kw)

    def mtimes():
        return {
            os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, files in os.walk(path)
            for f in files
        }

    before = mtimes()
    assert before
    with pytest.raises(ValueError, match="mode must be 'overwrite' or 'append'"):
        write(emb, path, mode="error", **kw)
    assert mtimes() == before


def test_ivfpq_residual_recall_bar_and_degeneracy(spark, sf_smoke, vectors):
    """Residual IVF-PQ holds the same certificate bar as the flat variant
    on real test data (mean recall@10 >= 0.9 at the declared budget), and
    degenerates to the exact search when nothing is pruned (nprobe =
    coarse_k, refine = N)."""
    emb = load_table(spark, sf_smoke, "embeddings").select("vec_id", "embedding")
    q = emb.filter("vec_id < 20")
    rows = similarity.ivfpq_residual_topk_audit(q, emb).collect()
    per = {}
    for r in rows:
        per.setdefault(r.query_id, []).append(r.hit)
    assert len(per) == 20 and all(len(v) == 10 for v in per.values())
    assert sum(sum(v) for v in per.values()) / 200 >= 0.9
    tiny = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
        ["vec_id", "embedding"],
    )
    tq = tiny.filter("vec_id < 3")
    out = similarity.ivfpq_residual_topk_audit(
        tq, tiny, coarse_k=4, coarse_iters=1, nprobe=4,
        m=4, dim=8, ksub=4, iters=1, refine=30, k=5,
    ).collect()
    assert len(out) == 15 and all(r.hit == 1 for r in out)
