"""Property-based operator tests (hypothesis) — a layer the reference lacks
(SURVEY §5: no property tests there). Each property checks the Spark operator
against a plain-Python model on small random inputs."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tmdb_spark_data_pipeline_spark.operators import cleaning, rank, setops
from tmdb_spark_data_pipeline_spark.sources.io import register_views

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.integers(min_value=-100, max_value=100),  # tiebreak/metric
        st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False, width=32)),
    ),
    min_size=1,
    max_size=25,
)


@SETTINGS
@given(rows=rows_strategy)
def test_dedup_by_key_keeps_min_by_tiebreak(spark, rows):
    df = spark.createDataFrame(rows, "k int, t int, v double")
    got = {(r.k, r.t) for r in cleaning.dedup_by_key(df, ("k",), tiebreak=(F.col("t"), F.col("v"))).collect()}
    expect = {}
    for k, t, v in sorted(rows, key=lambda r: (r[0], r[1], (r[2] is None, r[2]))):
        expect.setdefault(k, (k, t))
    assert got == set(expect.values())
    assert len(got) == len({k for k, _, _ in rows})  # exactly one row per key


@SETTINGS
@given(rows=rows_strategy, k=st.integers(min_value=1, max_value=8))
def test_top_k_matches_python_model(spark, rows, k):
    df = spark.createDataFrame(rows, "k int, t int, v double")
    got = [(r.k, r.t) for r in rank.top_k(df, "v", order="desc", k=k, tiebreak=("k", "t")).collect()]
    model = sorted(rows, key=lambda r: (r[2] is None, -(r[2] or 0), r[0], r[1]))[:k]
    assert got == [(m[0], m[1]) for m in model]


@SETTINGS
@given(
    kv=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # group key
            st.one_of(st.none(), st.sampled_from([-1.5, 0.0, 2.0])),  # metric: ties + NULLs
        ),
        max_size=25,
    ),
    order=st.sampled_from(["asc", "desc"]),
    n=st.integers(min_value=1, max_value=4),
    grouped=st.booleans(),
)
@example(kv=[], order="asc", n=1, grouped=True)
@example(kv=[(0, None)], order="desc", n=1, grouped=False)
@example(kv=[(0, None), (0, 2.0), (0, 2.0), (1, -1.5)], order="asc", n=1, grouped=True)
def test_top_n_per_group_matches_python_model(spark, kv, order, n, grouped):
    # t is unique and not in insertion order, so it alone settles metric ties
    rows = [(k, (i * 7) % 31, v) for i, (k, v) in enumerate(kv)]
    df = spark.createDataFrame(rows, "k int, t int, v double")
    group_cols = ("k",) if grouped else ()
    out = rank.top_n_per_group(df, group_cols, "v", order=order, n=n, tiebreak=("t",), rank_col="pos")
    got = {(r.k, r.t, r.pos) for r in out.collect()}

    sign = 1 if order == "asc" else -1
    groups: dict = {}
    for r in sorted(rows, key=lambda r: (r[2] is None, sign * (r[2] or 0), r[1])):  # NULLS LAST
        groups.setdefault(r[0] if grouped else None, []).append(r)
    expect = {(r[0], r[1], i + 1) for g in groups.values() for i, r in enumerate(g[:n])}
    assert got == expect


@SETTINGS
@given(
    a=st.lists(st.integers(0, 20), max_size=20),
    b=st.lists(st.integers(0, 20), max_size=20),
)
def test_setops_match_python_sets(spark, a, b):
    da = spark.createDataFrame([(x,) for x in a], "v int")
    db = spark.createDataFrame([(x,) for x in b], "v int")
    assert {r.v for r in setops.intersect_distinct(da, db).collect()} == set(a) & set(b)
    assert {r.v for r in setops.except_distinct(da, db).collect()} == set(a) - set(b)
    assert {r.v for r in setops.union_by_name([da, db], distinct=True).collect()} == set(a) | set(b)


@SETTINGS
@given(rows=rows_strategy, n=st.integers(min_value=0, max_value=3))
def test_completeness_filter_matches_python_model(spark, rows, n):
    df = spark.createDataFrame(rows, "k int, t int, v double")
    got = cleaning.completeness_filter(df, n).count()
    expect = sum(1 for r in rows if sum(x is not None for x in r) >= n)
    assert got == expect


def test_declared_surface_is_sql_queryable(spark, sf_smoke):
    # SURVEY §1.4: tables register as temp views, so the surface is also
    # plain spark.sql
    register_views(spark, sf_smoke)
    out = spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1 ORDER BY 1
        """
    )
    assert out.count() > 0


@SETTINGS
@given(
    keys=st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=30, unique=True),
    w=st.sampled_from([
        {"train": 0.8, "test": 0.2},
        {"train": 0.9, "val": 0.05, "test": 0.05},
        {"a": 0.5, "b": 0.5},
    ]),
)
def test_hash_split_partitions_every_row_exactly_once(spark, keys, w):
    from tmdb_spark_data_pipeline_spark.operators import sampling

    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    out = sampling.hash_split(df, "doc_id", w).collect()
    assert len(out) == len(keys)  # no row dropped or duplicated
    assert all(r.split in w for r in out)  # every row gets a declared split
    # determinism: same key -> same split, independent of the rest of the data
    solo = {
        r.doc_id: r.split
        for r in sampling.hash_split(
            spark.createDataFrame([(keys[0],)], "doc_id long"), "doc_id", w
        ).collect()
    }
    full = {r.doc_id: r.split for r in out}
    assert full[keys[0]] == solo[keys[0]]


@SETTINGS
@given(
    toks=st.lists(st.integers(min_value=0, max_value=300), min_size=1, max_size=30),
    budget=st.sampled_from([64, 256, 1024]),
)
def test_pack_sequences_matches_python_cumsum_model(spark, toks, budget):
    from tmdb_spark_data_pipeline_spark.operators import packing

    rows = [(i, "s", t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, ["doc_id", "shard", "n_tok"])
    got = {
        r.doc_id: (r.pack_start, r.pack_id)
        for r in packing.pack_sequences(df, "shard", "doc_id", "n_tok", budget).collect()
    }
    start = 0
    for i, t in enumerate(toks):
        assert got[i] == (start, start // budget)
        start += t


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=500),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda r: r[0],
    ),
    frac=st.sampled_from([0.1, 0.5, 1.0]),
)
def test_stratified_sample_exact_ceil_counts(spark, rows, frac):
    import math

    from tmdb_spark_data_pipeline_spark.operators import sampling

    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    out = sampling.stratified_sample(df, ("grp",), frac, "doc_id").collect()
    from collections import Counter

    want = Counter(g for _, g in rows)
    got = Counter(r.grp for r in out)
    assert got == Counter({g: math.ceil(n * frac) for g, n in want.items()})


@SETTINGS
@given(
    texts=st.lists(
        st.text(alphabet="abcdef \n", min_size=1, max_size=60), min_size=1, max_size=8
    )
)
def test_char_entropy_bounds_property(spark, texts):
    """0 ≤ H ≤ log2(#distinct chars), H=0 iff one distinct char."""
    import math

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    from tmdb_spark_data_pipeline_spark.operators.text import char_entropy_stats

    out = {r.doc_id: r for r in char_entropy_stats(docs, "text", "doc_id").collect()}
    for i, t in enumerate(texts):
        chars = [c for c in t if c != ""]
        if not chars:
            assert i not in out
            continue
        distinct = len(set(chars))
        h = out[i].char_entropy_bits
        assert -1e-9 <= h <= math.log2(distinct) + 1e-6
        if distinct == 1:
            assert h == 0.0


@SETTINGS
@given(pairs=st.lists(st.tuples(st.integers(0, 1023), st.integers(0, 1023)), min_size=1, max_size=20))
def test_zorder_key_bijective_property(spark, pairs):
    """Morton interleave is a bijection on [0,2^10)² — distinct (a,b) pairs
    must get distinct keys, and the key must round-trip to (a,b)."""
    from tmdb_spark_data_pipeline_spark.operators.layout import zorder_key

    df = spark.createDataFrame(list(set(pairs)), ["a", "b"])
    rows = df.select("a", "b", zorder_key("a", "b", bits=10).alias("z")).collect()
    seen = {}
    for r in rows:
        a = sum(((r.z >> (2 * i)) & 1) << i for i in range(10))
        b = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(10))
        assert (a, b) == (r.a, r.b)
        assert r.z not in seen
        seen[r.z] = (r.a, r.b)


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),   # key
            st.integers(min_value=0, max_value=50),  # seq (may collide)
            st.sampled_from(["upsert", "delete"]),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_last_state_matches_python_model(spark, rows):
    from tmdb_spark_data_pipeline_spark.operators import timeseries

    # make seq unique per row (total order) the same way the operator requires
    uniq = [(k, i, op) for i, (k, _, op) in enumerate(rows)]
    df = spark.createDataFrame(uniq, "k int, seq int, op string")
    got = {r.k: r.op for r in timeseries.last_state(
        df, ("k",), ("seq",), op_col="op", delete_op="delete"
    ).collect()}
    model = {}
    for k, seq, op in uniq:
        model[k] = op  # seq strictly increasing => last write wins
    expect = {k: op for k, op in model.items() if op != "delete"}
    assert got == expect


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # group key
            st.integers(min_value=-50, max_value=50),  # summable value
        ),
        min_size=1,
        max_size=30,
    ),
    cut=st.integers(min_value=0, max_value=30),
)
def test_combine_rollups_any_split_equals_full(spark, rows, cut):
    from tmdb_spark_data_pipeline_spark.operators import agg as agg_ops

    idx = [(k, v, i) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(idx, "k int, v long, i int")

    def rollup(part):
        return part.groupBy("k").agg(
            F.count("*").alias("n"), F.sum("v").alias("s"), F.max("i").alias("hi")
        )

    full = {tuple(r) for r in rollup(df).collect()}
    merged = agg_ops.combine_rollups(
        [rollup(df.filter(F.col("i") < cut)), rollup(df.filter(F.col("i") >= cut))],
        ("k",),
        sum_cols=("n", "s"),
        max_cols=("hi",),
    )
    assert {tuple(r) for r in merged.collect()} == full


@SETTINGS
@given(
    vals=st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
        min_size=1,
        max_size=60,
    ),
    counters=st.integers(min_value=1, max_value=6),
)
def test_heavy_hitter_recall_property(spark, vals, counters):
    from collections import Counter

    from tmdb_spark_data_pipeline_spark.operators import sketch

    df = spark.createDataFrame([(v,) for v in vals], "v string").repartition(3)
    cand = {r.value for r in sketch.heavy_hitter_candidates(
        df, "v", counters=counters
    ).collect()}
    n = len(vals)
    for v, c in Counter(vals).items():
        if c > n / (counters + 1):  # the guarantee threshold
            assert v in cand, (v, c, n, counters)


@SETTINGS
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_triangle_stats_matches_brute_force_model(spark, pairs):
    from itertools import combinations

    from tmdb_spark_data_pipeline_spark.operators import graph

    # canonicalize to a simple undirected graph (u < v, dedup, no loops)
    edges = sorted({(min(a, b), max(a, b)) for a, b in pairs if a != b})
    if not edges:
        return
    eset = set(edges)
    nodes = sorted({n for e in edges for n in e})
    tri = sum(
        1
        for a, b, c in combinations(nodes, 3)
        if (a, b) in eset and (b, c) in eset and (a, c) in eset
    )
    deg = {n: 0 for n in nodes}
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    r = graph.triangle_stats(
        spark.createDataFrame(edges, "u long, v long")
    ).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_triangles, r.n_wedges) == (
        len(nodes), len(edges), tri, wedges,
    )


@SETTINGS
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=8),
    budget=st.integers(min_value=1, max_value=2000),
)
def test_waterfill_matches_python_model(spark, sizes, budget):
    from tmdb_spark_data_pipeline_spark.operators import sampling

    rows = [(f"s{i}", n) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "src string, n long")
    out = {r.src: r for r in sampling.waterfill_allocations(df, "src", "n", budget).collect()}
    total = sum(sizes)
    if budget >= total:
        # nothing capped; everyone keeps everything
        assert all(out[f"s{i}"].allocated == float(n) for i, n in enumerate(sizes))
        assert all(r.cap is None and not r.capped for r in out.values())
    else:
        # the water level: sum(min(n_i, c)) == budget (within output rounding)
        allocs = [out[f"s{i}"].allocated for i in range(len(sizes))]
        assert abs(sum(allocs) - budget) <= 0.01 * len(sizes) + 1e-6
        # no source exceeds its inventory; capped iff above the water line
        cap = next(r.cap for r in out.values())
        for i, n in enumerate(sizes):
            r = out[f"s{i}"]
            assert r.allocated <= n + 1e-9
            assert r.capped == (float(n) > cap)


@SETTINGS
@given(
    groups=st.lists(
        st.lists(st.floats(min_value=0, max_value=1, allow_nan=False, width=32),
                 min_size=1, max_size=8),
        min_size=1, max_size=4,
    )
)
def test_quantile_normalize_matches_python_model(spark, groups):
    import math

    from tmdb_spark_data_pipeline_spark.operators import calibrate

    rows = []
    rid = 0
    for gi, vals in enumerate(groups):
        for v in vals:
            rows.append((f"g{gi}", rid, float(v)))
            rid += 1
    df = spark.createDataFrame(rows, "src string, id int, v double")
    out = {r.id: r.normalized
           for r in calibrate.quantile_normalize(df, "v", "src", "id").collect()}
    # python model: global sort by (v, id); per group sort by (v, id);
    # rank i of n_g maps to global position ceil(i*N/n_g)
    all_sorted = sorted(rows, key=lambda r: (r[2], r[1]))
    N = len(all_sorted)
    for gi, vals in enumerate(groups):
        members = sorted((r for r in rows if r[0] == f"g{gi}"),
                         key=lambda r: (r[2], r[1]))
        n_g = len(members)
        for i, (_, rid_, _) in enumerate(members, start=1):
            gpos = math.ceil(i * N / n_g)
            assert out[rid_] == all_sorted[gpos - 1][2], (rid_, i, n_g, N)


@SETTINGS
@given(
    left=st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=12),
    right=st.lists(st.sampled_from("abcdefgh"), min_size=0, max_size=12),
    run=st.lists(st.sampled_from("qrstuvwx"), min_size=6, max_size=10),
)
def test_winnowing_guarantee_on_random_docs(spark, left, right, run):
    from tmdb_spark_data_pipeline_spark.operators import text as T

    # two docs sharing an injected run of >= window + k - 1 = 6 distinct-
    # alphabet words must share at least one fingerprint (the MOSS theorem)
    doc1 = " ".join([*left, *run, *right])
    doc2 = " ".join([*reversed(right), *run, *reversed(left)])
    df = spark.createDataFrame([(1, doc1), (2, doc2)], "doc_id int, text string")
    fp = T.winnowed_fingerprints(df, "text", "doc_id", k=3, window=4)
    sets = {1: set(), 2: set()}
    for r in fp.collect():
        sets[r.doc_id].add(r.fingerprint)
    assert sets[1] & sets[2], (doc1, doc2)


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=25
    ),
    k=st.integers(min_value=1, max_value=4),
)
def test_kcore_matches_python_peel_model(spark, edges, k):
    from tmdb_spark_data_pipeline_spark.operators import graph

    canon = sorted({(min(u, v), max(u, v)) for u, v in edges if u != v})
    if not canon:
        return
    # python model: iterate removal of degree<k nodes until fixpoint
    es = set(canon)
    while True:
        deg: dict[int, int] = {}
        for u, v in es:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        dead = {n for n, d in deg.items() if d < k}
        if not dead:
            break
        es = {(u, v) for u, v in es if u not in dead and v not in dead}
    expect = {}
    for u, v in es:
        expect[u] = expect.get(u, 0) + 1
        expect[v] = expect.get(v, 0) + 1
    df = spark.createDataFrame(canon, "u int, v int")
    got = {r.node: r.core_deg for r in graph.kcore(df, k).collect()}
    assert got == expect


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)), min_size=1, max_size=16
    ),
    iters=st.integers(min_value=1, max_value=4),
)
def test_pagerank_fixed_matches_python_integer_model(spark, edges, iters):
    from tmdb_spark_data_pipeline_spark.operators import graph

    canon = sorted({(min(u, v), max(u, v)) for u, v in edges if u != v})
    if not canon:
        return
    scale = 10**12
    sym: list[tuple[int, int]] = []
    for u, v in canon:
        sym += [(u, v), (v, u)]
    nodes = sorted({n for e in sym for n in e})
    outdeg = {n: sum(1 for s, _ in sym if s == n) for n in nodes}
    nn = len(nodes)
    rank = {n: scale // nn for n in nodes}
    for _ in range(iters):
        acc = {n: 0 for n in nodes}
        for s, d in sym:
            acc[d] += rank[s] // outdeg[s]
        rank = {n: (15 * (scale // nn)) // 100 + (85 * acc[n]) // 100 for n in nodes}
    df = spark.createDataFrame(canon, "u int, v int")
    got = {r.node: r.rank_micro for r in graph.pagerank_fixed(df, iters=iters).collect()}
    assert got == rank


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7), st.integers(1, 9)),
        min_size=1,
        max_size=16,
    ),
    iters=st.integers(min_value=1, max_value=4),
)
def test_pagerank_weighted_matches_python_integer_model(spark, edges, iters):
    from tmdb_spark_data_pipeline_spark.operators import graph

    # canonicalize: undirected simple graph, first weight wins per pair
    seen: dict[tuple[int, int], int] = {}
    for u, v, w in edges:
        if u != v:
            seen.setdefault((min(u, v), max(u, v)), w)
    canon = sorted((u, v, w) for (u, v), w in seen.items())
    if not canon:
        return
    scale = 10**12
    sym: list[tuple[int, int, int]] = []
    for u, v, w in canon:
        sym += [(u, v, w), (v, u, w)]
    nodes = sorted({n for s, d, _ in sym for n in (s, d)})
    wdeg = {n: sum(w for s, _, w in sym if s == n) for n in nodes}
    nn = len(nodes)
    rank = {n: scale // nn for n in nodes}
    for _ in range(iters):
        acc = {n: 0 for n in nodes}
        for s, d, w in sym:
            acc[d] += (rank[s] * w) // wdeg[s]
        rank = {n: (15 * (scale // nn)) // 100 + (85 * acc[n]) // 100 for n in nodes}
    df = spark.createDataFrame(canon, "u int, v int, w int")
    got = {
        r.node: r.rank_micro
        for r in graph.pagerank_weighted_fixed(df, iters=iters).collect()
    }
    assert got == rank


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9), st.integers(1, 5)),
        min_size=1,
        max_size=25,
    ),
    s=st.integers(min_value=1, max_value=8),
)
def test_s_core_matches_python_peel_model(spark, edges, s):
    from tmdb_spark_data_pipeline_spark.operators import graph

    seen: dict[tuple[int, int], int] = {}
    for u, v, w in edges:
        if u != v:
            seen.setdefault((min(u, v), max(u, v)), w)
    canon = sorted((u, v, w) for (u, v), w in seen.items())
    if not canon:
        return
    es = {(u, v): w for u, v, w in canon}
    while True:
        stg: dict[int, int] = {}
        for (u, v), w in es.items():
            stg[u] = stg.get(u, 0) + w
            stg[v] = stg.get(v, 0) + w
        dead = {n for n, d in stg.items() if d < s}
        if not dead:
            break
        es = {k: w for k, w in es.items() if k[0] not in dead and k[1] not in dead}
    expect = {}
    for (u, v), w in es.items():
        for n in (u, v):
            d, cw = expect.get(n, (0, 0))
            expect[n] = (d + 1, cw + w)
    df = spark.createDataFrame(canon, "u int, v int, w int")
    got = {r.node: (r.core_deg, r.core_weight) for r in graph.s_core(df, s).collect()}
    assert got == expect


@SETTINGS
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=3, max_size=12),
        min_size=2,
        max_size=10,
    ),
    thr=st.sampled_from([0.2, 0.5, 0.8]),
)
def test_ngram_jaccard_matches_python_set_model(spark, docs, thr):
    """The core exact-dedup operator vs a plain set-Jaccard model: every
    pair at or above the threshold is found with the exact value (rounded
    at 10 to absorb the double division), and nothing below it leaks."""
    from tmdb_spark_data_pipeline_spark.operators import dedup

    texts = [" ".join(words) for words in docs]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): round(r.jaccard, 10)
        for r in dedup.ngram_jaccard_pairs(
            df, "text", "doc_id", n=3, min_jaccard=thr
        ).collect()
    }

    def shingles(words):
        return {
            " ".join(words[i : i + 3]) for i in range(len(words) - 2)
        }

    expect = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = shingles(docs[i]), shingles(docs[j])
            if not a or not b:
                continue
            inter = len(a & b)
            jac = inter / (len(a) + len(b) - inter)
            if jac >= thr and inter > 0:
                expect[(i, j)] = round(jac, 10)
    assert got == expect


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)), min_size=1, max_size=20
    )
)
def test_connected_components_matches_union_find(spark, edges):
    from tmdb_spark_data_pipeline_spark.operators import dedup

    canon = sorted({(min(u, v), max(u, v)) for u, v in edges if u != v})
    if not canon:
        return
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in canon:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    expect = {n: find(n) for n in parent}
    df = spark.createDataFrame(canon, "id_a int, id_b int")
    got = {r.id: r.comp for r in dedup.connected_components(df).collect()}
    assert got == expect


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)), min_size=1, max_size=16
    ),
    seed_bits=st.integers(min_value=1, max_value=255),
    rounds=st.integers(min_value=1, max_value=3),
)
def test_propagate_labels_matches_sync_model(spark, edges, seed_bits, rounds):
    """Synchronous majority label spreading vs a python simulation: per
    round every unlabeled node with labeled neighbors takes the majority
    label (lexicographic tiebreak); seeds clamp; labels never change."""
    from tmdb_spark_data_pipeline_spark.operators import graph

    canon = sorted({(min(u, v), max(u, v)) for u, v in edges if u != v})
    if not canon:
        return
    nodes = sorted({n for e in canon for n in e})
    seeds = [(n, f"L{n % 3}") for n in nodes if (seed_bits >> (n % 8)) & 1]
    if not seeds:
        return
    adj: dict[int, set] = {n: set() for n in nodes}
    for u, v in canon:
        adj[u].add(v)
        adj[v].add(u)
    labels = {n: lab for n, lab in seeds}
    expect = {n: (lab, 0) for n, lab in seeds}
    for r in range(1, rounds + 1):
        votes = {}
        for n in nodes:
            if n in labels:
                continue
            counts: dict[str, int] = {}
            for m in adj[n]:
                if m in labels:
                    counts[labels[m]] = counts.get(labels[m], 0) + 1
            if counts:
                best = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
                votes[n] = best
        for n, lab in votes.items():
            labels[n] = lab
            expect[n] = (lab, r)
    df = spark.createDataFrame(canon, "u int, v int")
    sdf = spark.createDataFrame(seeds, "id int, label string")
    got = {
        r.id: (r.label, r.round)
        for r in graph.propagate_labels(df, sdf, rounds=rounds).collect()
    }
    assert got == expect


@SETTINGS
@given(
    docs=st.lists(
        st.tuples(
            st.lists(st.sampled_from("xyz"), min_size=1, max_size=6),
            st.booleans(),
        ),
        min_size=2,
        max_size=10,
    )
)
def test_dsir_matches_python_lm_model(spark, docs):
    """DSIR log-ratio scoring vs a python add-one-smoothed LM model."""
    import math

    from tmdb_spark_data_pipeline_spark.operators import text as T

    if not any(t for _, t in docs) or not any(not t for _, t in docs):
        return  # need both a target and a source slice
    rows = [(i, " ".join(ws), t) for i, (ws, t) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_target boolean")
    ct: dict[str, int] = {}
    cs: dict[str, int] = {}
    for ws, t in docs:
        for w in ws:
            (ct if t else cs)[w] = (ct if t else cs).get(w, 0) + 1
    vocab = set(ct) | set(cs)
    nt, ns, v = sum(ct.values()), sum(cs.values()), len(vocab)
    from decimal import Decimal

    expect = {}
    for i, (ws, t) in enumerate(docs):
        if t:
            continue
        # mirror the engine exactly: 12-rounded double terms summed in
        # DECIMAL (order-free), one final double division
        terms = [
            Decimal(
                f"{round(math.log((ct.get(w, 0) + 1) / (nt + v)) - math.log((cs.get(w, 0) + 1) / (ns + v)), 12):.12f}"
            )
            for w in ws
        ]
        expect[i] = (len(ws), round(float(sum(terms)) / len(terms), 6))
    got = {
        r.doc_id: (r.n_tokens, r.avg_log_ratio)
        for r in T.dsir_importance_stats(df, "text", "doc_id", "is_target").collect()
    }
    assert got == expect


word_st = st.text(alphabet="abcdefg", min_size=1, max_size=3)
docs_strategy = st.lists(
    st.lists(word_st, min_size=3, max_size=12).map(lambda ws: " ".join(ws)),
    min_size=2,
    max_size=8,
)


@SETTINGS
@given(texts=docs_strategy)
def test_portable_banding_matches_python_model(spark, texts):
    """The portable MinHash banding (minhash_blocking_quality's
    measurement instrument) replayed in pure Python: same distinct 3-word
    shingles, same md5-60 base hash (hashlib replicates the engine's
    conv(substr(md5)) exactly), same affine permutations, same band
    grouping — the candidate pair set must be identical. This is the
    same guarantee the DuckDB oracle checks, but over adversarial random
    corpora instead of the fixture tables."""
    import hashlib

    from tmdb_spark_data_pipeline_spark.operators import dedup as dd

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b)
        for r in dd.minhash_band_pairs_portable(
            df, "text", "doc_id", n=3, num_hashes=16, bands=4
        ).collect()
    }

    p = dd._MERSENNE31
    params = dd._permutation_params(16, 7)

    def shingles(t):
        ws = t.split()
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    def signature(t):
        hs = [
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % p
            for s in shingles(t)
        ]
        return [min((a * h + b) % p for h in hs) for a, b in params] if hs else None

    sigs = {i: signature(t) for i, t in rows}
    expect = set()
    for band in range(4):
        buckets = {}
        for i, sig in sigs.items():
            if sig is None:
                continue
            key = tuple(sig[band * 4 : band * 4 + 4])
            buckets.setdefault(key, []).append(i)
        for members in buckets.values():
            for x in members:
                for y in members:
                    if x < y:
                        expect.add((x, y))
    assert got == expect


@SETTINGS
@given(
    docs=st.lists(
        st.lists(st.sampled_from("ab"), min_size=0, max_size=9),
        min_size=1,
        max_size=8,
    ),
    max_occ=st.sampled_from([1, 2]),
)
def test_span_extents_and_apply_match_python_model(spark, docs, max_occ):
    """The span-dedup family vs a plain position-set model: corpus-wide
    window counts → covered-position union → contiguous runs. Pins (a) the
    gaps-and-islands merge equals the union of window intervals, (b) the
    audit's accounting, and (c) apply keeps exactly the uncovered tokens in
    order — on a 2-letter alphabet where overlapping/adjacent/self-repeat
    collisions are dense."""
    from tmdb_spark_data_pipeline_spark.operators import dedup

    L = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    from collections import Counter

    wins: Counter = Counter()
    for toks in docs:
        for s in range(len(toks) - L + 1):
            wins[tuple(toks[s : s + L])] += 1
    expect = {}
    for i, toks in enumerate(docs):
        covered: set[int] = set()
        for s in range(len(toks) - L + 1):
            if wins[tuple(toks[s : s + L])] > max_occ:
                covered.update(range(s, s + L))
        spans: list[list[int]] = []
        prev = None
        for p in sorted(covered):
            if prev is None or p > prev + 1:
                spans.append([p, p])
            else:
                spans[-1][1] = p
            prev = p
        kept = [t for p, t in enumerate(toks) if p not in covered]
        expect[i] = (
            len(toks),
            len(spans),
            len(covered),
            max((b - a + 1 for a, b in spans), default=0),
            " ".join(kept),
        )

    ext = {
        r.doc_id: (r.n_tokens, r.n_dup_spans, r.dup_tokens, r.max_span_tokens)
        for r in dedup.duplicated_span_extents(
            df, "text", "doc_id", window_tokens=L, max_occurrences=max_occ
        ).collect()
    }
    app = {
        r.doc_id: (r.n_tokens, r.kept_tokens, r.cleaned_text)
        for r in dedup.remove_duplicated_spans(
            df, "text", "doc_id", window_tokens=L, max_occurrences=max_occ
        ).collect()
    }
    for i, (n, n_spans, n_cov, mx, cleaned) in expect.items():
        assert ext[i] == (n, n_spans, n_cov, mx)
        assert app[i] == (n, n - n_cov, cleaned)


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=25
    )
)
def test_local_clustering_matches_python_model(spark, edges):
    """Per-node triangle credit + local coefficient vs a plain adjacency-set
    model on random small graphs (self-loops/dupes canonicalized away, the
    operator's id-canonical contract)."""
    from tmdb_spark_data_pipeline_spark.operators import graph

    canon = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    if not canon:
        return
    df = spark.createDataFrame(sorted(canon), "u long, v long")
    got = {
        r.node: (r.degree, r.triangles, r.local_cc)
        for r in graph.local_clustering(df).collect()
    }
    adj: dict[int, set[int]] = {}
    for u, v in canon:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    expect = {}
    for node, nbrs in adj.items():
        d = len(nbrs)
        if d < 2:
            continue
        t = sum(
            1
            for a in nbrs
            for b in nbrs
            if a < b and b in adj.get(a, set())
        )
        expect[node] = (d, t, round(2 * t / (d * (d - 1)), 6))
    assert got == expect


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "ab"]),
            min_size=4,
            max_size=18,
        ),
        min_size=1,
        max_size=5,
    ),
    merges=st.integers(min_value=1, max_value=4),
)
@SETTINGS
def test_bpe_train_merges_matches_python_model(spark, docs, merges):
    """The distributed BPE loop vs a plain greedy left-to-right Python
    model on random small corpora: rule selection (count desc, left asc,
    right asc) and the non-overlapping merge pass must agree round for
    round. The tiny alphabet forces heavy ties and self-pair runs — the
    two places the islands-parity formulation could diverge from the
    textbook sequential scan."""
    from tmdb_spark_data_pipeline_spark.operators import text as T

    def model(corpus, n_merges):
        toks = [list(d) for d in corpus]
        rules = []
        for step in range(1, n_merges + 1):
            counts = {}
            for d in toks:
                for a, b in zip(d, d[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + 1
            if not counts:
                break
            (l, r), c = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            rules.append((step, l, r, l + " " + r, c))
            nxt = []
            for d in toks:
                out, i = [], 0
                while i < len(d):
                    if i + 1 < len(d) and d[i] == l and d[i + 1] == r:
                        out.append(l + " " + r)
                        i += 2
                    else:
                        out.append(d[i])
                        i += 1
                nxt.append(out)
            toks = nxt
        return rules

    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.step, r.left, r.right, r.merged, r.n_pairs)
        for r in T.bpe_train_merges(df, "text", "doc_id", merges=merges).collect()
    )
    assert got == model(docs, merges)


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=25
    ),
    seeds=st.lists(st.integers(0, 12), min_size=1, max_size=4),
    max_hops=st.integers(min_value=1, max_value=4),
)
def test_multi_source_bfs_matches_python_model(spark, edges, seeds, max_hops):
    """Frontier BFS vs a plain queue model on random small graphs:
    min-hop distances, the max_hops -> -1 bound, self-loops/dupes
    harmless, seeds outside the graph ignored (ids 10-12 never appear
    in the edge list)."""
    from tmdb_spark_data_pipeline_spark.operators import graph

    canon = {(u, v) for u, v in edges if u != v}
    if not canon:
        return
    adj = {}
    for u, v in canon:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    nodes = set(adj)
    dist = {n: 0 for n in set(seeds) & nodes}
    frontier = set(dist)
    for h in range(1, max_hops + 1):
        frontier = {
            m for n in frontier for m in adj[n] if m not in dist
        }
        for m in frontier:
            dist[m] = h
    expect = {n: dist.get(n, -1) for n in nodes}

    e = spark.createDataFrame(sorted(canon), "u long, v long")
    sd = spark.createDataFrame([(s,) for s in sorted(set(seeds))], "id long")
    got = {
        r.id: r.hops
        for r in graph.multi_source_bfs(e, sd, max_hops=max_hops).collect()
    }
    assert got == expect
