"""Dedup-tier tests (SURVEY.md §2.11 item 13): exact, n-gram Jaccard,
MinHash+LSH, SimHash — on tiny crafted corpora with known answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tmdb_spark_data_pipeline_spark.operators import dedup

DOC_A = "the quick brown fox jumps over the lazy dog again and again"
DOC_A2 = "the quick brown fox jumps over the lazy dog again and again"  # exact dup of A
DOC_A3 = "a quick brown fox jumps over the lazy dog again and again"  # near-dup of A
DOC_B = "completely different text about spark sql aggregation pipelines here"


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(1, DOC_A), (2, DOC_A2), (3, DOC_A3), (4, DOC_B)], ["doc_id", "text"]
    )


def test_dedup_exact_keeps_min_id(corpus):
    out = dedup.dedup_exact(corpus, "text", "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [1, 3, 4]  # 2 deduped into 1


def test_word_shingles_distinct_and_empty_guard(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], ["t"])
    out = df.select(dedup.word_shingles("t", 3).alias("s")).collect()
    assert out[0].s == ["a b c", "b c d"]
    assert out[1].s == []  # shorter than n → empty, not garbage


def test_ngram_jaccard_finds_exact_and_near_pairs(corpus):
    out = dedup.ngram_jaccard_pairs(corpus, "text", "doc_id", n=3, min_jaccard=0.5)
    pairs = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert pairs[(1, 2)] == 1.0  # identical docs
    assert 0.5 <= pairs[(1, 3)] < 1.0  # near-dup
    assert (1, 4) not in pairs and (2, 4) not in pairs and (3, 4) not in pairs


def test_minhash_lsh_agrees_with_exact_jaccard(corpus):
    exact = dedup.ngram_jaccard_pairs(corpus, "text", "doc_id", n=3, min_jaccard=0.5)
    lsh = dedup.minhash_lsh_pairs(corpus, "text", "doc_id", n=3, num_hashes=128, bands=32, min_jaccard=0.5)
    e = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in exact.collect()}
    l = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in lsh.collect()}
    assert e == l  # verified candidates carry the exact jaccard


def test_minhash_affine_signatures_equal_agg_form(spark, corpus):
    from pyspark.sql import functions as F2

    base = corpus.select(F2.col("doc_id").alias("__id"), F2.col("text").alias("__t"))
    exploded = base.select("__id", F2.explode(dedup.word_shingles("__t", 3)).alias("__s"))
    agg_form = dedup.minhash_signatures_agg(exploded, num_hashes=16)
    hashed = base.select("__id", dedup.minhash_hash_array(dedup.word_shingles("__t", 3)).alias("__h"))
    arr_form = hashed.select("__id", *dedup.minhash_signature_affine("__h", 16))
    assert agg_form.exceptAll(arr_form).count() == 0
    assert arr_form.exceptAll(agg_form).count() == 0


def test_minhash_bands_must_divide(corpus):
    with pytest.raises(ValueError):
        dedup.minhash_lsh_pairs(corpus, "text", "doc_id", num_hashes=100, bands=32)


def test_simhash_fingerprints_match_expression_form(corpus):
    # exploded-aggregate form (scale path) must equal the simhash64 expression
    agg_form = {r.doc_id: r.simhash for r in dedup.simhash_fingerprints(corpus, "text", "doc_id").collect()}
    expr_form = {
        r.doc_id: r.sh
        for r in corpus.select("doc_id", dedup.simhash64("text").alias("sh")).collect()
    }
    assert agg_form == expr_form
    assert agg_form[1] == agg_form[2]  # identical docs → identical fingerprints


def test_simhash_neardup_pairs_finds_identical_docs(corpus):
    out = dedup.simhash_neardup_pairs(corpus, "text", "doc_id", max_hamming=3, bands=4)
    pairs = {(r.id_a, r.id_b): r.hamming for r in out.collect()}
    assert pairs[(1, 2)] == 0
    assert all(not (a == 4 or b == 4) for (a, b) in pairs)  # DOC_B is far from all


def test_simhash_neardup_pigeonhole_guard(corpus):
    with pytest.raises(ValueError):
        dedup.simhash_neardup_pairs(corpus, "text", "doc_id", max_hamming=4, bands=4)


_EDGE_INPUTS = {
    "no_rows": [],
    "one_row": [(1, DOC_A)],
    "all_null_text": [(1, None), (2, None)],
}
_EDGE_OPS = {
    "simhash_fingerprints": dedup.simhash_fingerprints,
    "simhash_neardup_pairs": dedup.simhash_neardup_pairs,
    "minhash_lsh_pairs": dedup.minhash_lsh_pairs,
    "ngram_jaccard_pairs": dedup.ngram_jaccard_pairs,
}


@pytest.mark.parametrize("op", list(_EDGE_OPS))
@pytest.mark.parametrize("rows", list(_EDGE_INPUTS))
def test_edge_size_inputs_yield_no_pairs(spark, rows, op):
    """0 rows, 1 row and all-NULL text run without raising: no pairs, and a
    fingerprint only for a non-NULL text."""
    df = spark.createDataFrame(_EDGE_INPUTS[rows], "doc_id long, text string")
    out = _EDGE_OPS[op](df, "text", "doc_id").collect()
    if op == "simhash_fingerprints":
        assert [r.doc_id for r in out] == ([1] if rows == "one_row" else [])
    else:
        assert out == []


def test_content_hash_matches_sha256(spark):
    import hashlib

    df = spark.createDataFrame([("hello world",)], ["t"])
    got = df.select(dedup.content_hash("t").alias("h")).first().h
    assert got == hashlib.sha256(b"hello world").hexdigest()


def test_spread_repartitions_without_a_partition_probe(spark, jobs_run):
    target = spark.sparkContext.defaultParallelism
    few = spark.createDataFrame([(i,) for i in range(100)], ["x"]).coalesce(1)
    assert dedup._spread(few).rdd.getNumPartitions() == target

    # the decision is plan-only: an input that already has an exchange is
    # repartitioned too, and deciding so runs no Spark job (a partition probe
    # would run the exchange's stage under AQE)
    wide = spark.createDataFrame([(i,) for i in range(100)], ["x"]).repartition(target)
    spread, jobs = jobs_run(lambda: dedup._spread(wide, by="x"))
    assert jobs == 0
    plan = spread._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith(f"RepartitionByExpression [x#") and f"], {target}" in plan


def test_connected_components_chain_and_island(spark):
    # chain 1-2-3-4-5 (diameter 4, exercises pointer jumping) + island 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["id_a", "id_b"]
    )
    out = {r.id: r.comp for r in dedup.connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_connected_components_merging_clusters(spark):
    # two clusters merged by a bridge pair; min id wins across the merge
    pairs = spark.createDataFrame(
        [(7, 8), (2, 3), (3, 8)], ["id_a", "id_b"]
    )
    out = {r.id: r.comp for r in dedup.connected_components(pairs).collect()}
    assert set(out.values()) == {2}


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(pairs).count() == 0


def test_boilerplate_shingle_stats(spark):
    docs = spark.createDataFrame(
        [
            (1, "common header text unique one"),
            (2, "common header text unique two"),
            (3, "common header text unique three"),
            (4, "totally different words here now"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in dedup.boilerplate_shingle_stats(
        docs, "text", "doc_id", min_docs=3).collect()}
    # 'common header text' AND 'header text unique' each appear in 3 docs
    assert out[1].n_boilerplate == 2 and out[1].n_shingles == 3
    assert out[4].n_boilerplate == 0


def test_contamination_overlap(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),   # shares 4 shingles w/ bench
            (2, "completely unrelated training text here"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps low")], ["doc_id", "text"]
    )
    out = dedup.contamination_overlap(train, bench, "text", "doc_id", min_shared=2)
    rows = out.collect()
    assert len(rows) == 1
    assert (rows[0].train_id, rows[0].bench_id, rows[0].n_shared) == (1, 100, 3)


def test_word_shingles_nondistinct_keeps_repeats(spark):
    df = spark.createDataFrame([("a b a b a b",)], ["t"])
    d = df.select(dedup.word_shingles("t", 3).alias("s")).first().s
    nd = df.select(dedup.word_shingles("t", 3, distinct=False).alias("s")).first().s
    assert len(nd) == 4 and len(d) == 2


def test_incremental_minhash_new_vs_old_only(corpus):
    # corpus fixture has exact/near dup pairs; split so one half of a known
    # near-dup pair is "new" and verify the pair is found across the split,
    # while old-vs-old dups are NOT reported
    from tmdb_spark_data_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
        ngram_jaccard_pairs,
    )
    import pyspark.sql.functions as F

    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(corpus, "text", "doc_id", min_jaccard=0.5).collect()
    }
    assert exact, "fixture must contain near-dup pairs"
    new_ids = {min(a, b) for a, b in exact}
    new = corpus.filter(F.col("doc_id").isin(*new_ids))
    old = corpus.filter(~F.col("doc_id").isin(*new_ids))
    got = {
        (r.new_id, r.old_id): r.jaccard
        for r in minhash_lsh_pairs_incremental(old, new, "text", "doc_id", min_jaccard=0.5).collect()
    }
    expected = {
        (a if a in new_ids else b, b if a in new_ids else a): j
        for (a, b), j in exact.items()
        if (a in new_ids) != (b in new_ids)
    }
    assert got == expected


def test_edit_distance_pairs_known_distances(spark):
    from pyspark.sql import functions as F

    # Fixed-format names: "X#" + 6 digits. Blocking = the three 2-digit
    # chunks of the digit span (positions 3/5/7).
    rows = [
        (1, "X#000111"),  # vs 2: 1 substitution (last digit)
        (2, "X#000112"),
        (3, "X#990112"),  # vs 2: 2 substitutions, BOTH inside the leading
                          # chunk — lost by any single-suffix block
        (4, "X#550112"),  # vs 2 and 3: 2 substitutions (leading chunk)
        (5, "X#123456"),  # ≥3 edits from everything: never reported
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    blocks = [F.substring("name", 3, 2), F.substring("name", 5, 2), F.substring("name", 7, 2)]
    got = {
        (r.id_a, r.id_b): r.dist
        for r in dedup.edit_distance_pairs(df, "name", "id", blocks, max_dist=2).collect()
    }
    # (1,3)/(1,4) are 3 substitutions apart — candidates via the shared
    # trailing chunks, but the levenshtein verify drops them
    assert got == {(1, 2): 1, (2, 3): 2, (2, 4): 2, (3, 4): 2}


def test_edit_distance_pairs_pigeonhole_recall(spark):
    """Every pair within 2 substitution edits must be found (pigeonhole over
    3 chunks); pairs needing ≥3 edits must be absent."""
    from itertools import combinations

    from pyspark.sql import functions as F

    def lev(a: str, b: str) -> int:
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    def hamming(a: str, b: str) -> int:
        return sum(x != y for x, y in zip(a, b))

    names = [
        (i, f"X#{d:06d}")
        for i, d in enumerate([111, 112, 113, 211, 990112, 550112, 123456, 101, 110111])
    ]
    df = spark.createDataFrame(names, ["id", "name"])
    blocks = [F.substring("name", 3, 2), F.substring("name", 5, 2), F.substring("name", 7, 2)]
    got = {
        (r.id_a, r.id_b): r.dist
        for r in dedup.edit_distance_pairs(df, "name", "id", blocks, max_dist=2).collect()
    }
    for (ia, na), (ib, nb) in combinations(names, 2):
        a, b = (ia, ib) if ia < ib else (ib, ia)
        if hamming(na, nb) <= 2:
            assert (a, b) in got, f"substitution pair {na} {nb} lost by blocking"
            assert got[(a, b)] == lev(na, nb)
        if lev(na, nb) > 2:
            assert (a, b) not in got


def test_connected_components_path_and_star(spark):
    """Pathological shapes for the min-label + pointer-jump loop: a long
    PATH (worst-case diameter — pure one-hop propagation needs ~n rounds,
    pointer jumping must finish in O(log n)) and a giant STAR (one hub,
    max-degree skew — the shape the docstring's large-star/small-star note
    is about). Labels must be the component minimum for every node."""
    # path 0-1-2-...-40 plus a disjoint star centered at 100
    path_edges = [(i, i + 1) for i in range(40)]
    star_edges = [(100, 100 + i) for i in range(1, 30)]
    pairs = spark.createDataFrame(path_edges + star_edges, ["id_a", "id_b"])
    comp = {r.id: r.comp for r in dedup.connected_components(pairs, max_iter=12).collect()}
    assert all(comp[i] == 0 for i in range(41))
    assert all(comp[100 + i] == 100 for i in range(30))
    # two components, no cross-contamination
    assert len(set(comp.values())) == 2


def test_shingle_containment_asymmetric(spark):
    """A short doc fully quoted inside a long doc: containment(short in
    long) = 1.0 while Jaccard is low; the reverse direction must NOT
    qualify. Unrelated docs never pair."""
    quoted = "alpha beta gamma delta epsilon"
    long_doc = quoted + " plus lots of extra framing words around the quote body here"
    docs = spark.createDataFrame(
        [(1, quoted), (2, long_doc), (3, "totally different content altogether now")],
        ["doc_id", "text"],
    )
    out = {
        (r.contained_id, r.container_id): r.containment
        for r in dedup.shingle_containment_pairs(
            docs, "text", "doc_id", n=3, min_containment=0.9
        ).collect()
    }
    assert out[(1, 2)] == 1.0
    assert (2, 1) not in out  # the long doc is NOT contained in the quote
    assert all(3 not in pair for pair in out)
    # sanity: the same pair is far below a 0.9 JACCARD (subset, not twin)
    jac = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, min_jaccard=0.9
        ).collect()
    }
    assert (1, 2) not in jac


def test_duplicate_chunk_stats_drops_shared_spans(spark):
    # ten-token span shared verbatim by docs 1 and 2; doc 3 fully unique.
    span = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [
            (1, span + " alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, span + " lambda mu nu xi omicron pi rho sigma tau upsilon"),
            (3, "eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in dedup.duplicate_chunk_stats(
            df, "text", "doc_id", chunk_tokens=10, max_occurrences=1
        ).collect()
    }
    # docs 1/2: 2 chunks each, the shared first chunk dropped, the unique tail kept
    for d in (1, 2):
        assert out[d].total_chunks == 2 and out[d].kept_chunks == 1
        assert out[d].total_tokens == 20 and out[d].kept_tokens == 10
        assert out[d].kept_ratio == 0.5
    # doc 3: single unique chunk survives whole
    assert out[3].kept_chunks == 1 and out[3].kept_ratio == 1.0


def test_duplicate_chunk_stats_occurrence_threshold(spark):
    # max_occurrences=2 tolerates a doubled span, still drops a tripled one
    span = "a b c d e f g h i j"
    df = spark.createDataFrame(
        [(i, span) for i in (1, 2)] + [(3, "k l m n o p q r s t")],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r.kept_chunks
        for r in dedup.duplicate_chunk_stats(
            df, "text", "doc_id", chunk_tokens=10, max_occurrences=2
        ).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1}  # doubled span within tolerance


def test_duplicated_span_extents_merges_overlapping_windows(spark):
    # 12-token prefix shared verbatim by docs 1 and 2 -> windows at starts
    # 0,1,2 are duplicated and must merge into ONE maximal [0,11] span.
    prefix = "one two three four five six seven eight nine ten eleven twelve"
    df = spark.createDataFrame(
        [
            (1, prefix + " alpha beta gamma delta epsilon zeta eta theta"),
            (2, prefix + " lambda mu nu xi omicron pi rho sigma"),
            (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12"),
            (4, "short doc only"),  # n < window -> zero spans, ratio 0.0
            (5, ""),  # empty -> n_tokens 0, ratio NULL
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in dedup.duplicated_span_extents(
            df, "text", "doc_id", window_tokens=10
        ).collect()
    }
    for d in (1, 2):
        assert out[d].n_tokens == 20
        assert out[d].n_dup_spans == 1
        assert out[d].dup_tokens == 12  # token-resolution extent, not chunk grid
        assert out[d].max_span_tokens == 12
        assert out[d].dup_ratio == 0.6
    assert out[3].n_dup_spans == 0 and out[3].dup_ratio == 0.0
    assert out[4].n_dup_spans == 0 and out[4].dup_ratio == 0.0
    assert out[5].n_tokens == 0 and out[5].dup_ratio is None


def test_duplicated_span_extents_disjoint_spans_and_threshold(spark):
    a = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    b = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    df = spark.createDataFrame(
        [
            (1, a + " u1 u2 u3 u4 u5 " + b),  # two disjoint duplicated regions
            (2, a),
            (3, b),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in dedup.duplicated_span_extents(
            df, "text", "doc_id", window_tokens=10
        ).collect()
    }
    assert out[1].n_tokens == 25
    assert out[1].n_dup_spans == 2  # the unique gap is NOT bridged
    assert out[1].dup_tokens == 20 and out[1].max_span_tokens == 10
    assert out[1].dup_ratio == 0.8
    assert out[2].dup_ratio == 1.0 and out[3].dup_ratio == 1.0
    # max_occurrences=2 tolerates the doubled window
    tol = {
        r.doc_id: r.n_dup_spans
        for r in dedup.duplicated_span_extents(
            df, "text", "doc_id", window_tokens=10, max_occurrences=2
        ).collect()
    }
    assert tol == {1: 0, 2: 0, 3: 0}


def test_remove_duplicated_spans_matches_extents_accounting(spark):
    a = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"
    b = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    df = spark.createDataFrame(
        [(1, a + " u1 u2 u3 u4 u5 " + b), (2, a), (3, b), (4, "tiny doc"), (5, "")],
        ["doc_id", "text"],
    )
    applied = {
        r.doc_id: r
        for r in dedup.remove_duplicated_spans(
            df, "text", "doc_id", window_tokens=10
        ).collect()
    }
    # the kept middle survives verbatim; duplicated flanks are gone
    assert applied[1].cleaned_text == "u1 u2 u3 u4 u5"
    assert applied[2].cleaned_text == "" and applied[2].kept_tokens == 0
    assert applied[4].cleaned_text == "tiny doc"
    assert applied[5].kept_tokens == 0 and applied[5].n_tokens == 0
    # apply accounting == audit accounting: kept = n_tokens - dup_tokens
    extents = {
        r.doc_id: r
        for r in dedup.duplicated_span_extents(
            df, "text", "doc_id", window_tokens=10
        ).collect()
    }
    for d in applied:
        assert applied[d].kept_tokens == extents[d].n_tokens - extents[d].dup_tokens
    # idempotence of the drop-all policy: re-running on cleaned text is a no-op
    cleaned = dedup.remove_duplicated_spans(
        spark.createDataFrame(
            [(d, applied[d].cleaned_text) for d in applied], ["doc_id", "text"]
        ),
        "text",
        "doc_id",
        window_tokens=10,
    ).collect()
    assert all(r.kept_tokens == r.n_tokens for r in cleaned)


def test_duplicated_span_extents_self_repeat_adjacent_merge(spark):
    # a doc that repeats its own 10-token phrase back-to-back: spans [0,9]
    # and [10,19] are adjacent -> one contiguous maximal extent
    x = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"
    df = spark.createDataFrame([(1, x + " " + x)], ["doc_id", "text"])
    r = dedup.duplicated_span_extents(
        df, "text", "doc_id", window_tokens=10
    ).collect()[0]
    assert r.n_dup_spans == 1
    assert r.dup_tokens == 20 and r.max_span_tokens == 20
    assert r.dup_ratio == 1.0


def test_artifact_pairs_match_direct_lsh(corpus, tmp_path):
    path = str(tmp_path / "mh_artifact")
    dedup.write_minhash_artifact(
        corpus.filter(F.col("doc_id") != 3), "text", "doc_id", path
    )
    dedup.write_minhash_artifact(
        corpus.filter(F.col("doc_id") == 3), "text", "doc_id", path, mode="append"
    )
    direct = dedup.minhash_lsh_pairs(corpus, "text", "doc_id", min_jaccard=0.5)
    via = dedup.minhash_pairs_from_artifact(corpus, "text", "doc_id", path, min_jaccard=0.5)
    d = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in direct.collect()}
    v = {(r.id_a, r.id_b): round(r.jaccard, 9) for r in via.collect()}
    assert d == v and (1, 2) in v
    corpus.sparkSession.catalog.clearCache()  # direct route's caches are caller-owned


def test_artifact_pairs_leave_no_cached_blocks(corpus, tmp_path):
    """VERDICT_r05 'What's wrong' #1: the artifact route must live up to its
    docstring — the parquet artifact REPLACES the cache, so evaluating the
    pairs must leave zero persisted blocks behind (no CacheManager entries,
    no persistent RDDs). The direct ``minhash_lsh_pairs`` route deliberately
    persists (caller-owned lifetime via ``session.cache_scope``); this
    variant must not."""
    spark = corpus.sparkSession
    spark.catalog.clearCache()

    def persistent_ids() -> set[int]:
        # other tests in the shared session may hold localCheckpoint blocks
        # clearCache can't drop — assert NO NEW entries, not global emptiness
        m = spark.sparkContext._jsc.getPersistentRDDs()
        return {k for k in m.keySet().toArray()}

    before = persistent_ids()
    path = str(tmp_path / "mh_artifact_leak")
    dedup.write_minhash_artifact(corpus, "text", "doc_id", path)
    out = dedup.minhash_pairs_from_artifact(corpus, "text", "doc_id", path, min_jaccard=0.5)
    assert out.count() >= 1  # materialize fully
    assert persistent_ids() - before == set()


def test_max_df_cap_bounds_hot_shingle_buckets(spark):
    """VERDICT_r06 #2: on a stop-shingle-heavy corpus the opt-in ``max_df``
    cap must (a) bound every self-join bucket at max_df rows, (b) still
    find the genuine near-dup pair (near-dups share RARE shingles), and
    (c) leave the default-off exact path byte-identical to before."""
    # 40 docs all opening with the same boilerplate phrase (one ubiquitous
    # trigram bucket of size 40) + unique tails; docs 100/101 are near-dups
    boiler = "terms of service apply here"
    rows = [(i, f"{boiler} unique tail {i} alpha beta {i}") for i in range(40)]
    rows += [
        (100, "the quick brown fox jumps over the lazy dog tonight"),
        (101, "the quick brown fox jumps over the lazy dog today"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # (a) bucket bound: after the cap no shingle has df > max_df
    sh = dedup._hash_shingles(
        df.select(F.col("doc_id").alias("__id"))
        .join(df.select(F.col("doc_id").alias("__id"), F.col("text").alias("__t")), "__id")
        .select("__id", F.explode(dedup.word_shingles("__t", 3)).alias("__s"))
    )
    uncapped_max = sh.groupBy("__s").count().agg(F.max("count")).collect()[0][0]
    assert uncapped_max >= 40  # the boilerplate trigrams really are hot
    capped = dedup._max_df_filter(sh, 5)
    capped_max = capped.groupBy("__s").count().agg(F.max("count")).collect()[0][0]
    assert capped_max <= 5

    # (b) the real near-dup pair survives the cap
    with_cap = dedup.ngram_jaccard_pairs(
        df, "text", "doc_id", min_jaccard=0.5, max_df=5
    )
    got = {(r.id_a, r.id_b) for r in with_cap.collect()}
    assert (100, 101) in got
    # boilerplate-only co-occurrence must NOT fabricate pairs
    assert all(a >= 100 for a, _ in got)

    # (c) default-off path unchanged: exact Jaccard incl. the boilerplate
    no_cap = dedup.ngram_jaccard_pairs(df, "text", "doc_id", min_jaccard=0.5)
    exact = {(r.id_a, r.id_b): r.jaccard for r in no_cap.collect()}
    assert (100, 101) in exact

    # containment twin honors the same cap
    cont = dedup.shingle_containment_pairs(
        df, "text", "doc_id", min_containment=0.8, max_df=5
    )
    cont_pairs = {(r.contained_id, r.container_id) for r in cont.collect()}
    assert all(a >= 100 or b >= 100 for a, b in cont_pairs) or cont_pairs == set()


def test_minhash_band_pairs_portable_collisions(spark):
    """The portable banding instrument (minhash_blocking_quality's
    measurement arm): exact duplicates share every band (always a
    candidate), disjoint-vocabulary docs share no minhash (never a
    candidate), and the pair list is distinct with id_a < id_b."""
    same = "alpha beta gamma delta epsilon zeta eta theta"
    other = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(1, same), (2, same), (3, other)], ["doc_id", "text"]
    )
    pairs = dedup.minhash_band_pairs_portable(
        df, "text", "doc_id", n=3, num_hashes=32, bands=8
    ).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]


def test_minhash_band_pairs_portable_matches_duckdb_hash(spark):
    """The md5-60 base hash mod p is bit-identical to the DuckDB
    expression the oracle interpolates (the portable-hash discipline) —
    pin one shingle's value cross-engine."""
    import duckdb

    from pyspark.sql import functions as F

    from tmdb_spark_data_pipeline_spark.operators.dedup import (
        _MERSENNE31,
        _token_hash,
    )

    s = "alpha beta gamma"
    got = (
        spark.range(1)
        .select(F.pmod(_token_hash(F.lit(s), "md5_60"), F.lit(_MERSENNE31)))
        .collect()[0][0]
    )
    want = duckdb.sql(
        f"SELECT CAST('0x' || substr(md5('{s}'), 1, 15) AS BIGINT) % {_MERSENNE31}"
    ).fetchone()[0]
    assert got == want


def test_neardup_cluster_delta_all_four_classes(spark):
    """The corpus queries can't populate 'merged' (generated dup groups are
    cliques), so the branch is pinned here: a NEW bridge doc overlapping two
    previously-separate OLD clusters must classify that cluster 'merged',
    alongside crafted appeared / grown / unchanged clusters."""
    from tmdb_spark_data_pipeline_spark.operators import dedup

    a = " ".join(f"a{i}" for i in range(1, 13))
    b = " ".join(f"b{i}" for i in range(1, 13))
    bridge = " ".join([f"a{i}" for i in range(1, 10)] + [f"b{i}" for i in range(1, 10)])
    g = " ".join(f"g{i}" for i in range(1, 13))
    u = " ".join(f"u{i}" for i in range(1, 13))
    n = " ".join(f"n{i}" for i in range(1, 13))
    rows = [
        (1, a), (2, a), (3, b), (4, b), (17, bridge),  # merged (17 is new)
        (5, g), (6, g), (37, g),                       # grown
        (8, u), (9, u),                                # unchanged
        (7, n), (27, n),                               # appeared (both new)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.change_kind: (r.n_clusters, r.n_docs)
        for r in dedup.neardup_cluster_delta(
            df, "text", "doc_id", is_new=lambda c: c % 10 == 7, min_jaccard=0.3
        ).collect()
    }
    assert out == {
        "merged": (1, 5),
        "grown": (1, 3),
        "unchanged": (1, 2),
        "appeared": (1, 2),
    }


def test_cross_doc_substring_spans_exact_extents(spark):
    """Crafted corpus for the ExactSubstr pass: a 20-token run shared by
    docs 1 and 2 at DIFFERENT offsets must come back as exactly one
    20-token span in each (token-precise extents, not window-quantized);
    a 10-token shared run is below min_len=15 and must not be reported;
    a within-doc self-repeat is not cross-doc and must not be reported."""
    shared = " ".join(f"c{i}" for i in range(20))
    short = " ".join(f"s{i}" for i in range(10))
    selfrep = " ".join(f"r{i}" for i in range(16))

    def filler(tag, n):
        return " ".join(f"{tag}{i}" for i in range(n))

    rows = [
        (1, f"{filler('a', 7)} {shared} {filler('b', 5)}"),
        (2, f"{filler('d', 3)} {shared} {filler('e', 9)}"),
        (3, f"{filler('f', 6)} {short} {filler('g', 6)} {short}"),
        (4, f"{short} {filler('h', 8)}"),
        (5, f"{selfrep} {filler('j', 4)} {selfrep}"),
        (6, filler("k", 30)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.cross_doc_substring_spans(
        df, "text", "doc_id", k=5, window=4, context=30, min_len=15
    ).collect()}
    assert len(out) == 6
    assert (out[1].n_dup_spans, out[1].dup_tokens, out[1].max_span_tokens) == (1, 20, 20)
    assert (out[2].n_dup_spans, out[2].dup_tokens, out[2].max_span_tokens) == (1, 20, 20)
    assert out[1].n_tokens == 32 and out[1].dup_ratio == round(20 / 32, 6)
    for d in (3, 4, 5, 6):
        assert out[d].n_dup_spans == 0 and out[d].dup_tokens == 0, d
        assert out[d].dup_ratio == 0.0


def test_cross_doc_substring_spans_canonical_partner_coverage(spark):
    """Three-copy case: B and C share a 24-token run; A shares only its
    first 8 tokens. Every copy must be flagged, B/C extents must reach the
    full 24 (context-order neighbors pair B with C directly), and A's
    extent is its true maximal 8-token overlap — below min_len, so A
    reports nothing while B and C report the full run."""
    run = " ".join(f"c{i}" for i in range(24))
    prefix = " ".join(f"c{i}" for i in range(8))

    def filler(tag, n):
        return " ".join(f"{tag}{i}" for i in range(n))

    rows = [
        (10, f"{filler('a', 6)} {prefix} {filler('b', 10)}"),
        (11, f"{filler('d', 4)} {run} {filler('e', 4)}"),
        (12, f"{run} {filler('f', 8)}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.cross_doc_substring_spans(
        df, "text", "doc_id", k=5, window=4, context=30, min_len=15
    ).collect()}
    assert out[10].n_dup_spans == 0
    assert (out[11].n_dup_spans, out[11].dup_tokens) == (1, 24)
    assert (out[12].n_dup_spans, out[12].dup_tokens) == (1, 24)


def test_cross_doc_substring_spans_param_validation(spark):
    import pytest

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dedup.cross_doc_substring_spans(df, "text", "doc_id", k=1)
    with pytest.raises(ValueError):
        dedup.cross_doc_substring_spans(df, "text", "doc_id", min_len=5)


def test_cross_doc_substring_apply_surviving_stream(spark):
    """The apply twin must drop exactly the audited extents: doc 1/2 lose
    the shared 20-token run (drop-all — BOTH copies go), untouched docs
    keep their full lowercased stream verbatim."""
    shared = " ".join(f"c{i}" for i in range(20))

    def filler(tag, n):
        return " ".join(f"{tag}{i}" for i in range(n))

    keep1, keep2 = filler("a", 7), filler("b", 5)
    rows = [
        (1, f"{keep1} {shared} {keep2}"),
        (2, f"{filler('d', 3)} {shared} {filler('e', 9)}"),
        (3, "Mixed CASE text stays but LOWERCASED here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.cross_doc_substring_apply(
        df, "text", "doc_id", k=5, window=4, context=30, min_len=15
    ).collect()}
    assert (out[1].n_tokens, out[1].kept_tokens) == (32, 12)
    assert out[1].cleaned_text == f"{keep1} {keep2}"
    assert out[2].kept_tokens == 12
    assert out[3].kept_tokens == out[3].n_tokens == 7
    assert out[3].cleaned_text == "mixed case text stays but lowercased here"


def test_cross_doc_substring_keep_one_canonical_copy_survives(spark):
    """Keep-one policy: the globally FIRST copy (min (id, start)) of each
    distinct extent content survives untouched, every other copy is
    scrubbed — so unlike drop-all, the shared run's content never vanishes
    from the corpus. Three-copy case: docs 1, 2, 7 share a 20-token run;
    doc 1 (lowest id) keeps it, docs 2 and 7 lose it. kept_copies counts
    the surviving canonical extents per doc."""
    shared = " ".join(f"c{i}" for i in range(20))

    def filler(tag, n):
        return " ".join(f"{tag}{i}" for i in range(n))

    keep1, keep2 = filler("a", 7), filler("b", 5)
    rows = [
        (1, f"{keep1} {shared} {keep2}"),
        (2, f"{filler('d', 3)} {shared} {filler('e', 9)}"),
        (7, f"{shared} {filler('f', 6)}"),
        (3, "untouched plain document with no duplicated material at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.cross_doc_substring_keep_one(
        df, "text", "doc_id", k=5, window=4, context=30, min_len=15
    ).collect()}
    # canonical copy (doc 1) survives verbatim
    assert (out[1].n_tokens, out[1].kept_tokens, out[1].kept_copies) == (32, 32, 1)
    assert out[1].cleaned_text == f"{keep1} {shared} {keep2}"
    # non-canonical copies are scrubbed
    assert (out[2].kept_tokens, out[2].kept_copies) == (12, 0)
    assert out[2].cleaned_text == f"{filler('d', 3)} {filler('e', 9)}"
    assert (out[7].kept_tokens, out[7].kept_copies) == (6, 0)
    # untouched doc keeps its full stream
    assert out[3].kept_tokens == out[3].n_tokens and out[3].kept_copies == 0
    # vs drop-all: keep-one retains strictly more tokens, and the shared
    # content remains present in exactly one document
    drop = {r.doc_id: r for r in dedup.cross_doc_substring_apply(
        df, "text", "doc_id", k=5, window=4, context=30, min_len=15
    ).collect()}
    assert drop[1].kept_tokens == 12  # drop-all removes even the canonical
    assert sum(shared in out[d].cleaned_text for d in (1, 2, 7)) == 1


def test_cross_doc_substring_keep_one_within_doc_copies(spark):
    """Two copies of the same run INSIDE the canonical document: the
    min-(id, start) ordering keeps only the first occurrence — the second
    is scrubbed like any other copy (the content group is global, not
    per-document)."""
    shared = " ".join(f"c{i}" for i in range(18))

    def filler(tag, n):
        return " ".join(f"{tag}{i}" for i in range(n))

    rows = [
        (1, f"{shared} {filler('a', 6)} {shared}"),
        (2, f"{filler('d', 4)} {shared} {filler('e', 4)}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.cross_doc_substring_keep_one(
        df, "text", "doc_id", k=5, window=4, context=30, min_len=15
    ).collect()}
    assert (out[1].n_tokens, out[1].kept_tokens, out[1].kept_copies) == (42, 24, 1)
    assert out[1].cleaned_text == f"{shared} {filler('a', 6)}"
    assert (out[2].kept_tokens, out[2].kept_copies) == (8, 0)


def test_connected_components_long_chain_and_star_merge(spark):
    """Two regressions pinned: (1) CC must survive a LONG-DIAMETER graph
    (a 60-node path needs ~15+ pointer-jump rounds; the round self-join
    used to square Catalyst's inherited size estimate per round — BigInt
    digits doubled and planning OOM'd a default-sized driver by ~round 20);
    (2) the incremental star-merge fold (CC(star(labels) ∪ delta) ==
    CC(full)) that stream_cc_maintenance relies on."""
    path_edges = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(path_edges, "id_a long, id_b long")
    comp = {r.id: r.comp for r in dedup.connected_components(df).collect()}
    assert set(comp.values()) == {0} and len(comp) == 61
    # star-merge: process the path in 3 interleaved deltas
    import itertools
    full = {r.id: r.comp for r in dedup.connected_components(df).collect()}
    labels = None
    for b in range(3):
        delta = [(u, v) for (u, v) in path_edges if (u + v) % 3 == b]
        if labels is not None:
            delta = delta + [(i, c) for i, c in labels.items() if i != c]
        ddf = spark.createDataFrame(delta, "id_a long, id_b long")
        labels = {r.id: r.comp for r in dedup.connected_components(ddf).collect()}
    assert labels == full


def test_incremental_minhash_cluster_fold_equals_batch(spark, tmp_path):
    """The stream_minhash_cluster_maintenance epoch body, driver-free: per
    batch (1) append signatures to the band artifact, (2) incremental
    candidates = new-batch buckets x whole artifact (new-x-old + new-x-new
    only — old-x-old pairs were emitted in their own epochs), (3) exact
    verify, (4) star-fold into CC state. Final labels must equal batch CC
    over the full exact-Jaccard pair set, and the per-epoch candidate
    restriction must never lose a pair (the later-endpoint-epoch
    completeness argument)."""
    import itertools

    base_text = " ".join(f"w{i}" for i in range(30))
    variant = " ".join(f"w{i}" for i in range(29)) + " zz"
    other = " ".join(f"q{i}" for i in range(30))
    other_v = " ".join(f"q{i}" for i in range(29)) + " yy"
    rows = [
        (0, base_text), (3, base_text), (6, variant),     # cluster {0,3,6}
        (1, other), (4, other_v),                          # cluster {1,4}
        (2, " ".join(f"u{i}" for i in range(30))),         # singletons
        (5, " ".join(f"v{i}" for i in range(30))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    full_pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, min_jaccard=0.5, persist_shingles=False
    )
    want = {
        r.id: r.comp for r in dedup.connected_components(full_pairs).collect()
    }

    art = str(tmp_path / "mh_art")
    labels = None
    for b in range(3):
        bdf = docs.filter(F.col("doc_id") % 3 == b)
        dedup.write_minhash_artifact(
            bdf, "text", "doc_id", art, mode="overwrite" if b == 0 else "append"
        )
        buckets = spark.read.parquet(art)
        new_ids = bdf.select(F.col("doc_id").alias("__id"))
        nb = buckets.join(F.broadcast(new_ids), "__id", "left_semi")
        cand = (
            nb.alias("a")
            .join(
                buckets.alias("b"),
                (F.col("a.__band") == F.col("b.__band"))
                & (F.col("a.__sig") == F.col("b.__sig"))
                & (F.col("a.__id") != F.col("b.__id")),
            )
            .select(
                F.least("a.__id", "b.__id").alias("id_a"),
                F.greatest("a.__id", "b.__id").alias("id_b"),
            )
            .distinct()
        )
        cand_docs = (
            cand.select(F.col("id_a").alias("__id"))
            .union(cand.select(F.col("id_b").alias("__id")))
            .distinct()
        )
        sh = (
            docs.select(F.col("doc_id").alias("__id"), F.col("text").alias("__t"))
            .join(F.broadcast(cand_docs), "__id", "left_semi")
            .select("__id", F.explode(dedup.word_shingles("__t", 3)).alias("__s"))
        )
        verified = dedup._jaccard_from_shingles(sh, 0.5, persist=False).join(
            cand, ["id_a", "id_b"], "left_semi"
        )
        fold = [(r.id_a, r.id_b) for r in verified.collect()]
        if labels is not None:
            fold += [(i, c) for i, c in labels.items() if i != c]
        if not fold:
            continue
        fdf = spark.createDataFrame(fold, "u long, v long")
        labels = {r.id: r.comp for r in dedup.connected_components(fdf, "u", "v").collect()}
    assert labels == want
    assert sorted(set(want.values())) == [0, 1]  # {0,3,6} -> 0, {1,4} -> 1


def test_incremental_keepone_survivor_fold(spark, tmp_path):
    """The stream_keepone_maintenance survivor fold, driver-free: per epoch
    the candidate-endpoint quality keys (-quality, id) join the new labels,
    union the PREVIOUS survivors relabeled through the new label table, and
    min per component keeps the running best. Three subtleties pinned:
    (1) quality beats arrival/id order — doc 9 (higher quality) survives
    over the lower-id doc 1 in its cluster; (2) the canonical copy FLIPS
    when a later epoch streams an earlier-ordered equal-quality copy (doc 2
    arrives last, takes over cluster {2,4,6} from doc 4) — the confluence
    subtlety VERDICT_r11 flagged; (3) component relabeling carries an
    untouched cluster's survivor through a merge-free epoch. Final state
    must equal the batch neardup_keep_best_quality policy."""
    from tmdb_spark_data_pipeline_spark.operators import text

    base30 = " ".join(f"w{i}" for i in range(30))
    b_best = "the a " + " ".join(f"q{i}" for i in range(28))   # 2 stopwords
    b_worse = "q0 q0 " + " ".join(f"q{i}" for i in range(28))  # lower diversity
    rows = [
        (6, base30), (4, base30), (2, base30),  # cluster A: equal quality
        (9, b_best), (1, b_worse),              # cluster B: quality differs
        (7, " ".join(f"u{i}" for i in range(30))),  # singleton
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    art = str(tmp_path / "ko_art")
    labels = None  # id -> comp
    surv = None    # comp -> (nq, id)
    surv_history = []
    for b in range(3):
        bdf = docs.filter(F.col("doc_id") % 3 == b)
        dedup.write_minhash_artifact(
            bdf, "text", "doc_id", art, mode="overwrite" if b == 0 else "append"
        )
        buckets = spark.read.parquet(art)
        new_ids = bdf.select(F.col("doc_id").alias("__id"))
        nb = buckets.join(F.broadcast(new_ids), "__id", "left_semi")
        cand = (
            nb.alias("a")
            .join(
                buckets.alias("b"),
                (F.col("a.__band") == F.col("b.__band"))
                & (F.col("a.__sig") == F.col("b.__sig"))
                & (F.col("a.__id") != F.col("b.__id")),
            )
            .select(
                F.least("a.__id", "b.__id").alias("id_a"),
                F.greatest("a.__id", "b.__id").alias("id_b"),
            )
            .distinct()
        )
        cand_docs = (
            cand.select(F.col("id_a").alias("__id"))
            .union(cand.select(F.col("id_b").alias("__id")))
            .distinct()
        )
        served = docs.select(
            F.col("doc_id").alias("__id"), F.col("text").alias("__t")
        ).join(F.broadcast(cand_docs), "__id", "left_semi")
        sh = served.select("__id", F.explode(dedup.word_shingles("__t", 3)).alias("__s"))
        verified = dedup._jaccard_from_shingles(sh, 0.5, persist=False).join(
            cand, ["id_a", "id_b"], "left_semi"
        )
        fold = [(r.id_a, r.id_b) for r in verified.collect()]
        if labels is not None:
            fold += [(i, c) for i, c in labels.items() if i != c]
        if not fold:
            continue
        fdf = spark.createDataFrame(fold, "u long, v long")
        labels = {
            r.id: r.comp for r in dedup.connected_components(fdf, "u", "v").collect()
        }
        kq = {
            r.id: (float(r.nq), r.id)
            for r in served.select(
                F.col("__id").alias("id"), (-text.quality_score("__t")).alias("nq")
            ).collect()
        }
        members: dict = {}
        for i, k in kq.items():
            if i in labels:  # unverified endpoints drop out of the inner join
                members.setdefault(labels[i], []).append(k)
        if surv is not None:
            for old_c, k in surv.items():
                members.setdefault(labels[old_c], []).append(k)
        surv = {c: min(ks) for c, ks in members.items()}
        surv_history.append({c: k[1] for c, k in surv.items()})
    # epoch b0 (docs 6, 9) has no pairs -> no state; b1 clusters {4,6} and
    # {1,9}; b2 merges 2 into {2,4,6} and the survivor flips 4 -> 2 while
    # cluster B's survivor 9 is carried through the relabel
    assert surv_history == [{4: 4, 1: 9}, {2: 2, 1: 9}]
    # final state == the batch keep-best policy over the full corpus
    full_pairs = dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, min_jaccard=0.5, persist_shingles=False
    )
    comp = dedup.connected_components(full_pairs)
    q = docs.select(
        F.col("doc_id").alias("id"), text.quality_score("text").alias("qs")
    )
    want: dict = {}
    for r in comp.join(q, "id").collect():
        k = (-float(r.qs), r.id)
        if r.comp not in want or k < want[r.comp]:
            want[r.comp] = k
    assert {c: k[1] for c, k in want.items()} == {c: k[1] for c, k in surv.items()}
    assert set(labels) == {2, 4, 6, 1, 9}  # singleton 7 never enters state


def test_connected_components_leaves_no_cache_entries(spark):
    """ADVICE_r10: connected_components must unpersist its laundering cache
    on return — per-epoch callers (stream_cc_maintenance, the cluster
    maintenance) used to accumulate one cached label table per invocation.
    A 60-node path needs ~15+ rounds (several launderings); after
    materializing the labels the CacheManager must be as empty as before
    (localCheckpoint blocks are NOT CacheManager entries — the leak was
    specifically the persist() on top)."""
    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty()
    path_edges = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(path_edges, "id_a long, id_b long")
    comp = dedup.connected_components(df)
    assert comp.count() == 61
    assert cm.isEmpty(), "connected_components left a laundering cache behind"


def test_sig_agg_exprs_memoized_and_equal_to_naive_form(corpus):
    # the memoized F.expr construction (r13: ~20× cheaper to build, reused
    # across queries/epochs) must be value-identical to the naive Column
    # construction it replaced
    assert dedup._sig_agg_exprs(32, 7) is dedup._sig_agg_exprs(32, 7)
    assert dedup._band_bucket_array(8, 4) is dedup._band_bucket_array(8, 4)
    base = dedup._spread(
        corpus.select(F.col("doc_id").alias("__id"), F.col("text").alias("__t")),
        by="__id",
    )
    exploded = base.select(
        "__id", F.explode(dedup.word_shingles("__t", 3)).alias("__s")
    )
    new = dedup.minhash_signatures_agg(exploded, num_hashes=32)
    h = F.pmod(F.xxhash64(F.col("__s")), F.lit(dedup._MERSENNE31))
    ex = exploded.withColumn("__h", h)
    aggs = [
        F.min(
            F.pmod(F.col("__h") * F.lit(a) + F.lit(b), F.lit(dedup._MERSENNE31))
        ).alias(f"mh_{i}")
        for i, (a, b) in enumerate(dedup._permutation_params(32, 7))
    ]
    old = ex.groupBy("__id").agg(*aggs)
    assert new.schema == old.schema
    assert new.exceptAll(old).count() == 0 and old.exceptAll(new).count() == 0


def test_connected_components_dedup_edges_off_same_labels(spark):
    # a distinct normalized (src<dst) pair list must produce identical
    # labels with the dedup exchange skipped — including when a pair's
    # mirror collides with a star-style edge (duplicates are harmless)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (3, 1)], ["id_a", "id_b"]
    )
    a = dedup.connected_components(pairs).orderBy("id").collect()
    b = dedup.connected_components(pairs, dedup_edges=False).orderBy("id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    assert {(r.id, r.comp) for r in a} == {
        (1, 1), (2, 1), (3, 1), (5, 5), (6, 5)
    }
