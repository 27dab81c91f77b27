"""Similarity search over embedding columns (SURVEY.md §2.11 item 13).

Brute-force cosine top-k is the exactness baseline; random-hyperplane LSH
bucketing is the scale path. The dot product / norm math is pure Catalyst
(``zip_with`` + ``aggregate`` over ``array<float>``) — element order is
fixed, so the double-precision result is deterministic and reproducible
against an external oracle, unlike a parallel float reduction.

Scale notes (100 TB): brute force is a broadcast nested loop — cost
|queries| × |corpus| × dim. It parallelizes perfectly (corpus partitions ×
broadcast queries) but is O(N) per query; LSH probing reduces per-query cost
to the bucket size at a recall price. For real workloads the corpus side
should be stored with the bucket id as a partition/bucketing key so a probe
prunes files.

Each vector-search step has one private owner; the public entry points
compose them:

- ``_pair_cos`` scores query × candidate pairs; ``_top_cos`` drops the self
  pair and keeps the cosine top-k (brute force, LSH, LSH probe, IVF, the
  pandas twin).
- ``_ivf_centroids`` picks the IVF centroids, ``_cos_probes`` ranks each
  row's nearest cells, ``_ivf_candidates`` joins the probed cells' members
  (IVF top-k, its artifact twin, the recall curve; ``_ivf_candidate_pairs``
  probes with the same step).
- ``_adc_lut`` builds the decimal ADC table, ``_adc_scan`` scores codes
  against it (whole table or probed cells only), ``_adc_shortlist`` keeps
  each query's ADC top-``refine`` and ``_adc_rerank`` re-ranks a shortlist
  by exact squared L2 through ``_l2_topk``: flat PQ (``pq_adc_scores``,
  ``pq_adc_recall_audit``) and flat and residual IVF-PQ (``_adc_refine``
  over the ``_l2_probes`` cells) alike.
- ``_pair_dist`` computes cosine distance over pairs, all of them
  (``_all_pairs_cosine_dist``: DBSCAN and the exact mutual-reach family)
  or IVF candidates (``mutual_reachability_clusters_ann``).
- ``_level_components`` labels the eps slices of one or more
  mutual-reachability lists in one connected-components loop.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import ColumnOrName, _col, gateway_memo
from . import rank


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Σ aᵢ·bᵢ in strict array order (deterministic double math).

    The ``zip_with`` + sequential ``aggregate`` fold stays inside whole-stage
    codegen and measures ~2-7× FASTER than an unrolled 64-term
    getItem-multiply-add chain (the giant expression tree falls out of
    codegen into interpreted eval) — measured at sf0.1, keep the fold.
    """
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: ColumnOrName) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: ColumnOrName, b: ColumnOrName) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k neighbors per query vector.

    Broadcast the (small) query side against the corpus — no shuffle of the
    corpus; then per-query top-k via window. Output:
    (query_id, neighbor_id, cos).
    """
    # Norms are computed once per ROW before the pair join (not once per pair,
    # which would triple the O(dim) work across |Q|×|C| pairs). The per-pair
    # expression stays dot/(‖q‖·‖c‖) — the exact double arithmetic an external
    # oracle computes, so results stay bit-comparable.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"), l2_norm(vec_col).alias("__qn")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"), l2_norm(vec_col).alias("__cn")
    )
    pairs = c.join(F.broadcast(q), F.lit(True))
    return _top_cos(_pair_cos(pairs), k=k, include_self=include_self)


def _pair_cos(
    pairs: DataFrame,
    cv: str = "__cv",
    cn: str = "__cn",
    nid: str = "neighbor_id",
    *,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """``(query_id, neighbor_id, *keep, cos)`` of a query × candidate pair
    frame whose query side carries ``__qv``/``__qn`` (vector, norm) and
    whose candidate side carries ``nid``/``cv``/``cn`` (id, vector, norm).
    Both norms come from per-row projections below the pair join, so each
    pair costs one dot product."""
    return pairs.select(
        "query_id",
        F.col(nid).alias("neighbor_id"),
        *keep,
        (dot("__qv", cv) / (F.col("__qn") * F.col(cn))).alias("cos"),
    )


def _top_cos(scored: DataFrame, *, k: int, include_self: bool) -> DataFrame:
    """The ``k`` best ``(query_id, neighbor_id, cos)`` rows per query, the
    self pair dropped unless ``include_self``: cos descending with NULLs
    last, ties to the lower neighbor id. Every cosine top-k entry point
    answers through this rule, so their results agree row for row wherever
    their candidate sets do."""
    if not include_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    return rank.top_n_per_group(
        scored, ("query_id",), "cos", n=k, tiebreak=("neighbor_id",), rank_col="__rn"
    ).drop("__rn")


def seeded_planes(num_planes: int = 6, dim: int = 64, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (shared by the engine and the oracle
    generator in ``plans/queries.py`` so literals can't drift)."""
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]


def hyperplane_bucket(vec: ColumnOrName, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit i = sign(vec · plane_i).

    ``planes`` are driver-side constants (seeded), embedded as array
    literals — no UDF, no broadcast variable needed.
    """
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bucket = bucket + F.when(dot(vec, plane) >= 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
    return bucket


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    planes: list[list[float]] | None = None,
    num_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    include_self: bool = False,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.

    Equi-join on bucket id replaces the cross join — at scale, with the
    corpus written bucketed/partitioned by bucket id, a probe reads one
    bucket's files only. Recall is tunable via ``num_planes`` (fewer planes →
    bigger buckets → higher recall, more compute).

    ``multiprobe=True`` additionally probes every bucket at hamming
    distance 1 (each single hyperplane bit flipped): a true neighbor that
    landed just across ONE plane boundary is recovered, which is the
    dominant miss mode — so recall rises steeply for a (num_planes+1)×
    probe-side fan-out, while the corpus side (the big side) is untouched:
    still a plain equi-join on bucket id, still one bucket's files per
    probe. The standard refinement — flipping only the bits with the
    smallest |projection| margin — cuts the fan-out further and layers on
    top of this shape unchanged.
    """
    if planes is None:
        planes = seeded_planes(num_planes, dim, seed)

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        l2_norm(vec_col).alias("__qn"),
        hyperplane_bucket(vec_col, planes).alias("__bucket"),
    )
    if multiprobe:
        probe_set = F.array(
            F.col("__bucket"),
            *[
                F.col("__bucket").bitwiseXOR(F.lit(2**i).cast("long"))
                for i in range(len(planes))
            ],
        )
        q = q.withColumn("__bucket", F.explode(probe_set))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(vec_col).alias("__cn"),
        hyperplane_bucket(vec_col, planes).alias("__bucket"),
    )
    pairs = c.join(F.broadcast(q), "__bucket")
    return _top_cos(_pair_cos(pairs), k=k, include_self=include_self)


def write_lsh_partitioned_corpus(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    num_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
) -> None:
    """Materialize the corpus with its LSH bucket id as a PARTITION column.

    This is the storage half of ANN at 100 TB: each bucket becomes its own
    parquet directory, so a probe that joins (or filters) on ``bucket`` reads
    only the matching buckets' files — everything else is pruned at planning
    time, never scanned. Norms are precomputed per row at write time (read
    side then does one dot product per candidate pair, nothing per-corpus-row).
    """
    if planes is None:
        planes = seeded_planes(num_planes, dim, seed)
    out = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        l2_norm(vec_col).alias("norm"),
        hyperplane_bucket(vec_col, planes).alias("bucket"),
    )
    # Repartition on the partition column first: otherwise every write task
    # opens a file in every bucket directory (tasks × 2^planes tiny files —
    # the classic dynamic-partition write explosion); after the shuffle each
    # bucket is written by one task as one right-sized file.
    out.repartition("bucket").write.mode("overwrite").partitionBy("bucket").parquet(path)


def cosine_topk_lsh_probe(
    queries: DataFrame,
    corpus_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    planes: list[list[float]] | None = None,
    num_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    include_self: bool = False,
) -> DataFrame:
    """ANN probe against a ``write_lsh_partitioned_corpus`` layout.

    The broadcast equi-join on the partition column triggers dynamic
    partition pruning: only the buckets the query vectors hash into are read
    from disk. Same results as ``cosine_topk_lsh`` (identical planes), but
    the corpus-side cost is proportional to the probed buckets, not the
    corpus — the read-path shape that makes ANN work at 100 TB.
    """
    if planes is None:
        planes = seeded_planes(num_planes, dim, seed)
    spark = queries.sparkSession
    corpus = spark.read.parquet(corpus_path)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        l2_norm(vec_col).alias("__qn"),
        hyperplane_bucket(vec_col, planes).alias("bucket"),
    )
    pairs = corpus.join(F.broadcast(q), "bucket")
    return _top_cos(
        _pair_cos(pairs, vec_col, "norm", id_col), k=k, include_self=include_self
    )


def embedding_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cos: float = 0.9,
    block_col: str | None = None,
) -> DataFrame:
    """Pairs with cosine ≥ threshold (embedding near-dup). Optionally blocked
    on a column (e.g. an LSH bucket or a label) to avoid the full cross join.

    Norms computed once per row before the pair join (see
    ``cosine_topk_bruteforce``); per-pair cost is a single dot product.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), l2_norm(vec_col).alias("__na"), *([F.col(block_col).alias("__ba")] if block_col else []))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), l2_norm(vec_col).alias("__nb"), *([F.col(block_col).alias("__bb")] if block_col else []))
    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        # equi-join on the blocking key — shuffled hash/sort-merge, scales out
        cond = cond & (F.col("__ba") == F.col("__bb"))
    else:
        # unblocked = nested loop; broadcast one side explicitly and spread
        # the streamed side across all cores (a single small file would
        # otherwise evaluate every pair in one partition)
        a = a.repartition(df.sparkSession.sparkContext.defaultParallelism)
        b = F.broadcast(b)
    return (
        a.join(b, cond)
        .select("id_a", "id_b", (dot("__va", "__vb") / (F.col("__na") * F.col("__nb"))).alias("cos"))
        .filter(F.col("cos") >= min_cos)
    )


def assign_ivf_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF build step: assign every corpus vector to its nearest centroid
    (max cosine, ties broken by centroid id ascending — a total order, so the
    inverted lists are reproducible).

    Centroids are broadcast (an IVF cell count is small by construction —
    √N-ish); the corpus is streamed, so the build is one pass over the data
    with no corpus shuffle. At 100 TB the output would be written
    ``partitionBy("cell_id")`` so probes prune files (same layout trick as
    ``write_lsh_partitioned_corpus``).

    Output: the corpus columns plus ``cell_id``.
    """
    c = centroids.select(
        F.col(id_col).alias("__cent_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(vec_col).alias("__cn"),
    )
    # Corpus norm computed ONCE per row (not once per centroid pair), and the
    # per-vector argmax folds as max(struct(cos, -cent_id)) in a partial-agg'd
    # groupBy keyed on the vector id — no |corpus|×|cells| window sort, and
    # the map-side combine collapses the cells× replication before the
    # exchange. cent_id is negated inside the struct so the lexicographic max
    # breaks cos ties toward the LOWEST id; the other corpus columns are
    # constant within a group (same row replicated per centroid), so first()
    # is value-deterministic. (An optimization round tried the row-local
    # array_max-over-broadcast-array form here: bit-identical, zero
    # exchanges — and measurably SLOWER, because the nested HOF evaluates
    # interpreted while this replicated shape stays inside codegen with a
    # partial-agg'd fold; floors 5.3 s → 7.1 s on ivf_recall_trained. Keep
    # the replicate-and-regroup shape.)
    rest = [col for col in corpus.columns if col != id_col]
    base = corpus.withColumn("__norm", l2_norm(vec_col))
    scored = base.join(F.broadcast(c), F.lit(True)).select(
        id_col,
        *rest,
        F.struct(
            (dot(vec_col, "__cv") / (F.col("__norm") * F.col("__cn"))).alias("cos"),
            (-F.col("__cent_id")).alias("neg_id"),
        ).alias("__s"),
    )
    best = scored.groupBy(id_col).agg(
        *[F.first(col).alias(col) for col in rest], F.max("__s").alias("__b")
    )
    return best.select(*corpus.columns, (-F.col("__b.neg_id")).alias("cell_id"))


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    centroid_filter: Column | None = None,
    nprobe: int = 3,
    include_self: bool = False,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF(-flat) approximate nearest neighbors: partition the corpus into
    Voronoi cells around centroids, probe the ``nprobe`` nearest cells per
    query, exact cosine within the probed cells only.

    ``centroid_filter`` selects the centroid subset from the corpus itself
    (deterministic — e.g. ``vec_id % 25 == 0`` — so an external oracle can
    reproduce the exact cell assignment). ``centroids`` overrides it with an
    explicit centroid table ``(id_col, vec_col)`` — the TRAINED path: feed
    it ``kmeans_centroids`` output (itself oracle-replayable, deterministic
    init + decimal mean accumulation) and recall rises sharply at the same
    candidate budget (measured on the test corpus: recall@10 0.32 → 0.93 at
    a ~32% candidate fraction — see ``ivf_recall_trained``). Either way the
    plan shape is identical. Per-query cost drops from O(N) to
    O(nprobe·N/cells): with √N centroids and fixed nprobe this is the
    classic O(√N) ANN search — the other standard scale path next to LSH
    bucketing (``cosine_topk_lsh_probe``), and the one that keeps recall
    controllable via nprobe instead of plane count.
    """
    cents = _ivf_centroids(corpus, id_col, vec_col, centroid_filter, centroids)
    assigned = assign_ivf_cells(corpus, cents, id_col=id_col, vec_col=vec_col)
    cand = _ivf_candidates(
        assigned, cents, queries, id_col=id_col, vec_col=vec_col, nprobe=nprobe
    )
    return _top_cos(_pair_cos(cand, "__cvv", "__cnn"), k=k, include_self=include_self)


def _ivf_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    centroid_filter: Column | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """The IVF centroid table ``(id_col, vec_col)``: ``centroids`` when
    given (e.g. trained ``kmeans_centroids`` output), else the corpus rows
    ``centroid_filter`` picks, by default ``id % 25 == 0`` — a
    deterministic sample, so an external oracle reproduces every cell."""
    if centroids is not None:
        return centroids.select(id_col, vec_col)
    if centroid_filter is None:
        centroid_filter = F.col(id_col) % 25 == 0
    return corpus.filter(centroid_filter).select(id_col, vec_col)


def _cos_probes(
    df: DataFrame, cents: DataFrame, *, key: str, id_col: str, vec_col: str, n: int
) -> DataFrame:
    """The IVF probe step: each row of ``df`` against the broadcast
    centroids ``cents``, keeping its top-``n`` cells by cosine (ties to the
    lower centroid id). Returns ``(key, __qv, __qn)`` — the row's id, vector
    and norm — plus ``__cent_id`` and the probe rank ``__rn`` (1 = nearest
    cell)."""
    q = df.select(
        F.col(id_col).alias(key),
        F.col(vec_col).alias("__qv"),
        l2_norm(vec_col).alias("__qn"),
    )
    c = cents.select(
        F.col(id_col).alias("__cent_id"),
        F.col(vec_col).alias("__cv"),
        l2_norm(vec_col).alias("__cn"),
    )
    return rank.top_n_per_group(
        q.join(F.broadcast(c), F.lit(True)).withColumn(
            "__pcos", dot("__qv", "__cv") / (F.col("__qn") * F.col("__cn"))
        ),
        (key,), "__pcos", n=n, tiebreak=("__cent_id",), rank_col="__rn",
    )


def _ivf_candidates(
    assigned: DataFrame,
    cents: DataFrame,
    queries: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    nprobe: int,
) -> DataFrame:
    """The IVF SEARCH side, decoupled from the build side so it runs
    identically over a freshly-assigned corpus (``cosine_topk_ivf``,
    ``ivf_recall_curve``) or a PERSISTED cell-partitioned artifact
    (``cosine_topk_ivf_from_artifact``): per-query top-``nprobe`` probe
    cells (``_cos_probes``) → join the (cell-keyed) corpus on ``cell_id``.
    Returns every (query, candidate) pair, self pairs included, ready for
    ``_pair_cos(cand, "__cvv", "__cnn")``, with the probe rank ``__rn`` of
    the cell it was found through."""
    probes = _cos_probes(
        queries, cents, key="query_id", id_col=id_col, vec_col=vec_col, n=nprobe
    ).select("query_id", "__qv", "__qn", F.col("__cent_id").alias("cell_id"), "__rn")
    return assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cvv"),
        l2_norm(vec_col).alias("__cnn"),
        "cell_id",
    ).join(F.broadcast(probes), "cell_id")


def ivf_recall_curve(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    max_nprobe: int = 3,
    centroid_filter: Column | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF recall CERTIFICATE — the vector-side analogue of the MinHash
    banding S-curve (``dedup.minhash_band_pairs_portable`` →
    ``minhash_blocking_quality``): for every nprobe in 1..``max_nprobe``,
    measure recall@k of the IVF search against the exact brute-force top-k
    on the same (bounded, declared) query set, alongside the candidate
    workload that nprobe buys it. Output one row per nprobe:
    ``(nprobe, n_queries, hits, recall_at_k, avg_candidates)`` — the
    cost-vs-recall curve an operator tunes nprobe with BEFORE trusting the
    ANN path at scale.

    The candidate set is scored ONCE at ``max_nprobe`` with each
    candidate's probe rank kept; level replication is an
    ``explode(sequence(rank, max))`` — no per-nprobe re-search, no join
    (a candidate found via the r-th probe cell is, by probe-rank
    monotonicity, in every nprobe ≥ r candidate set). The exact leg is the
    declared bounded all-pairs baseline (``cosine_topk_bruteforce``), same
    adjudication as ``similarity_topk``; at 100 TB the audit runs on a
    sampled query stratum while production serves from the artifact.

    ``centroids`` (an explicit ``(id_col, vec_col)`` table, e.g. trained
    ``kmeans_centroids``) overrides ``centroid_filter`` — the certificate
    then grades the TRAINED serving path (``ivf_recall_trained``)."""
    cents = _ivf_centroids(corpus, id_col, vec_col, centroid_filter, centroids)
    assigned = assign_ivf_cells(
        corpus.select(id_col, vec_col), cents, id_col=id_col, vec_col=vec_col
    )
    cand = _ivf_candidates(
        assigned, cents, queries, id_col=id_col, vec_col=vec_col, nprobe=max_nprobe
    )
    scored = _pair_cos(cand, "__cvv", "__cnn", keep=("__rn",)).filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # two consumers (workload counts + the per-level top-k) and no exchange
    # reuse between them — materialize the level-replicated candidate list
    # once (query-stratum-bounded: |q|·candidates·levels rows) instead of
    # paying the probe join + scoring pass per consumer
    lev = scored.select(
        "query_id",
        "neighbor_id",
        "cos",
        F.explode(F.sequence(F.col("__rn"), F.lit(max_nprobe))).alias("nprobe"),
    ).localCheckpoint()
    cand_per = lev.groupBy("nprobe").agg(F.count("*").alias("__n_cand"))
    topk = rank.top_n_per_group(
        lev, ("nprobe", "query_id"), "cos", n=k, tiebreak=("neighbor_id",), rank_col="__rn"
    ).select("nprobe", "query_id", "neighbor_id")
    exact = cosine_topk_bruteforce(
        queries, corpus, id_col=id_col, vec_col=vec_col, k=k
    ).select("query_id", "neighbor_id")
    hits_per = (
        topk.join(F.broadcast(exact), ["query_id", "neighbor_id"])
        .groupBy("nprobe")
        .agg(F.count("*").alias("hits"))
    )
    nq = queries.agg(F.countDistinct(id_col).alias("n_queries"))
    return (
        cand_per.join(hits_per, "nprobe", "left")
        .crossJoin(F.broadcast(nq))
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            F.col("n_queries").cast("long").alias("n_queries"),
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            F.round(
                F.coalesce("hits", F.lit(0)).cast("double")
                / (F.lit(k) * F.col("n_queries")),
                6,
            ).alias("recall_at_k"),
            F.round(
                F.col("__n_cand").cast("double") / F.col("n_queries"), 2
            ).alias("avg_candidates"),
        )
    )


def _parallel_writes(*thunks) -> None:
    """Run independent sink actions concurrently (guide §2.6): Spark's
    scheduler overlaps jobs submitted from several driver threads — actions
    are only sequential because callers invoke them sequentially, and FIFO
    scheduling backfills one job's straggler tail with the next job's
    tasks. Each thunk must be an independent write whose expensive inputs
    are already materialized (checkpoint-backed trained tables / cell
    assignments here), so completion order cannot matter. Errors propagate:
    ``f.result()`` raises at the first failed future in submission order
    (not necessarily the first to fail in time), and the pool's exit then
    waits for the remaining thunks before the exception leaves."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        thunks[0]()
        return
    with ThreadPoolExecutor(max_workers=min(3, len(thunks))) as pool:
        futures = [pool.submit(t) for t in thunks]
        for f in futures:
            f.result()


def _check_artifact_mode(writer: str, mode: str) -> None:
    """An artifact is rebuilt (``"overwrite"``) or grown (``"append"``);
    Spark's ``"error"``/``"ignore"`` guards do not apply to a multi-table
    artifact, so any other mode raises before any training or write."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"{writer}: mode must be 'overwrite' or 'append', got {mode!r}")


def write_ivf_artifact(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_filter: Column | None = None,
    mode: str = "overwrite",
    centroids: DataFrame | None = None,
) -> None:
    """Materialize the IVF index as a parquet ARTIFACT — the vector-side
    counterpart of ``write_minhash_artifact``: assign every corpus vector
    to its cell ONCE, land the corpus ``partitionBy("cell_id")`` (so a
    probe's cell join prunes FILES, not just rows) plus the centroid table,
    and serve every later query from the artifact without re-assigning.

    ``centroids`` lands an explicit (e.g. ``kmeans_centroids``-trained)
    centroid table instead of the ``centroid_filter`` corpus sample.

    ``mode="append"`` is the incremental path for new vector batches:
    the PERSISTED centroid table is read back and the batch is assigned
    against those FROZEN centroids — the standard IVF contract (assignment
    is a pure function of (vector, centroids), so appends never invalidate
    existing cells; re-training centroids is a rebuild). Append therefore
    requires an existing artifact and ignores ``centroid_filter`` /
    ``centroids``; only the cell files grow, the centroid table is never
    rewritten."""
    _check_artifact_mode("write_ivf_artifact", mode)
    if mode == "append":
        cents = corpus.sparkSession.read.parquet(f"{path}/centroids")
        assigned = assign_ivf_cells(corpus, cents, id_col=id_col, vec_col=vec_col)
        assigned.write.mode("append").partitionBy("cell_id").parquet(f"{path}/cells")
        return
    cents = _ivf_centroids(corpus, id_col, vec_col, centroid_filter, centroids)
    if centroids is None:
        # checkpointed: the cell assignment and the centroid sink below
        # both read it, concurrently, and would each recompute it
        cents = cents.localCheckpoint()
    assigned = assign_ivf_cells(corpus, cents, id_col=id_col, vec_col=vec_col)
    _parallel_writes(
        lambda: assigned.write.mode(mode)
        .partitionBy("cell_id")
        .parquet(f"{path}/cells"),
        lambda: cents.write.mode(mode).parquet(f"{path}/centroids"),
    )


def cosine_topk_ivf_from_artifact(
    spark,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 3,
    include_self: bool = False,
) -> DataFrame:
    """Answer top-k queries from a persisted ``write_ivf_artifact`` index:
    same search tail as ``cosine_topk_ivf`` (bit-identical results — the
    candidate set is a pure function of the frozen assignment), but the
    corpus scan starts from the cell-partitioned artifact, so the probe
    join touches only the probed cells' files. This is the 100 TB serving
    shape: the O(N·cells) assignment is paid once at build, every query
    afterwards costs O(nprobe·N/cells) reads."""
    assigned = spark.read.parquet(f"{path}/cells")
    cents = spark.read.parquet(f"{path}/centroids")
    cand = _ivf_candidates(
        assigned, cents, queries, id_col=id_col, vec_col=vec_col, nprobe=nprobe
    )
    return _top_cos(_pair_cos(cand, "__cvv", "__cnn"), k=k, include_self=include_self)


def sq_l2(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Σ (aᵢ−bᵢ)² in strict array order (see ``dot`` for why the fold)."""
    return F.aggregate(
        F.zip_with(
            _col(a),
            _col(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def assign_nearest(
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cid",
    cent_vec: str = "cvec",
) -> DataFrame:
    """Nearest-centroid assignment by squared L2 (ties → lowest centroid id).

    Centroids broadcast, corpus streamed — one pass, no corpus shuffle; the
    argmin is a ``min(struct(d2, cid))`` aggregate rather than a window, so
    there's no per-vector row_number sort, just a partial-agg'd groupBy on
    the (unique) vector id. Output: (id_col, cid, d2).

    (An optimization round tried the row-local argmin — fold the centroids
    into one broadcast array row and ``array_min`` a ``transform``-scored
    struct array per corpus row: bit-identical values, zero exchanges, and
    measurably SLOWER, because nested higher-order functions evaluate
    interpreted per element while this replicated shape keeps the scoring
    inside whole-stage codegen and partial aggregation collapses the ×k
    replication map-side. Keep the replicate-and-regroup shape.)
    """
    c = centroids.select(F.col(cent_id).alias("__cid"), F.col(cent_vec).alias("__cv"))
    scored = corpus.join(F.broadcast(c), F.lit(True)).select(
        F.col(id_col),
        F.struct(
            sq_l2(vec_col, "__cv").alias("d2"), F.col("__cid").alias("cid")
        ).alias("__s"),
    )
    best = scored.groupBy(id_col).agg(F.min("__s").alias("__b"))
    return best.select(
        id_col, F.col("__b.cid").alias("cid"), F.col("__b.d2").alias("d2")
    )


def kmeans_lloyd(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 1,
    dim: int,
) -> DataFrame:
    """Distributed Lloyd k-means over an embedding column — the semantic-dedup
    / corpus-clustering primitive, expressed entirely in DataFrame ops.

    Deterministic contract (so an external oracle can replay it exactly):
    initial centroids are the ``k`` lowest-id vectors; each element-wise
    centroid mean accumulates in ``decimal(30,12)`` (partial-agg order can't
    perturb the double that comes back out); assignment ties break on lowest
    centroid id.

    Scale shape per iteration: one broadcast-assign pass (no corpus shuffle),
    then one cid groupBy of ``dim`` element-wise mean aggregates — partial
    agg reduces each partition to ≤ k rows before the shuffle, so the
    exchange is tiny regardless of corpus size. Every vector must have
    exactly ``dim`` elements (see ``kmeans_centroids``). The corpus is
    re-read per iteration rather than cached: at 100 TB the scan is cheaper
    than evicting half the block cache; on a hot path an explicit
    ``.persist()`` upstream composes fine.

    Returns final assignments (id_col, cid, d2).
    """
    emb = df.select(F.col(id_col), F.col(vec_col))
    cents = kmeans_centroids(df, id_col=id_col, vec_col=vec_col, k=k, iters=iters, dim=dim)
    return assign_nearest(emb, cents, id_col=id_col, vec_col=vec_col)


#: Memoized element-wise decimal-mean aggregate lists, keyed (dim, col):
#: one sum/count pair per vector position (same Py4J-construction argument
#: as _subvector_array — 64 aggregate Columns cost ~0.4 s to build naively).
@gateway_memo
def _mean_agg_exprs(dim: int, col: str) -> list[Column]:
    return [
        F.expr(
            f"cast(sum(cast(element_at({col}, {j + 1}) as decimal(30,12)))"
            f" as double) / count(*) AS __m{j}"
        )
        for j in range(dim)
    ]


def _width_checked(
    df: DataFrame, caller: str, id_col: str, vec_col: str, dim: int
) -> DataFrame:
    """``(id_col, vec_col)`` of ``df`` with every vector checked to hold
    exactly ``dim`` elements: any other width, NULL included, raises under
    either ANSI setting, naming ``caller`` and the offending id."""
    v = F.col(vec_col)
    bad = F.concat(
        F.lit(f"{caller}: {vec_col} width != {dim} at {id_col}="),
        F.col(id_col).cast("string"),
    )
    return df.select(
        F.col(id_col),
        F.when(F.size(v) == dim, v).otherwise(F.raise_error(bad)).alias(vec_col),
    )


def kmeans_centroids(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 1,
    dim: int,
) -> DataFrame:
    """The centroid-training half of ``kmeans_lloyd``, exposed on its own so
    trained centroids can feed the IVF serving path (``cosine_topk_ivf`` /
    ``write_ivf_artifact`` ``centroids=``) — same deterministic contract
    (k lowest-id init, decimal(30,12) mean accumulation, lowest-cid tie
    break), so an external oracle replays every iteration exactly.

    Returns ``(cid, cvec)``: the centroids after ``iters`` Lloyd updates.
    Cells that end an iteration empty are dropped (their cid disappears),
    matching what any engine computing a join-based group mean produces.

    Every vector must have exactly ``dim`` elements: the mean aggregates
    read positions 1..dim, so a shorter vector would add NULLs (ANSI off)
    or throw (ANSI on) and a longer one would lose its tail. Any vector of
    another width, NULL included, raises under either ANSI setting.

    The returned frame is ``localCheckpoint``-backed (k·dim doubles — tiny
    by construction): trained centroids feed ≥2 consumers in every serving
    path (cell assignment + probe ranking, or multiple artifact sinks), and
    without the checkpoint each consumer re-executes the full multi-
    iteration training chain (measured: the IVF-PQ audit plans carried the
    training subtree 2-4×).
    """
    emb = _width_checked(df, "kmeans_centroids", id_col, vec_col, dim)
    cents = (
        emb.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
    )
    for _ in range(iters):
        assigned = assign_nearest(emb, cents, id_col=id_col, vec_col=vec_col)
        joined = emb.join(assigned.select(id_col, "cid"), id_col)
        # one grouped pass (guide §2.4): dim element-wise decimal-mean
        # aggregates per cid, decimal(30,12) accumulation per position
        cents = (
            joined.groupBy("cid")
            .agg(*_mean_agg_exprs(dim, vec_col))
            .select("cid", F.array(*[f"__m{j}" for j in range(dim)]).alias("cvec"))
        )
    return cents.localCheckpoint()


def int8_quant_stats(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Symmetric int8 quantization audit: per-vector scale = max|x|/127,
    reconstruction error = mean |x − round(x/scale)·scale|; aggregated per
    group.

    The whole computation is Catalyst array expressions — one corpus pass, a
    partial-aggregable groupBy, zero Python. ``floor(v + 0.5)`` is used
    instead of ``round`` so the half-way rule is pinned to one formula that
    every engine computes identically on doubles. Per-vector scalars go
    through ``decimal(30,12)`` partial sums so the group averages are
    aggregation-order independent (reproducible across partitionings).
    """
    v = _col(vec_col)
    amax = F.aggregate(
        F.transform(v, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    scale = F.greatest(amax, F.lit(1e-30)) / F.lit(127.0)
    per_vec = df.select(
        F.col(group_col),
        scale.alias("__scale"),
        F.size(v).alias("__dim"),
        v.alias("__v"),
    ).select(
        group_col,
        "__scale",
        (
            F.aggregate(
                F.col("__v"),
                F.lit(0.0),
                lambda acc, x: acc
                + F.abs(
                    x.cast("double")
                    - F.floor(x.cast("double") / F.col("__scale") + F.lit(0.5))
                    * F.col("__scale")
                ),
            )
            / F.col("__dim")
        ).alias("__mae"),
    )
    n = F.count("*")
    return per_vec.groupBy(group_col).agg(
        n.alias("n_vecs"),
        F.round(
            F.sum(F.col("__scale").cast("decimal(30,12)")).cast("double") / n, 6
        ).alias("avg_scale"),
        F.round(
            F.sum(F.col("__mae").cast("decimal(30,12)")).cast("double") / n, 6
        ).alias("avg_mae"),
    )


def cosine_topk_pandas(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    include_self: bool = False,
) -> DataFrame:
    """Numpy twin of ``cosine_topk_bruteforce`` — the scalar ``pandas_udf``
    tier of the UDF policy (SURVEY.md §2.10): when the per-row math
    outgrows what a Catalyst fold does well (very high dim, fused extra
    arithmetic), the Arrow batch + numpy path is the sanctioned escape
    hatch. Same contract and output as the expression version.

    The query side is collected to the driver (bounded — |Q|×dim floats,
    the same object a broadcast would ship) and closed over by the UDF; the
    corpus streams through Arrow batches, scored against all queries at
    once. Determinism: numpy reduces the dim axis with SIMD partial sums,
    so scores differ from the sequential ``zip_with`` fold by a couple of
    ulps (measured ≤2e-16 relative at dim 64) — same neighbor sets, equal
    at any reporting precision, but NOT bit-identical; the declared query
    rounds at 5 exactly like the expression twin, and the unit test pins
    the ≤1e-12 envelope plus set equality. Batches are sliced so the
    (rows × |Q| × dim) intermediate stays ~tens of MB regardless of Arrow
    batch size.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    qrows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    qids = [int(r[0]) for r in qrows]
    qmat = [[float(x) for x in r[1]] for r in qrows]

    @pandas_udf(ArrayType(DoubleType()))
    def _scores(col: pd.Series) -> pd.Series:
        import numpy as np

        Q = np.asarray(qmat, dtype=np.float64)
        qn = np.sqrt((Q * Q).sum(axis=1))
        C = np.asarray([np.asarray(v, dtype=np.float64) for v in col], dtype=np.float64)
        out = []
        for lo in range(0, len(C), 2048):
            chunk = C[lo : lo + 2048]
            cn = np.sqrt((chunk * chunk).sum(axis=1))
            s = (chunk[:, None, :] * Q[None, :, :]).sum(axis=-1) / (
                cn[:, None] * qn[None, :]
            )
            out.extend(list(s))
        return pd.Series(out)

    qid_lookup = F.array(*[F.lit(q).cast("long") for q in qids])
    scored = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), _scores(F.col(vec_col)).alias("__s")
        )
        .select("neighbor_id", F.posexplode("__s").alias("__pos", "cos"))
        .select(
            F.element_at(qid_lookup, F.col("__pos") + 1).alias("query_id"),
            "neighbor_id",
            "cos",
        )
    )
    return _top_cos(scored, k=k, include_self=include_self)


def label_dispersion(
    df: DataFrame,
    *,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-label embedding concentration via the GROUPED_AGG ``pandas_udf``
    tier (completing the sanctioned-Python matrix: scalar pandas_udf,
    grouped-agg pandas_udf, applyInPandas, mapInPandas,
    applyInPandasWithState — each with exactly one canonical operator).

    ``R = ‖mean(v)‖ / mean(‖v‖)`` — the mean resultant length: 1.0 when a
    label's vectors all point the same way, →0 when they cancel. The
    vector mean is genuine numpy work (element-wise over the whole group);
    grouped-agg receives COMPLETE groups (no partial aggregation), and the
    UDF sorts rows by ``id_col`` before reducing so the float sums are
    order-deterministic across shuffles. Scale: state is one dim-width
    accumulator per group; a label with billions of rows streams through
    Arrow batches... but grouped-agg materializes the group — for
    pathological group sizes use the expression form (posexplode +
    per-position avg) instead; this operator's contract is
    bounded-cardinality labels.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _disp(ids: pd.Series, vecs: pd.Series) -> float:
        import numpy as np

        order = ids.to_numpy().argsort(kind="stable")
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in vecs.iloc[order]],
            dtype=np.float64,
        )
        mean_vec = mat.mean(axis=0)
        mean_norm = np.sqrt((mat * mat).sum(axis=1)).mean()
        return float(np.sqrt((mean_vec * mean_vec).sum()) / mean_norm)

    # Spark disallows mixing a GROUPED_AGG pandas_udf with JVM aggregates
    # in one agg() — counts come from a second cheap agg joined back
    counts = df.groupBy(label_col).agg(F.count("*").alias("n_vectors"))
    disp = df.groupBy(label_col).agg(
        F.round(_disp(F.col(id_col), F.col(vec_col)), 6).alias("dispersion")
    )
    return counts.join(disp, label_col)


def project_planes(vec: ColumnOrName, planes: list[list[float]]) -> Column:
    """Johnson–Lindenstrauss random projection: ``array(vec·p_0, …,
    vec·p_{m-1})`` for seeded Gaussian ``planes`` (``seeded_planes``) — the
    dimension-reduction map whose distance distortion the JL lemma bounds by
    ~O(sqrt(ln n / m)). Cosine is scale-invariant, so no 1/sqrt(m) factor.

    Plane literals are embedded driver-side constants (no UDF, no broadcast
    variable), each coordinate its own sequential ``dot`` fold — stays in
    whole-stage codegen. Project once per ROW (alias the result before any
    pair join) so the fold runs N·m times, not |pairs|·m.
    """
    return F.array(
        *[dot(vec, F.array(*[F.lit(float(x)) for x in p])) for p in planes]
    )


def dbscan_cosine(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    eps: float = 0.3,
    min_pts: int = 4,
) -> DataFrame:
    """Deterministic DBSCAN over cosine distance (1 − cos): core points
    have ≥ ``min_pts`` neighbors within ``eps`` (SELF INCLUDED, the
    textbook convention); clusters are connected components of the
    core–core eps-graph labeled by their minimum id; border points
    (non-core within eps of ≥1 core) attach to the SMALLEST adjacent
    cluster id — classic DBSCAN leaves shared-border assignment
    scan-order-dependent, and the min rule makes it a pure function of
    the input, which is what lets an external engine replay it. Noise
    gets cluster −1. Output: (id, cluster, role ∈ core|border|noise).

    The all-pairs distance pass (``_all_pairs_cosine_dist``: the qa < qb
    half, mirrored) is the declared exactness baseline (run on a bounded
    subset / sample, same contract as ``cosine_topk_bruteforce``); at
    100 TB the eps-neighbor pairs come from the LSH/IVF candidate paths
    (``embedding_neardup_pairs``) and everything downstream — degree
    count, component labels, border attach — is key-partitioned joins
    over the near-pair list.
    """
    from . import dedup

    base, dist = _all_pairs_cosine_dist(df, id_col, vec_col)
    near = (
        dist.filter(F.col("__d") <= eps)
        .select("qa", "qb")
        # three consumers (degree count, core-core edges, border attach)
        # would each re-filter the mirrored all-pairs list — materialize
        # the small near-pair list once (localCheckpoint: ContextCleaner
        # frees the blocks on GC, no CacheManager entry to leak)
        .localCheckpoint()
    )
    deg = base.select(F.col("__id").alias("qa")).join(
        near.groupBy("qa").agg(F.count("*").alias("__nb")), "qa", "left"
    ).select("qa", F.coalesce("__nb", F.lit(0)).alias("__nb"))
    core = (
        deg.filter(F.col("__nb") + 1 >= min_pts)
        .select(F.col("qa").alias("id"))
        .localCheckpoint()
    )
    core_edges = (
        near.join(core.select(F.col("id").alias("qa")), "qa", "left_semi")
        .join(core.select(F.col("id").alias("qb")), "qb", "left_semi")
        .filter(F.col("qa") < F.col("qb"))
        .select(F.col("qa").alias("id_a"), F.col("qb").alias("id_b"))
        .distinct()
    )
    comp = dedup.connected_components(core_edges)
    core_lab = core.join(comp, "id", "left").select(
        "id", F.coalesce("comp", F.col("id")).alias("cluster"), F.lit("core").alias("role")
    )
    border = (
        near.join(core.select(F.col("id").alias("qa")), "qa", "left_anti")
        .join(core_lab.select(F.col("id").alias("qb"), "cluster"), "qb")
        .groupBy(F.col("qa").alias("id"))
        .agg(F.min("cluster").alias("cluster"))
        .select("id", "cluster", F.lit("border").alias("role"))
    )
    labeled = core_lab.unionByName(border)
    noise = (
        base.select(F.col("__id").alias("id"))
        .join(labeled.select("id"), "id", "left_anti")
        .select("id", F.lit(-1).cast("long").alias("cluster"), F.lit("noise").alias("role"))
    )
    return labeled.unionByName(noise)


def mutual_reachability_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 4,
    eps: float = 0.75,
) -> DataFrame:
    """Density clustering over the MUTUAL REACHABILITY distance — the
    HDBSCAN* smoothing of ``dbscan_cosine`` (Campello/Moulavi/Sander):
    ``d_mr(a,b) = max(core_k(a), core_k(b), d(a,b))`` where ``core_k(x)``
    is x's cosine distance to its k-th nearest other point. Inflating
    every pairwise distance to at least both endpoints' core distances
    makes sparse-region points repel — the single-link "noise bridge"
    that chains two dense blobs through a stray midpoint under plain
    DBSCAN dissolves, because the midpoint's large core distance poisons
    every edge through it. Clusters are the connected components of the
    ``d_mr ≤ eps`` graph, labeled by minimum member id (deterministic,
    replayable); isolated points get cluster −1. Output:
    (id, cluster, core_dist) with core_dist rounded at 6 for display —
    edges compare on the RAW doubles, identically computed in any engine
    that evaluates the same expression shape.

    All-pairs distances are the declared exactness baseline (bounded
    subset, the ``dbscan_cosine`` contract); the 100 TB path is
    ``mutual_reachability_clusters_ann`` — the SAME core-distance window +
    edge filter + CC tail (``_mutual_reach_tail``) fed from IVF candidate
    pairs instead of the cross join.
    """
    base, dist = _all_pairs_cosine_dist(df, id_col, vec_col)
    return _mutual_reach_tail(base, dist, k=k, eps=eps)


def _all_pairs_cosine_dist(
    df: DataFrame, id_col: str, vec_col: str
) -> tuple:
    """(base, dist): the normalized id universe and the materialized
    all-pairs cosine-distance list (qa, qb, __d) — the shared front end of
    the exact mutual-reachability family. localCheckpointed: every caller
    has ≥2 consumers (core-distance window + edge join), and the audit
    query reuses ONE pair list for both its exact and ANN legs.
    ContextCleaner frees the blocks on GC.

    The distance is symmetric and bit-identical in either direction (the
    per-element multiply is commutative, the fold order is the element
    order), so only the qa < qb HALF is computed and checkpointed; the
    mirrored direction is a projection of the materialized half — the
    dominant cost (|N|²·dim dot products) halves with identical doubles."""
    base, half = _pair_dist(
        df, id_col, vec_col, lambda a, b: a.join(b, F.col("qa") < F.col("qb"))
    )
    half = half.localCheckpoint()
    dist = half.unionAll(
        half.select(F.col("qb").alias("qa"), F.col("qa").alias("qb"), "__d")
    )
    return base, dist


def _pair_dist(df: DataFrame, id_col: str, vec_col: str, pairs_of) -> tuple:
    """(base, dist): the id universe ``base`` = (__id, __v, __n) and the
    cosine distance ``__d`` = 1 − cos of the pairs ``pairs_of(a, b)`` joins
    out of two renamed copies of it, ``a`` = (qa, __va, __na) and ``b`` =
    (qb, __vb, __nb): (qa, qb, __d). Norms are per-row projections, so each
    pair costs one dot product."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        l2_norm(vec_col).alias("__n"),
    )
    a = base.select(
        F.col("__id").alias("qa"), F.col("__v").alias("__va"), F.col("__n").alias("__na")
    )
    b = base.select(
        F.col("__id").alias("qb"), F.col("__v").alias("__vb"), F.col("__n").alias("__nb")
    )
    dist = pairs_of(a, b).select(
        "qa",
        "qb",
        (1.0 - dot("__va", "__vb") / (F.col("__na") * F.col("__nb"))).alias("__d"),
    )
    return base, dist


def _mutual_reach_mre(dist: DataFrame, *, k: int) -> tuple:
    """(core, mre) of the HDBSCAN* graph: per-point core distance (k-th
    nearest by (d asc, id asc) in the pair list) and the FULL
    mutual-reachability pair list (qa < qb, ``__mr`` = max(d, core_a,
    core_b)) — eps-independent, so hierarchy slicers filter L thresholds
    out of ONE list instead of recomputing the window per level."""
    from pyspark.sql import Window

    wk = Window.partitionBy("qa").orderBy(F.col("__d").asc(), F.col("qb").asc())
    core = (
        dist.withColumn("__rn", F.row_number().over(wk))
        .filter(F.col("__rn") == k)
        .select(F.col("qa").alias("__id"), F.col("__d").alias("__cd"))
    )
    ca = core.select(F.col("__id").alias("qa"), F.col("__cd").alias("__ca"))
    cb = core.select(F.col("__id").alias("qb"), F.col("__cd").alias("__cb"))
    mre = (
        dist.filter(F.col("qa") < F.col("qb"))
        .join(ca, "qa")
        .join(cb, "qb")
        .select("qa", "qb", F.greatest("__d", "__ca", "__cb").alias("__mr"))
    )
    return core, mre


def _mutual_reach_parts(dist: DataFrame, *, k: int, eps: float) -> tuple:
    """(core, edges) of the HDBSCAN* graph at one eps: the flat-clustering
    slice of ``_mutual_reach_mre``. Exposed separately so the recall-audit
    query can union two legs' edge sets into ONE connected-components loop
    (level-composite encoding) instead of paying the iterative loop twice."""
    core, mre = _mutual_reach_mre(dist, k=k)
    edges = mre.filter(F.col("__mr") <= eps).select(
        F.col("qa").alias("id_a"), F.col("qb").alias("id_b")
    )
    return core, edges


def _mutual_reach_label(base: DataFrame, core: DataFrame, comp: DataFrame) -> DataFrame:
    """Final labeling: id universe LEFT JOIN component labels (−1 = not
    clustered) LEFT JOIN core distances (NULL = fewer than k neighbors in
    the pair feed — impossible all-pairs, standard under an ANN feed)."""
    labeled = base.select(F.col("__id").alias("id")).join(comp, "id", "left")
    return (
        labeled.join(core.select(F.col("__id").alias("id"), "__cd"), "id", "left")
        .select(
            "id",
            F.coalesce("comp", F.lit(-1)).cast("long").alias("cluster"),
            F.round(F.col("__cd"), 6).alias("core_dist"),
        )
    )


def _mutual_reach_tail(base: DataFrame, dist: DataFrame, *, k: int, eps: float) -> DataFrame:
    """Shared HDBSCAN* tail: (symmetric pair-distance list) → per-point
    core distance (k-th nearest by (d asc, id asc)) → mutual-reachability
    eps-edges → connected components → min-id labels. ``base`` supplies
    the full id universe (``__id``); a point with fewer than ``k``
    neighbors IN THE PAIR LIST has no core distance and is labeled noise
    (−1, core_dist NULL) — with an all-pairs feed that never happens, with
    a candidate feed it is the standard HDBSCAN-on-ANN behavior."""
    from . import dedup

    core, edges = _mutual_reach_parts(dist, k=k, eps=eps)
    comp = dedup.connected_components(edges)
    return _mutual_reach_label(base, core, comp)


def mutual_reach_hierarchy(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 4,
    eps_levels: tuple = (0.62, 0.66, 0.70, 0.74),
) -> DataFrame:
    """Fixed-λ condensed-tree SLICES of the HDBSCAN* hierarchy (the
    density-level view ``mutual_reachability_clusters`` flattens to one
    eps): the mutual-reachability distance is computed ONCE (one all-pairs
    pass on the bounded audit subset + one core-distance window), then
    each ``eps_levels`` threshold slices its own eps-graph out of the same
    pair list. Components across ALL levels are labeled by a SINGLE
    connected-components loop — nodes are composite-encoded
    ``level·2³² + id`` so the L level-graphs stay disjoint inside one
    union (one CC loop for L slices instead of L loops; rounds are
    bounded by the largest level's diameter, which the union does not
    increase). Output: one row per (id, eps) with the min-member-id
    cluster at that density (−1 = not clustered at that level) — reading
    a point's rows bottom-up shows where it joins the hierarchy, exactly
    the information HDBSCAN's condensed tree encodes at these λ values
    (stability selection over a fixed grid; the continuous tree needs a
    per-merge dendrogram, which no bounded-SQL oracle can replay).

    Scale shape: identical to the flat operator — the distance pass is
    the declared bounded baseline; at 100 TB the SAME slicing tail runs
    off ANN candidate pairs (``mutual_reachability_clusters_ann``'s feed)
    and the one CC loop stays on the sparse union of eps-edges.
    """
    base, dist = _all_pairs_cosine_dist(df, id_col, vec_col)
    _core, mr = _mutual_reach_mre(dist, k=k)
    universe, comp = _level_components(base, [mr], eps_levels)
    return (
        universe.join(comp, ["id", "__lvl"], "left")
        .select(
            "id",
            "eps",
            F.coalesce("__cluster", F.lit(-1)).cast("long").alias("cluster"),
        )
    )


def _level_components(base: DataFrame, mres: list, eps_levels: tuple) -> tuple:
    """(universe, comp): the ``eps_levels`` slices of every
    mutual-reachability list in ``mres`` (``_mutual_reach_mre`` output),
    labeled by ONE connected-components loop. Nodes are composite-encoded
    ``lvl·2³² + id`` with ``lvl = leg·L + level`` (leg = position in
    ``mres``, L = number of levels), so the slices stay disjoint inside one
    union; rounds are bounded by the largest slice's diameter, which the
    union does not increase. ``universe`` is every (id, __lvl, eps) of the
    first leg's levels, ``comp`` the decoded (id, __lvl, __cluster) of every
    clustered node, its cluster the minimum member id. Each list is
    checkpointed first: its L slices and the loop all read it."""
    from . import dedup

    enc = F.lit(1 << 32).cast("long")
    levels = [(i, float(eps)) for i, eps in enumerate(eps_levels)]
    lvl_edges = None
    for leg, mre in enumerate(mres):
        mre = mre.localCheckpoint()
        for i, eps in levels:
            code = leg * len(levels) + i
            e = mre.filter(F.col("__mr") <= eps).select(
                (F.lit(code) * enc + F.col("qa")).alias("id_a"),
                (F.lit(code) * enc + F.col("qb")).alias("id_b"),
            )
            lvl_edges = e if lvl_edges is None else lvl_edges.unionByName(e)
    comp = dedup.connected_components(lvl_edges).select(
        (F.col("id") % enc).alias("id"),
        (F.col("id") / enc).cast("long").alias("__lvl"),
        (F.col("comp") % enc).alias("__cluster"),
    )
    lvl_df = base.sparkSession.createDataFrame(levels, ["__lvl", "eps"])
    universe = base.select(F.col("__id").alias("id")).crossJoin(F.broadcast(lvl_df))
    return universe, comp


def _ivf_candidate_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    centroid_filter: Column | None = None,
    nprobe: int = 2,
) -> DataFrame:
    """Symmetric IVF candidate pairs (qa, qb), qa ≠ qb, distinct: each
    point multiprobes its ``nprobe`` nearest deterministic cells
    (``centroid_filter`` picks centroids from the corpus itself, default
    ``id % 25 == 0`` — the ``cosine_topk_ivf`` contract) and candidates
    are co-members of a probed cell. Centroids broadcast; the self-join
    shuffles on cell id with bucket sizes ~nprobe·N/cells."""
    cents = _ivf_centroids(df, id_col, vec_col, centroid_filter)
    probes = _cos_probes(
        df, cents, key="__id", id_col=id_col, vec_col=vec_col, n=nprobe
    ).select("__id", F.col("__cent_id").alias("__cell"))
    pa = probes.select(F.col("__id").alias("qa"), "__cell")
    pb = probes.select(F.col("__id").alias("qb"), "__cell")
    return (
        pa.join(pb, "__cell")
        .filter(F.col("qa") != F.col("qb"))
        .select("qa", "qb")
        .distinct()
    )


def mutual_reachability_clusters_ann(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 4,
    eps: float = 0.75,
    centroid_filter: Column | None = None,
    nprobe: int = 2,
    precomputed_dist: DataFrame | None = None,
) -> DataFrame:
    """The 100 TB path for ``mutual_reachability_clusters``: identical
    HDBSCAN* semantics (same ``_mutual_reach_tail``), but the pair list
    comes from IVF CANDIDATES instead of an all-pairs cross join — each
    point multiprobes its ``nprobe`` nearest cells (deterministic
    centroids via ``centroid_filter``, the ``cosine_topk_ivf`` contract:
    e.g. ``vec_id % 25 == 0`` so an external oracle replays the exact
    assignment) and candidate pairs are points sharing a probed cell.
    Core distances are then the k-th nearest AMONG CANDIDATES — ≥ the
    exact core distance, so every surviving edge would also survive the
    exact run: the ANN edge set is a SUBSET of the exact edge set
    (precision 1 structurally; recall is what the audit query measures).

    Scale shape: centroids broadcast (√N-ish cells), probe assignment is
    one pass over the corpus with a per-point top-nprobe window keyed on
    the point id, the candidate self-join shuffles on cell_id with bucket
    sizes ~nprobe·N/cells, and the tail is key-partitioned joins + the CC
    loop on the (sparse) eps-edge list. No stage touches |N|² pairs.

    ``precomputed_dist`` is an AUDIT-ONLY convenience: the recall-audit
    query (``embedding_mutual_reach_ann``) already materialized the exact
    all-pairs (qa, qb, __d) list for its exact leg, so the ANN leg pulls
    candidate distances out of it (identical doubles — same expression,
    same vectors) instead of recomputing the dot products. The production
    entry point leaves it None; passing an all-pairs table obviously
    forfeits the no-|N|²-stage property, which the audit's exact leg
    forfeited already.
    """
    cand = _ivf_candidate_pairs(
        df, id_col, vec_col, centroid_filter=centroid_filter, nprobe=nprobe
    )
    base, dist = _pair_dist(
        df, id_col, vec_col, lambda a, b: cand.join(a, "qa").join(b, "qb")
    )
    if precomputed_dist is not None:
        dist = cand.join(precomputed_dist, ["qa", "qb"])
    else:
        dist = dist.localCheckpoint()
    return _mutual_reach_tail(base, dist, k=k, eps=eps)


def mutual_reach_hierarchy_ann_audit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    k: int = 4,
    eps_levels: tuple = (0.66, 0.70, 0.74, 0.78),
    nprobe: int = 4,
) -> DataFrame:
    """Recall audit of the ANN-FED HIERARCHY (VERDICT_r08 item 5): run the
    fixed-λ condensed-tree slices (``mutual_reach_hierarchy``) twice — once
    off the exact all-pairs mutual-reachability list, once off the IVF
    candidate feed (``_ivf_candidate_pairs``, the
    ``mutual_reachability_clusters_ann`` contract) — and grade per density
    level how well the ANN hierarchy reproduces the exact one. Same
    refinement discipline as the flat audit (``embedding_mutual_reach_ann``):
    candidate core distances can only inflate, so every ANN edge is also an
    exact edge at the same eps and the ANN slices REFINE the exact slices
    level by level.

    Engineering: ONE all-pairs distance pass feeds both legs (the ANN leg
    pulls candidate distances out of it — identical doubles), both legs'
    eps-independent mutual-reachability lists are built once
    (``_mutual_reach_mre``) and sliced L times, and ONE connected-components
    loop labels all 2·L graphs via composite nodes ``(leg·L + lvl)·2³² +
    id``. Output: one row per eps with label agreement and cluster counts
    both sides. At 100 TB only the ANN leg survives (no |N|² stage in it);
    the exact leg is the declared bounded-audit baseline.
    """
    L = len(eps_levels)
    base, dist = _all_pairs_cosine_dist(df, id_col, vec_col)
    cand = _ivf_candidate_pairs(df, id_col, vec_col, nprobe=nprobe)
    _core_e, mre_e = _mutual_reach_mre(dist, k=k)
    _core_a, mre_a = _mutual_reach_mre(cand.join(dist, ["qa", "qb"]), k=k)
    universe, comp = _level_components(base, [mre_e, mre_a], eps_levels)
    ex = comp.filter(F.col("__lvl") < L).select(
        "id", "__lvl", F.col("__cluster").alias("__ce")
    )
    an = comp.filter(F.col("__lvl") >= L).select(
        "id", (F.col("__lvl") - L).alias("__lvl"), F.col("__cluster").alias("__ca")
    )
    per = (
        universe.join(ex, ["id", "__lvl"], "left")
        .join(an, ["id", "__lvl"], "left")
        .select(
            "eps",
            F.coalesce("__ce", F.lit(-1)).cast("long").alias("ce"),
            F.coalesce("__ca", F.lit(-1)).cast("long").alias("ca"),
        )
    )
    return per.groupBy("eps").agg(
        F.count("*").alias("n_points"),
        F.count(F.when(F.col("ca") == F.col("ce"), 1)).alias("label_matches"),
        F.round(
            F.count(F.when(F.col("ca") == F.col("ce"), 1)).cast("double")
            / F.count("*"),
            6,
        ).alias("label_agreement"),
        # collect_set, not count_distinct: two distinct aggregates plan an
        # Expand whose group order varies from one build to the next
        F.size(F.collect_set(F.when(F.col("ce") != -1, F.col("ce"))))
        .cast("long")
        .alias("clusters_exact"),
        F.size(F.collect_set(F.when(F.col("ca") != -1, F.col("ca"))))
        .cast("long")
        .alias("clusters_ann"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-domain ANN tier
# ---------------------------------------------------------------------------


def pq_subvectors(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Stack each vector into its ``m`` subspace slices: ``(id, sub,
    subvec)`` with ``sub`` in 0..m-1 and ``len(subvec) = dim/m``.

    One narrow projection + explode — no shuffle, m rows per vector. The
    slice bounds are compile-time literals so the whole stack stays inside
    whole-stage codegen.
    """
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    parts = _subvector_array(m, dim, vec_col)
    return df.select(F.col(id_col), F.explode(parts).alias("__p")).select(
        id_col, F.col("__p.sub").alias("sub"), F.col("__p.subvec").alias("subvec")
    )


#: Memoized subspace-slice arrays, keyed (m, dim, vec_col): building the
#: m-struct slice array costs ~300 ms of Py4J round-trips per call at m=32
#: (measured), and the PQ family builds it for every train/encode/serve —
#: same construction-cost class as dedup._sig_agg_exprs. A single-parse
#: F.expr is ~20× cheaper cold and the memo makes repeats free; values and
#: schema are identical (slice bounds stay compile-time literals).
@gateway_memo
def _subvector_array(m: int, dim: int, vec_col: str) -> Column:
    dsub = dim // m
    return F.expr(
        "array({})".format(
            ", ".join(
                f"struct({s} AS sub, slice({vec_col}, {s * dsub + 1}, {dsub})"
                f" AS subvec)"
                for s in range(m)
            )
        )
    )


def pq_train_codebooks(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int,
    ksub: int = 16,
    iters: int = 2,
) -> DataFrame:
    """Train the ``m`` per-subspace PQ codebooks (``ksub`` codewords each)
    with Lloyd iterations — ``kmeans_centroids``'s deterministic contract
    (lowest-id init, decimal(30,12) mean accumulation, lowest-cid tie
    break) extended with a ``sub`` key, so ALL ``m`` subspace k-means runs
    share one job chain per iteration instead of m sequential ones, and an
    external oracle can replay every iteration exactly.

    Init: subspace slices of the ``ksub`` lowest-id vectors (cid = that
    vector's id). Scale shape per iteration: one broadcast-assign pass over
    the stacked subvectors (m·ksub codewords broadcast — a few KB), then a
    (sub, cid, pos) groupBy whose exchange is ≤ m·ksub·dsub rows after
    partial agg, regardless of corpus size.

    Every vector must have exactly ``dim`` elements, checked as in
    ``kmeans_centroids``: the subspace slices read positions 1..dim, so a
    vector of another width would train on short or NULL slices.

    Returns ``(sub, cid, cvec)`` — ``cvec`` is ``array<double>`` of length
    dim/m.
    """
    df = _width_checked(df, "pq_train_codebooks", id_col, vec_col, dim)
    sv = pq_subvectors(df, id_col=id_col, vec_col=vec_col, m=m, dim=dim)
    init_ids = df.select(id_col).orderBy(F.col(id_col).asc()).limit(ksub)
    cents = pq_subvectors(
        df.join(F.broadcast(init_ids), id_col), id_col=id_col, vec_col=vec_col,
        m=m, dim=dim,
    ).select("sub", F.col(id_col).alias("cid"), F.col("subvec").alias("cvec"))
    dsub = dim // m
    # per-iteration mean in ONE grouped pass (guide §2.4): the subvector is
    # dsub elements, so the element-wise mean is dsub decimal-sum aggregates
    # per (sub, cid) — the old posexplode + (sub, cid, pos) groupBy +
    # (sub, cid) re-group paid a second exchange per iteration to reassemble
    # the array. Same decimal(30,12) accumulation per position, same
    # division, same array order — bit-identical codebooks.
    mean_aggs = _mean_agg_exprs(dsub, "subvec")
    for _ in range(iters):
        assigned = _pq_assign(sv, cents, id_col=id_col).select(id_col, "sub", "cid")
        cents = (
            sv.join(assigned, [id_col, "sub"])
            .groupBy("sub", "cid")
            .agg(*mean_aggs)
            .select(
                "sub", "cid", F.array(*[f"__m{j}" for j in range(dsub)]).alias("cvec")
            )
        )
    # checkpoint the trained table (m·ksub rows): every serving path reads
    # the codebooks ≥2× (encode + ADC LUT) and would otherwise re-train
    return cents.localCheckpoint()


def _pq_assign(sv: DataFrame, codebooks: DataFrame, *, id_col: str) -> DataFrame:
    """Nearest-codeword assignment per (vector, subspace): squared L2, ties
    to the lowest cid — ``assign_nearest``'s min-struct argmin with the
    ``sub`` equi-join key. Codebooks broadcast; the stacked corpus never
    shuffles. Returns ``(id_col, sub, cid, d2)``. (The row-local
    array_min-over-broadcast-arrays form was tried and reverted — see
    ``assign_nearest``: nested HOFs evaluate interpreted and measured
    slower than this codegen'd replicate-and-regroup shape.)"""
    scored = sv.join(F.broadcast(codebooks), "sub").select(
        F.col(id_col),
        "sub",
        F.struct(sq_l2("subvec", "cvec").alias("d2"), F.col("cid").alias("cid")).alias(
            "__s"
        ),
    )
    best = scored.groupBy(id_col, "sub").agg(F.min("__s").alias("__b"))
    return best.select(
        id_col, "sub", F.col("__b.cid").alias("cid"), F.col("__b.d2").alias("d2")
    )


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """PQ-encode the corpus: ``(id, sub, cid, d2)`` — each vector becomes m
    codeword ids (dim·4 bytes → m·log2(ksub) bits; 64-dim float32 → 8 bytes
    at ksub=16 packed, a 32× compression), and ``d2`` is that subspace's
    quantization error, so distortion audits are free. One broadcast-assign
    pass, no corpus shuffle."""
    sv = pq_subvectors(df, id_col=id_col, vec_col=vec_col, m=m, dim=dim)
    return _pq_assign(sv, codebooks, id_col=id_col)


def pq_adc_scores(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance (ADC) scores of every query against every encoded
    vector: approx_d2(q, x) = Σ_sub lut[sub, code(x, sub)], where the lookup
    table ``lut[sub, cid] = ||q_sub − cvec||²`` is built once per query
    (m·ksub doubles — the classic PQ scan shape).

    Determinism across engines: each LUT entry is a strict-array-order fold
    (bit-reproducible), then ``round(·, 12) → decimal(30,12)`` BEFORE the
    per-candidate sum, so the m-term sum is exact decimal arithmetic —
    order-independent under partial aggregation and replayable in ANSI SQL.

    Scale shape: LUT = queries × broadcast codebooks (tiny). The scan joins
    the code table (N·m rows, ~bytes each) against the broadcast LUT on
    (sub, cid) and partial-aggregates the m terms per (query, vector) before
    the shuffle — the corpus VECTORS are never read, which is the entire
    point of PQ at 100 TB: the compressed code table is ~32× smaller than
    the embedding column. Returns ``(query_id, neighbor_id, adc_dec)`` with
    ``adc_dec`` the exact decimal approx squared distance (self-pairs
    excluded).
    """
    qsv = pq_subvectors(queries, id_col=id_col, vec_col=vec_col, m=m, dim=dim)
    lut = _adc_lut(qsv, codebooks, F.col(id_col).alias("query_id"))
    return _adc_scan(codes.select(F.col(id_col).alias("neighbor_id"), "sub", "cid"), lut)


def _adc_lut(qsv: DataFrame, codebooks: DataFrame, *keys: ColumnOrName) -> DataFrame:
    """The ADC lookup table of stacked query subvectors ``qsv`` (``sub``,
    ``subvec`` plus the ``keys`` naming the query): ``(*keys, sub, cid,
    __ld)`` with ``__ld`` = ‖subvec − cvec‖² per codeword, rounded at 12
    and held as decimal(30,12) so every later sum of LUT entries is exact
    and order-independent."""
    return qsv.join(F.broadcast(codebooks), "sub").select(
        *keys,
        "sub",
        "cid",
        F.round(sq_l2("subvec", "cvec"), 12).cast("decimal(30,12)").alias("__ld"),
    )


def _adc_scan(codes: DataFrame, lut: DataFrame, probes: DataFrame | None = None) -> DataFrame:
    """The ADC scan: each row of ``codes`` (neighbor_id, sub, cid, plus
    __cell when blocked) looked up in the broadcast ``lut`` (an
    ``_adc_lut``, joined on every key column the codes carry), self pairs
    dropped, and the m terms summed per (query, neighbor) → ``(query_id,
    neighbor_id, adc_dec)``, an exact decimal. With ``probes`` (query_id,
    __cell) the scan is cell-blocked: each query meets only its probed
    cells' codes, through a broadcast of the query-bounded probe list, so
    the corpus-sized code table is never shuffled or broadcast."""
    if probes is not None:
        codes = codes.join(F.broadcast(probes), "__cell")
    return (
        codes.join(F.broadcast(lut), [c for c in lut.columns if c in codes.columns])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("__ld").alias("adc_dec"))
    )


def _adc_shortlist(adc: DataFrame, *, refine: int) -> DataFrame:
    """The ADC top-``refine`` of each query in an ``_adc_scan``, ties to the
    lower neighbor id: ``(query_id, neighbor_id, __rn)``."""
    return rank.top_n_per_group(
        adc, ("query_id",), "adc_dec", order="asc", n=refine,
        tiebreak=("neighbor_id",), rank_col="__rn",
    ).select("query_id", "neighbor_id", "__rn")


def _l2_topk(pairs: DataFrame, *, k: int, rank_col: str = "__rn") -> DataFrame:
    """The ``k`` nearest neighbors per query by exact squared L2 over a pair
    frame carrying ``query_id``/``__qv`` and ``neighbor_id``/``__nv``:
    ``(query_id, neighbor_id, __td, rank_col)``, ties to the lower neighbor
    id."""
    return rank.top_n_per_group(
        pairs.select("query_id", "neighbor_id", sq_l2("__qv", "__nv").alias("__td")),
        ("query_id",), "__td", order="asc", n=k, tiebreak=("neighbor_id",),
        rank_col=rank_col,
    )


def pq_adc_recall_audit(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    ksub: int = 16,
    iters: int = 2,
    k: int = 10,
    refine: int = 50,
) -> DataFrame:
    """PQ recall CERTIFICATE (the ADC analogue of ``ivf_recall_curve``): for
    each query, recall@k of (a) the raw ADC top-k and (b) the REFINED top-k
    — exact re-rank of the ADC top-``refine`` candidates by true squared L2
    (the standard two-stage PQ serving pattern: compressed-domain scan
    prunes to ``refine`` candidates, then ``refine`` exact distances per
    query, not N). The exact leg is a declared bounded all-pairs baseline
    over the query stratum, same adjudication as ``similarity_topk``.

    Output one row per query: ``(query_id, hits_adc, hits_refined,
    recall_adc, recall_refined)`` — per-query rows rather than one summary
    so the oracle hash gates every query's candidate sets, not an average.
    """
    cb = pq_train_codebooks(
        corpus, id_col=id_col, vec_col=vec_col, m=m, dim=dim, ksub=ksub, iters=iters
    )
    codes = pq_encode(corpus, cb, id_col=id_col, vec_col=vec_col, m=m, dim=dim)
    adc = pq_adc_scores(
        queries, codes, cb, id_col=id_col, vec_col=vec_col, m=m, dim=dim
    )
    # ONE ADC scan + ranking pass: the top-k and the refine shortlist are
    # both slices of the same ranked list (k ≤ refine), so materialize the
    # |queries|·refine-row shortlist once (query-stratum-bounded) instead of
    # executing the ADC scan+window once per consumer
    shortlist = _adc_shortlist(adc, refine=refine).localCheckpoint()
    adc_topk = shortlist.filter(F.col("__rn") <= k).select("query_id", "neighbor_id")
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    nv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv"))
    refined = _adc_rerank(shortlist, qv, nv, k=k).select("query_id", "neighbor_id")
    # the exact leg grades BOTH the ADC and refined sets — |queries|·k rows,
    # checkpointed so the bounded all-pairs baseline runs once, not twice
    exact = (
        _l2_topk(nv.join(F.broadcast(qv), F.col("query_id") != F.col("neighbor_id")), k=k)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    ha = (
        adc_topk.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("hits_adc"))
    )
    hr = (
        refined.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("hits_refined"))
    )
    base = queries.select(F.col(id_col).alias("query_id"))
    return (
        base.join(ha, "query_id", "left")
        .join(hr, "query_id", "left")
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.coalesce("hits_adc", F.lit(0)).cast("long").alias("hits_adc"),
            F.coalesce("hits_refined", F.lit(0)).cast("long").alias("hits_refined"),
            F.round(
                F.coalesce("hits_adc", F.lit(0)).cast("double") / F.lit(float(k)), 6
            ).alias("recall_adc"),
            F.round(
                F.coalesce("hits_refined", F.lit(0)).cast("double") / F.lit(float(k)),
                6,
            ).alias("recall_refined"),
        )
    )


def _l2_probes(qd: DataFrame, coarse: DataFrame, *, nprobe: int) -> DataFrame:
    """``(query_id, __cell)``: each query's ``nprobe`` nearest coarse cells
    by squared L2, ties to the lowest cid (``assign_nearest``'s contract).
    ``qd`` = (query_id, __qv), ``coarse`` = (cid, cvec), broadcast."""
    return rank.top_n_per_group(
        qd.join(F.broadcast(coarse), F.lit(True))
        .select("query_id", "cid", sq_l2("__qv", "cvec").alias("__pd")),
        ("query_id",), "__pd", order="asc", n=nprobe, tiebreak=("cid",), rank_col="__pr",
    ).select("query_id", F.col("cid").alias("__cell"))


def _adc_refine(
    codes: DataFrame,
    probes: DataFrame,
    lut: DataFrame,
    qd: DataFrame,
    nv: DataFrame,
    *,
    refine: int,
    k: int,
) -> DataFrame:
    """The IVF-PQ serve tail of ``ivfpq_topk_audit``, its artifact twin
    ``ivfpq_topk_from_artifact`` and ``ivfpq_residual_topk_audit``: the
    cell-blocked ADC scan of ``codes`` = (neighbor_id, __cell, sub, cid)
    over the ``probes`` cells (``_l2_probes``), each code looked up in
    ``lut`` (an ``_adc_lut``, joined on all its key columns — ``query_id,
    sub, cid``, plus ``__cell`` when the LUT is per probed cell), the ADC
    top-``refine`` shortlist, then its exact squared-L2 top-k over the
    refine vectors ``nv`` = (neighbor_id, __nv) and queries ``qd`` =
    (query_id, __qv): (query_id, neighbor_id, __td, rank).

    Scale shape of the scan: the ONLY corpus-sized table here (codes) is
    scanned once and joined to the broadcast of ``probes`` (|queries| ×
    nprobe rows) on the cell key — it is never shuffled and never
    broadcast (a corpus-proportional broadcast would OOM at 100 TB; the
    earlier candidate-set formulation had exactly that flaw). Every
    broadcast side — probes, the per-query LUT, the ADC shortlist — is
    query-bounded."""
    shortlist = _adc_shortlist(_adc_scan(codes, lut, probes), refine=refine)
    return _adc_rerank(shortlist, qd, nv, k=k, rank_col="rank")


def _adc_rerank(
    shortlist: DataFrame, qd: DataFrame, nv: DataFrame, *, k: int, rank_col: str = "__rn"
) -> DataFrame:
    """Exact re-rank of an ADC ``shortlist`` (``_adc_shortlist``): its
    squared-L2 top-k over the queries ``qd`` = (query_id, __qv) and the
    refine vectors ``nv`` = (neighbor_id, __nv), both reached through
    broadcasts of the query-bounded shortlist → ``(query_id, neighbor_id,
    __td, rank_col)``."""
    pairs = shortlist.select("query_id", "neighbor_id").join(F.broadcast(qd), "query_id")
    return _l2_topk(nv.join(F.broadcast(pairs), "neighbor_id"), k=k, rank_col=rank_col)


def _ivfpq_hit_tail(
    refined: DataFrame, qd: DataFrame, nv: DataFrame, *, k: int
) -> DataFrame:
    """Grade the served top-k against the exact L2 top-k (the declared
    bounded all-pairs audit leg) and shape the declared output:
    (query_id, rank, neighbor_id, d2, hit)."""
    exact = _l2_topk(
        nv.join(F.broadcast(qd), F.col("query_id") != F.col("neighbor_id")), k=k
    ).select("query_id", "neighbor_id", F.lit(1).alias("__hit"))
    return (
        refined.join(exact, ["query_id", "neighbor_id"], "left")
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("rank").cast("int").alias("rank"),
            F.col("neighbor_id").cast("long").alias("neighbor_id"),
            F.round("__td", 6).alias("d2"),
            F.coalesce("__hit", F.lit(0)).cast("int").alias("hit"),
        )
    )


def ivfpq_topk_audit(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_k: int = 25,
    coarse_iters: int = 2,
    nprobe: int = 8,
    m: int = 32,
    dim: int = 64,
    ksub: int = 16,
    iters: int = 2,
    refine: int = 150,
    k: int = 10,
) -> DataFrame:
    """IVF-PQ — the composed ANN serving architecture (FAISS IndexIVFPQ
    shape, non-residual variant): a TRAINED coarse quantizer
    (``kmeans_centroids``) prunes the corpus to ``nprobe`` cells, the PQ
    code table ADC-scores ONLY those cells' members, the ADC top-``refine``
    get exact re-ranked, and every stage is graded inline — output is the
    served top-k itself, one row per (query, rank): ``(query_id, rank,
    neighbor_id, d2, hit)`` with ``hit`` = membership in the exact L2
    top-k, so the hash gates the served neighbor SETS and the recall
    certificate at once.

    Single metric throughout (squared L2): coarse assignment and probe
    ranking use ``assign_nearest``'s contract (ties → lowest cid), ADC is
    the exact-decimal sum of ``pq_adc_scores``, the refine and exact legs
    rank on the strict-array-order ``sq_l2`` fold with neighbor-id ties.

    100 TB shape: both trainings are broadcast-assign passes paid once at
    build; per query the scan touches nprobe/coarse_k of the CODE table
    (itself ~16× smaller than the vectors) and reads full embeddings only
    for the ``refine`` re-rank rows. The exact leg is the declared bounded
    all-pairs audit over the query stratum.
    """
    emb = corpus.select(F.col(id_col), F.col(vec_col))
    coarse = kmeans_centroids(emb, id_col=id_col, vec_col=vec_col,
                              k=coarse_k, iters=coarse_iters, dim=dim)
    cells = assign_nearest(emb, coarse, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("cid").alias("__cell")
    )
    cb = pq_train_codebooks(emb, id_col=id_col, vec_col=vec_col,
                            m=m, dim=dim, ksub=ksub, iters=iters)
    # attach each vector's coarse cell to its codes at build time (one
    # co-partitioned id join — the artifact path gets this for free from
    # its cell-partitioned layout), so the serve never touches a
    # corpus-sized join side again; both trainings read their checkpointed
    # quantizer tables instead of re-training per consumer
    codes = pq_encode(emb, cb, id_col=id_col, vec_col=vec_col, m=m, dim=dim).select(
        F.col(id_col).alias("neighbor_id"), "sub", "cid"
    ).join(cells, "neighbor_id")
    qd = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    qsv = pq_subvectors(queries, id_col=id_col, vec_col=vec_col, m=m, dim=dim).select(
        F.col(id_col).alias("query_id"), "sub", "subvec"
    )
    nv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv"))
    probes = _l2_probes(qd, coarse, nprobe=nprobe)
    lut = _adc_lut(qsv, cb, "query_id")
    refined = _adc_refine(codes, probes, lut, qd, nv, refine=refine, k=k)
    return _ivfpq_hit_tail(refined, qd, nv, k=k)


def write_ivfpq_artifact(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_k: int = 25,
    coarse_iters: int = 2,
    m: int | None = None,
    dim: int | None = None,
    ksub: int = 16,
    iters: int = 2,
    mode: str = "overwrite",
) -> None:
    """Materialize the IVF-PQ index as a parquet ARTIFACT — the composed
    counterpart of ``write_ivf_artifact``, persisting all four serving
    tables: ``{path}/centroids`` (coarse quantizer), ``{path}/codebooks``
    (the m per-subspace PQ codebooks), ``{path}/codes`` (one row per
    vector: the PACKED m-code array, partitioned by cell so a probe prunes
    files), and ``{path}/vectors`` (the refine store, same cell
    partitioning — the exact re-rank reads only probed partitions). Both
    trainings are paid once here; serving never re-assigns or re-encodes.
    At 100 TB the codes table is the one scanned per query and is ~16×
    smaller than the vectors; daily batches append through the FROZEN
    centroids+codebooks via ``mode="append"``, exactly like
    ``write_ivf_artifact(mode="append")``: both quantizers are read back
    from the artifact (never retrained, never rewritten — assignment and
    encoding are pure functions of (vector, quantizers), so appends can't
    invalidate existing rows; re-training is an explicit rebuild), the
    batch is assigned + encoded against them, and only the two
    cell-partitioned tables grow. Append requires an existing artifact;
    the TRAINING parameters (coarse_k/coarse_iters/ksub/iters) are unused.
    The GEOMETRY parameters (m, dim) default to ``None`` = "use the
    artifact's own geometry": on append they are DERIVED from the
    persisted codebooks, so a caller never has to restate them, and an
    EXPLICITLY passed value is validated against the derivation — a
    mismatch would silently append code arrays of the wrong length into
    the existing cell-partitioned codes table (ADVICE r10), so it raises
    before any write (sentinel refinement: ADVICE r11 — the old
    always-validate contract made the library defaults themselves a
    foot-gun against non-default artifacts). On overwrite, ``None`` means
    the build defaults m=32, dim=64."""
    _check_artifact_mode("write_ivfpq_artifact", mode)
    emb = corpus.select(F.col(id_col), F.col(vec_col))
    if mode == "append":
        spark = corpus.sparkSession
        coarse = spark.read.parquet(f"{path}/centroids").localCheckpoint()
        cb = spark.read.parquet(f"{path}/codebooks").localCheckpoint()
        # derive the build geometry from the persisted codebooks (m·ksub
        # rows, already materialized — one cheap agg) and refuse to corrupt
        # the artifact on mismatch
        geo = cb.agg(
            (F.max("sub") + 1).alias("__m"),
            F.max(F.size("cvec")).alias("__dsub"),
            F.min(F.size("cvec")).alias("__dsub_min"),
        ).first()
        persisted_m = int(geo["__m"])
        persisted_dim = persisted_m * int(geo["__dsub"])
        if (
            int(geo["__dsub"]) != int(geo["__dsub_min"])
            or (m is not None and m != persisted_m)
            or (dim is not None and dim != persisted_dim)
        ):
            raise ValueError(
                f"write_ivfpq_artifact(mode='append'): geometry mismatch — "
                f"artifact at {path!r} was built with m={persisted_m}, "
                f"dim={persisted_dim}, but append was called with m={m}, "
                f"dim={dim}; appending would corrupt the codes table"
            )
        # encode with the artifact's own geometry (derived above) — the
        # sentinel default means callers never restate what the artifact
        # already knows (ADVICE r11)
        m, dim = persisted_m, persisted_dim
    else:
        m = 32 if m is None else m
        dim = 64 if dim is None else dim
        # four write actions consume these; the trainers return
        # localCheckpoint-backed tables (coarse_k rows / m·ksub rows) and the
        # assignment gets its own checkpoint (two consumers) so neither
        # training nor the assign pass re-executes per sink
        coarse = kmeans_centroids(
            emb, id_col=id_col, vec_col=vec_col, k=coarse_k, iters=coarse_iters, dim=dim
        )
        cb = pq_train_codebooks(
            emb, id_col=id_col, vec_col=vec_col, m=m, dim=dim, ksub=ksub, iters=iters
        )
    cells = assign_nearest(emb, coarse, id_col=id_col, vec_col=vec_col).select(
        F.col(id_col), F.col("cid").alias("cell_id")
    ).localCheckpoint()
    packed = (
        pq_encode(emb, cb, id_col=id_col, vec_col=vec_col, m=m, dim=dim)
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "cid"))),
                lambda s: s["cid"],
            ).alias("codes")
        )
        .join(cells, id_col)
    )
    # repartition by cell before the partitioned sinks: one writer task per
    # cell region -> one file per cell per build instead of
    # (shuffle partitions x cells) small files — the layout a 100 TB index
    # actually wants (and ~2x faster to land here). All sinks read
    # checkpoint-backed inputs, so they run as overlapped jobs (guide §2.6)
    cell_sinks = (
        lambda: packed.repartition("cell_id")
        .write.mode(mode)
        .partitionBy("cell_id")
        .parquet(f"{path}/codes"),
        lambda: emb.join(cells, id_col)
        .repartition("cell_id")
        .write.mode(mode)
        .partitionBy("cell_id")
        .parquet(f"{path}/vectors"),
    )
    if mode == "append":
        _parallel_writes(*cell_sinks)
        return
    _parallel_writes(
        lambda: coarse.write.mode("overwrite").parquet(f"{path}/centroids"),
        lambda: cb.write.mode("overwrite").parquet(f"{path}/codebooks"),
        *cell_sinks,
    )


def ivfpq_topk_from_artifact(
    spark,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 8,
    m: int = 32,
    dim: int = 64,
    refine: int = 150,
    k: int = 10,
) -> DataFrame:
    """Serve IVF-PQ top-k from a persisted ``write_ivfpq_artifact`` index:
    identical search tail to ``ivfpq_topk_audit`` (bit-identical results —
    probing, ADC, and refine are pure functions of the frozen quantizers
    and codes), but the scan starts from the cell-partitioned artifact:
    the ADC leg reads packed codes (unpacked back to stacked form by one
    posexplode) and the refine leg reads the vector store, both pruned to
    the probed cells' partition directories. Returns (query_id,
    neighbor_id, rank, __td) — callers grade or reshape."""
    coarse = spark.read.parquet(f"{path}/centroids")
    cb = spark.read.parquet(f"{path}/codebooks")
    packed = spark.read.parquet(f"{path}/codes")
    vectors = spark.read.parquet(f"{path}/vectors")
    # the cell-partitioned artifact layout already carries each vector's
    # cell — the serve's cell-blocked scan needs no join at all here
    codes = packed.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("cell_id").alias("__cell"),
        F.posexplode("codes").alias("sub", "cid"),
    )
    qd = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    qsv = pq_subvectors(queries, id_col=id_col, vec_col=vec_col, m=m, dim=dim).select(
        F.col(id_col).alias("query_id"), "sub", "subvec"
    )
    nv = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    probes = _l2_probes(qd, coarse, nprobe=nprobe)
    lut = _adc_lut(qsv, cb, "query_id")
    return _adc_refine(codes, probes, lut, qd, nv, refine=refine, k=k)


def ivfpq_residual_topk_audit(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_k: int = 25,
    coarse_iters: int = 2,
    nprobe: int = 8,
    m: int = 32,
    dim: int = 64,
    ksub: int = 16,
    iters: int = 2,
    refine: int = 150,
    k: int = 10,
) -> DataFrame:
    """RESIDUAL IVF-PQ (FAISS ``by_residual=True`` — the IndexIVFPQ
    default): the PQ codebooks are trained on x − centroid[cell(x)]
    instead of raw vectors, so the quantizer spends its 16 codewords per
    subspace on the WITHIN-cell distribution the coarse quantizer has
    already centered — the standard reason residual PQ beats flat PQ at
    the same bit budget. The serve cost is the one real difference: the
    ADC lookup table becomes per-(query, probed cell) (the query residual
    differs per cell), i.e. nprobe× the LUT build of the flat variant —
    still tiny (nprobe·m·ksub entries/query) and still zero extra corpus
    work. Same deterministic contracts as ``ivfpq_topk_audit`` (lowest-id
    inits, decimal means, strict-array-order folds, round-12 decimal ADC
    sums, id tie-breaks) and the same graded output: (query_id, rank,
    neighbor_id, d2, hit)."""
    emb = corpus.select(F.col(id_col), F.col(vec_col))
    coarse = kmeans_centroids(
        emb, id_col=id_col, vec_col=vec_col, k=coarse_k, iters=coarse_iters, dim=dim
    )
    cc = coarse.select(F.col("cid").alias("__cell"), F.col("cvec").alias("__ccv"))
    # the cell assignment feeds residualization AND the serve's cell carry —
    # checkpoint the narrow (id, cell) table once (at 100 TB this is the
    # cell-partitioned layout the artifact path persists anyway) so the
    # broadcast-assign pass over the checkpointed coarse table runs once,
    # and the residual table below is materialized once for its two
    # consumers (PQ training input + encode input) instead of re-deriving
    # emb ⋈ cells ⋈ centroids per consumer
    cellsraw = (
        assign_nearest(emb, coarse, id_col=id_col, vec_col=vec_col)
        .select(F.col(id_col), F.col("cid").alias("__cell"))
        .localCheckpoint()
    )
    res = (
        emb.join(cellsraw, id_col)
        .join(F.broadcast(cc), "__cell")
        .select(
            F.col(id_col),
            F.zip_with(
                F.col(vec_col), F.col("__ccv"), lambda x, c: x.cast("double") - c
            ).alias("__rv"),
            "__cell",
        )
    )
    cb = pq_train_codebooks(
        res, id_col=id_col, vec_col="__rv", m=m, dim=dim, ksub=ksub, iters=iters
    )
    cells = cellsraw.select(F.col(id_col).alias("neighbor_id"), "__cell")
    # codes carry their coarse cell (one co-partitioned id join at build),
    # so _adc_refine's ADC scan is cell-blocked, as in the flat serve
    codes = pq_encode(res, cb, id_col=id_col, vec_col="__rv", m=m, dim=dim).select(
        F.col(id_col).alias("neighbor_id"), "sub", "cid"
    ).join(cells, "neighbor_id")
    qd = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    probes = _l2_probes(qd, coarse, nprobe=nprobe)
    qres = (
        probes.join(F.broadcast(qd), "query_id")
        .join(F.broadcast(cc), "__cell")
        .select(
            "query_id",
            "__cell",
            F.zip_with(
                F.col("__qv"), F.col("__ccv"), lambda x, c: x.cast("double") - c
            ).alias("__qrv"),
        )
    )
    parts = _subvector_array(m, dim, "__qrv")
    qrsv = qres.select("query_id", "__cell", F.explode(parts).alias("__p")).select(
        "query_id", "__cell", F.col("__p.sub").alias("sub"),
        F.col("__p.subvec").alias("subvec"),
    )
    lut = _adc_lut(qrsv, cb, "query_id", "__cell")
    nv = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv"))
    refined = _adc_refine(codes, probes, lut, qd, nv, refine=refine, k=k)
    return _ivfpq_hit_tail(refined, qd, nv, k=k)
