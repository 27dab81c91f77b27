"""Deduplication operators (SURVEY.md §2.11 item 13; BASELINE.json north star).

Four tiers, all pure DataFrame expressions (no Python UDFs — every hash is a
JVM built-in inside whole-stage codegen):

- exact:      content hash (``sha2``) → keep deterministic representative
- near-dup:   word n-gram shingles → exact Jaccard on shingle-sharing pairs
- minhash:    MinHash signatures + LSH banding → candidates → exact verify
- simhash:    64-bit rotation-invariant fingerprint, hamming-bucket join

Scale notes (100 TB): the shingle-join (``ngram_jaccard_pairs``) is exact but
its candidate set grows with shingle collisions — fine when shingles are
discriminative (trigrams here), quadratic in the worst case. MinHash+LSH is
the scale path: signature size is constant per doc (128 longs), banding makes
candidate generation O(near-dup pairs), and each stage is a plain shuffle
Catalyst can size with AQE.

Each near-dup step has one private owner; the public entry points compose
them:

- ``_jaccard`` computes exact Jaccard from ``_sizes`` and ``_shared``
  (shared-shingle counts, which ``shingle_containment_pairs`` also uses);
  ``_jaccard_from_shingles`` is its self-join form (id_a < id_b).
- ``_band_buckets`` checks the band split and explodes signatures into
  (band, sig) buckets; ``_collisions`` joins two bucket tables on the
  bucket (``_self_collisions``: one table with itself, id_a < id_b) for
  the batch, portable, artifact, incremental and stream candidates.
- ``_endpoints`` lists a candidate list's documents, ``_serve`` fetches
  their text and ``_verify`` exact-verifies the candidates over it
  (``minhash_lsh_pairs``, ``minhash_pairs_from_artifact`` and the stream
  epoch step ``_minhash_epoch_pairs``, which lands the epoch's buckets
  through ``_write_epoch_buckets``).
- ``_token_base`` tokenizes for the span family (``_span_tokens``: NULL
  and blank text are empty), ``_window_digests`` digests its rolling
  windows, ``_merge_islands`` merges intervals into maximal extents,
  ``_span_audit`` rolls extents up per document and ``_scrub`` drops the
  covered tokens (stride-1 spans and cross-document substrings alike).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import ColumnOrName, _col, gateway_memo
from ..session import Rounds


def _spread(df: DataFrame, by: str | None = None) -> DataFrame:
    """Repartition to the session's default parallelism before expensive
    per-row projections.

    A single small parquet file arrives as one partition; without this, a
    128-expression MinHash signature (or a 63-pass SimHash) runs on one core.
    The decision is plan-only: no ``.rdd`` partition probe, which costs a
    scan codegen per call and, under AQE, runs the query stages of a plan
    with exchanges. Sizing the count from the data is open (ROADMAP item 2).

    ``by`` (optional): hash-partition on this column instead of round-robin.
    When the downstream pipeline's first aggregation is keyed on ``by``
    (the minhash signature groupBy, the shingle-size groupBy), the grouped
    aggregate reuses this exchange's partitioning (guide §2.4: repartition
    on the key followed by groupBy on the key shares one exchange) — and a
    keyed repartition also skips round-robin's sort-before-repartition
    pass (guide §2.5). Results are key-grouped either way; only partition
    ASSIGNMENT changes, never values.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if by is not None:
        return df.repartition(target, F.col(by))
    return df.repartition(target)


def _docs_by_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``df``'s documents as ``(__id, __t)`` rows, ``_spread`` by id: the
    base of every per-document shingle or signature pass keyed on id."""
    return _spread(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t")), by="__id"
    )


def content_hash(c: ColumnOrName, bits: int = 256) -> Column:
    """Lowercase-hex content hash; Spark ``sha2`` == DuckDB ``sha256``."""
    return F.sha2(_col(c), bits)


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content hash, keeping the min-id representative.

    groupBy on the hash (one shuffle, map-side partial agg); at 100 TB the
    hash groupBy beats sorting the raw text by orders of magnitude — the
    shuffle carries 32-byte digests, not documents.
    """
    h = content_hash(text_col).alias("__h")
    winners = (
        df.select(h, F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
    )
    # semi join back to retain full rows of representatives only
    return df.join(winners.select(id_col), id_col, "left_semi")


def word_shingles(text: ColumnOrName, n: int = 3, *, distinct: bool = True) -> Column:
    """Word n-gram shingles of a text column (distinct by default; pass
    ``distinct=False`` for frequency-sensitive uses like repetition scoring).

    ``split`` + self-``zip_with`` trick: shingle i = words[i..i+n-1], built
    with ``transform`` over an index sequence — all Catalyst expressions.
    """
    words = F.split(_col(text), r"\s+")
    k = F.size(words) - (n - 1)
    idx = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0)))
    shingle = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(words, (i + j + 1).cast("int")) for j in range(n)]),
    )
    if distinct:
        shingle = F.array_distinct(shingle)
    return F.when(k > 0, shingle).otherwise(F.array().cast("array<string>"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    min_jaccard: float = 0.5,
    persist_shingles: bool = False,
    max_df: int | None = None,
) -> DataFrame:
    """Exact near-dup pairs by n-gram Jaccard, blocked on shared shingles.

    ``persist_shingles`` defaults OFF here: this entry point shingles the
    FULL corpus (no candidate restriction), so the cached table is O(corpus
    shingles) — at 100 TB that is a second copy of the tokenized corpus in
    executor memory/disk for a one-shot saving, while recomputing the explode
    costs one extra scan of an already-columnar projection. (An earlier
    in-suite measurement claiming persist was 2× slower was confounded by
    CacheManager accumulation across the bench sweep — see cache_scope in
    session.py; clean-session difference is small either way.) The MinHash
    verification path persists its candidate-restricted table instead.

    explode(shingles) → self equi-join on shingle → count shared per pair →
    ``|A∩B| / (|A|+|B|-|A∩B|)``. Only pairs sharing ≥1 shingle ever meet,
    so the join *is* the blocking step. Output: (id_a, id_b, jaccard).

    ``max_df`` is the hot-shingle skew cap (VERDICT_r06 #2) — see
    ``_jaccard_from_shingles``. Default OFF: this entry point's declared
    role is the exact-baseline oracle twin; a Zipfian corpus at scale sets
    ``max_df`` (or routes to the MinHash path).
    """
    sh = _docs_by_id(df, text_col, id_col).select(
        "__id", F.explode(word_shingles("__t", n)).alias("__s")
    )
    return _jaccard_from_shingles(sh, min_jaccard, persist=persist_shingles, max_df=max_df)


def _hash_shingles(sh: DataFrame) -> DataFrame:
    """Replace the shingle STRING with its ``xxhash64`` before a shingle
    equi-join: the shuffle then carries (long, long) rows (~16 B) instead of
    (long, ~30-45 B string) — ~2-3× fewer shuffle bytes, and long equality
    instead of string comparison in the join. At local bench scale the wall
    clock is shuffle-latency-insensitive (measured parity, ~2.3 s either
    way at sf0.1 steady state); the win is the 100 TB shuffle bill. Set
    membership is hash-equality-stable, so shared counts (and therefore
    Jaccard/containment values) are unchanged absent a 64-bit collision
    (P ≈ S²/2⁶⁵ — negligible to ~10⁹ distinct shingles; a corpus with
    trillions of shingles should widen to a two-seed struct key, but that
    scale runs the MinHash path anyway)."""
    return sh.select("__id", F.xxhash64("__s").alias("__s"))


def _max_df_filter(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles occurring in more than ``max_df`` documents before a
    shingle self-equi-join (the hot-shingle skew cap, VERDICT_r06 #2).

    The self-join's pair work is Σ|bucket|² over shingle buckets; on a
    Zipfian corpus a handful of stop-shingles ("of the and"-grade n-grams
    appearing in a large fraction of documents) make those buckets
    quadratic at scale. Capping document frequency bounds EVERY bucket at
    ``max_df`` rows per side (≤ max_df² pairs), turning worst-case corpus²
    into corpus × max_df. Semantics: Jaccard/containment is then computed
    over the df-capped shingle SETS — sizes and shared counts both exclude
    the ubiquitous shingles, so the ratio stays internally consistent.
    Near-dup pairs share rare shingles overwhelmingly, so at a 0.5
    threshold the decision barely moves; exact-baseline callers default
    the cap OFF. The df aggregate is one grouped count over the already
    (id-distinct) shingle rows, and the semi-join back reuses the same
    ``__s`` partitioning the self-join needs anyway."""
    dfreq = sh.groupBy("__s").agg(F.count("*").alias("__df"))
    return sh.join(
        dfreq.filter(F.col("__df") <= max_df).select("__s"), "__s", "left_semi"
    )


def _sizes(sh: DataFrame) -> DataFrame:
    """Shingle-set size per document: ``(__id, __sz)``."""
    return sh.groupBy("__id").agg(F.count("*").alias("__sz"))


def _shared(
    a: DataFrame, b: DataFrame, ids: tuple[str, str], where: Column | None = None
) -> DataFrame:
    """Shared-shingle counts: the (__id, __s) tables ``a`` and ``b`` (aliased
    ``a``/``b``) equi-joined on the shingle, ``where`` narrowing the pair →
    ``(ids[0], ids[1], __shared)``. Only pairs sharing ≥ 1 shingle ever
    meet, so the join IS the blocking step."""
    on = F.col("a.__s") == F.col("b.__s")
    if where is not None:
        on = on & where
    return (
        a.alias("a")
        .join(b.alias("b"), on)
        .groupBy(F.col("a.__id").alias(ids[0]), F.col("b.__id").alias(ids[1]))
        .agg(F.count("*").alias("__shared"))
    )


def _jaccard(
    a: DataFrame,
    b: DataFrame,
    min_jaccard: float,
    ids: tuple[str, str],
    where: Column | None = None,
) -> DataFrame:
    """Exact Jaccard ``|A∩B| / (|A|+|B|-|A∩B|)`` between the shingle sets of
    the (__id, __s) tables ``a`` and ``b`` → ``(ids[0], ids[1], jaccard ≥
    min_jaccard)``; ``where`` narrows the pair as in ``_shared``."""
    sa = _sizes(a).select(F.col("__id").alias(ids[0]), F.col("__sz").alias("__sza"))
    sb = _sizes(b).select(F.col("__id").alias(ids[1]), F.col("__sz").alias("__szb"))
    return (
        _shared(a, b, ids, where)
        .join(sa, ids[0])
        .join(sb, ids[1])
        .withColumn(
            "jaccard",
            F.col("__shared") / (F.col("__sza") + F.col("__szb") - F.col("__shared")),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select(*ids, "jaccard")
    )


def _jaccard_from_shingles(
    sh: DataFrame,
    min_jaccard: float,
    *,
    persist: bool = True,
    max_df: int | None = None,
) -> DataFrame:
    """(id, shingle) pairs → (id_a, id_b, jaccard ≥ threshold).

    ``sh`` has three consumers (sizes, both self-join sides) and no exchange
    is reused between them — persist (spill-safe MEMORY_AND_DISK) so the
    shingle explode runs once; on the scale path callers have already
    semi-joined ``sh`` down to candidates (``minhash_lsh_pairs``). Callers
    that feed an ITERATIVE consumer (connected components) pass
    ``persist=False``: the loop's own checkpoints would keep the full
    shingle table pinned across every round for a one-shot saving.

    ``max_df`` (opt-in) applies the ``_max_df_filter`` hot-shingle cap
    BEFORE sizes/join, bounding self-join bucket skew on Zipfian corpora;
    when None (default) the exact full-set Jaccard is computed — corpora
    too skewed for that must either set the cap or route to the MinHash
    path (which is candidate-restricted by banding, not by this join)."""
    sh = _hash_shingles(sh)
    if max_df is not None:
        sh = _max_df_filter(sh, max_df)
    if persist:
        sh = sh.persist()
    return _jaccard(sh, sh, min_jaccard, ("id_a", "id_b"), F.col("a.__id") < F.col("b.__id"))


#: Mersenne prime 2^31 - 1: permutation arithmetic stays < 2^62, so it never
#: overflows a long — safe under ANSI mode (a raw a*h would throw there).
_MERSENNE31 = 2_147_483_647


def _permutation_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31)) for _ in range(num_hashes)]


#: Memoized signature-aggregate expression lists, keyed (num_hashes, seed).
#: Building 128 ``F.min(F.pmod(col*a+b, p))`` Columns costs ~800 ms of Py4J
#: round-trips PER CALL (measured; ~6 JVM calls per Column) and the minhash
#: family rebuilds the list for every query — and the streaming maintenance
#: protocols once per EPOCH. A single-parse ``F.expr`` string is ~20× cheaper
#: to build, and the memo (``gateway_memo``) makes repeat construction free.
#: The ``L`` suffixes pin long literals (the old ``F.lit(int)`` literals were
#: int32 and promoted to long inside the arithmetic — same values, same
#: result type).
@gateway_memo
def _sig_agg_exprs(num_hashes: int, seed: int) -> list[Column]:
    return [
        F.expr(f"min(pmod(__h * {a}L + {b}L, {_MERSENNE31}L)) AS mh_{i}")
        for i, (a, b) in enumerate(_permutation_params(num_hashes, seed))
    ]


#: Memoized LSH band arrays, keyed (bands, rows-per-band, fold): the
#: ``array(struct(band, fold(mh_...)))`` expression over a signature row
#: (same Py4J-construction argument as ``_sig_agg_exprs``).
@gateway_memo
def _band_bucket_array(bands: int, r: int, fold: str = "xxhash64") -> Column:
    def _one(band: int) -> str:
        cols = ", ".join(f"mh_{band * r + j}" for j in range(r))
        if fold == "xxhash64":
            sig = f"xxhash64({cols})"
        else:  # concat_ws string fold (the portable oracle-replayable form)
            sig = f"concat_ws('_', {cols})"
        return f"struct({band} AS band, {sig} AS sig)"

    return F.expr(f"array({', '.join(_one(b) for b in range(bands))})")


def _band_buckets(
    sig: DataFrame, num_hashes: int, bands: int, *carry: str, fold: str = "xxhash64"
) -> DataFrame:
    """Signature rows (``__id``, ``carry``, mh_0..mh_{k-1}) → LSH band-bucket
    rows ``(__id, *carry, __band, __sig)``: each signature explodes into
    ``bands`` rows whose ``__sig`` folds the band's r = num_hashes / bands
    minhashes (``_band_bucket_array``)."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    return sig.select(
        "__id", *carry, F.explode(_band_bucket_array(bands, r, fold)).alias("__b")
    ).select(
        "__id", *carry, F.col("__b.band").alias("__band"), F.col("__b.sig").alias("__sig")
    )


def _collisions(
    a: DataFrame, b: DataFrame, *ids: Column, where: Column | None = None
) -> DataFrame:
    """MinHash candidate pairs: rows of the band-bucket tables ``a`` and
    ``b`` (aliased ``a``/``b``) in the same (band, sig) bucket, ``where``
    narrowing the pair → the ``ids`` projection. NOT distinct'd: a pair
    colliding in k bands appears k times."""
    on = (F.col("a.__band") == F.col("b.__band")) & (F.col("a.__sig") == F.col("b.__sig"))
    if where is not None:
        on = on & where
    return a.alias("a").join(b.alias("b"), on).select(*ids)


def _self_collisions(buckets: DataFrame) -> DataFrame:
    """``_collisions`` of one band-bucket table with itself: ``(id_a,
    id_b)`` with id_a < id_b, once per shared band."""
    return _collisions(
        buckets,
        buckets,
        F.col("a.__id").alias("id_a"),
        F.col("b.__id").alias("id_b"),
        where=F.col("a.__id") < F.col("b.__id"),
    )


def _endpoints(cand: DataFrame, a: str = "id_a", b: str = "id_b") -> DataFrame:
    """The distinct documents named by a candidate pair list: ``(__id)``."""
    return (
        cand.select(F.col(a).alias("__id"))
        .union(cand.select(F.col(b).alias("__id")))
        .distinct()
    )


def _serve(docs: DataFrame, text_col: str, id_col: str, cand_docs: DataFrame) -> DataFrame:
    """The candidate documents' text ``(__id, __t)``, spread by id. The
    broadcast semi-join runs BEFORE the parallelism repartition, at the
    scan, so the exchange carries only candidate documents' payloads,
    never the whole corpus (guide §2.3 — filter before the exchange)."""
    return _spread(
        docs.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
        .join(F.broadcast(cand_docs), "__id", "left_semi"),
        by="__id",
    )


def _verify(
    served: DataFrame, cand: DataFrame, *, n: int, min_jaccard: float, persist: bool
) -> DataFrame:
    """Exact-Jaccard verification of MinHash candidates ``cand`` (id_a,
    id_b) over their endpoints' text ``served`` (``_serve``): shingle, the
    blocked exact Jaccard, then a semi-join back to the candidates →
    ``(id_a, id_b, jaccard)``. Band collisions never reach the output
    unverified, and exact pairs the banding missed never enter it. The
    shingle equi-join touches only matches; joining the two full shingle
    LISTS per pair would materialize |A|×|B| rows per candidate."""
    sh = served.select("__id", F.explode(word_shingles("__t", n)).alias("__s"))
    return _jaccard_from_shingles(sh, min_jaccard, persist=persist).join(
        cand, ["id_a", "id_b"], "left_semi"
    )


def minhash_signatures_agg(
    exploded: DataFrame,
    *,
    id_col: str = "__id",
    shingle_col: str = "__s",
    num_hashes: int = 128,
    seed: int = 7,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, shingle) rows → one row per id with mh_0..mh_{k-1}.

    One string hash per shingle (``xxhash64``), then k affine permutations
    ``(a·h + b) mod p`` folded by ``min`` aggregates — map-side partial
    aggregation shrinks each partition to one signature row per id before the
    shuffle, which is what makes this the 100 TB shape.

    ``carry_cols`` ride along as extra grouping keys (functionally dependent
    on the id — e.g. a batch/side tag), so callers don't need a post-join to
    reattach them.
    """
    h = F.pmod(F.xxhash64(F.col(shingle_col)), F.lit(_MERSENNE31))
    ex = exploded.withColumn("__h", h)
    aggs = _sig_agg_exprs(num_hashes, seed)
    return ex.groupBy(id_col, *carry_cols).agg(*aggs)


def minhash_band_buckets(
    base: DataFrame,
    *,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
) -> DataFrame:
    """(__id, __t) rows → LSH band-bucket rows ``(__id, __band, __sig)``.

    Exploded-aggregate signatures (map-side partial agg reduces each doc to
    one signature row before the shuffle), then ``_band_buckets``. This
    bucket table — ~3 longs × bands per doc — IS the dedup service's
    persistent artifact (see ``write_minhash_artifact``)."""
    exploded = base.select("__id", F.explode(word_shingles("__t", n)).alias("__s"))
    with_sig = minhash_signatures_agg(exploded, num_hashes=num_hashes)
    return _band_buckets(with_sig, num_hashes, bands)


def write_minhash_artifact(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    *,
    mode: str = "overwrite",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
) -> None:
    """Materialize the LSH band-bucket table as a parquet ARTIFACT — the
    operational loop around ``minhash_lsh_pairs``: sign each corpus batch
    ONCE, land ~100 B/doc of buckets, and never re-shingle accepted
    documents again. ``mode="append"`` is the incremental maintenance path
    (new batch → new bucket rows); signatures are pure functions of the
    text, so appends never invalidate existing rows."""
    buckets = minhash_band_buckets(
        _docs_by_id(df, text_col, id_col), n=n, num_hashes=num_hashes, bands=bands
    )
    buckets.write.mode(mode).parquet(path)


def _write_epoch_buckets(
    batch: DataFrame, text_col: str, id_col: str, epoch_id: int, path: str
) -> None:
    """One stream epoch's band-bucket rows → the artifact's ``__epoch=<id>``
    partition (``write_epoch_overwrite``: a replayed epoch rewrites its own
    partition instead of appending its rows twice)."""
    from ..streaming.sinks import write_epoch_overwrite

    buckets = minhash_band_buckets(_docs_by_id(batch, text_col, id_col))
    write_epoch_overwrite(buckets, epoch_id, path)


def _minhash_epoch_pairs(
    batch: DataFrame,
    docs: DataFrame,
    text_col: str,
    id_col: str,
    epoch_id: int,
    path: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The candidate-and-verify step of one streaming MinHash epoch: land
    ``batch``'s buckets (``_write_epoch_buckets``), join the epoch's own
    bucket PARTITION (a partition-pruned scan) against the whole artifact
    — new×old and new×new pairs only, never a full-history re-pair — and
    exact-verify those candidates over ``docs`` (3-shingles, Jaccard ≥
    0.5). Every pair is emitted in its LATER endpoint's epoch.

    Returns ``(cand, served, verified)``: the candidate pairs and the
    endpoints' text ``(__id, __t)`` are localCheckpoints, so the band join
    against the whole artifact and the serve run once per epoch whatever
    reads them (the caller frees both once every consumer has
    materialized); ``verified`` is (id_a, id_b, jaccard). The candidate
    list keeps band-collision duplicates: both of its consumers (the
    endpoint serve and the verify semi-join) are duplicate-insensitive.
    ``docs`` only serves text for ids already streamed: candidates come
    from artifact buckets."""
    _write_epoch_buckets(batch, text_col, id_col, epoch_id, path)
    buckets = docs.sparkSession.read.parquet(path)
    cand = _collisions(
        buckets.filter(F.col("__epoch") == int(epoch_id)),
        buckets,
        F.least("a.__id", "b.__id").alias("id_a"),
        F.greatest("a.__id", "b.__id").alias("id_b"),
        where=F.col("a.__id") != F.col("b.__id"),
    ).localCheckpoint()
    served = _serve(docs, text_col, id_col, _endpoints(cand)).localCheckpoint()
    return cand, served, _verify(served, cand, n=3, min_jaccard=0.5, persist=False)


def minhash_pairs_from_artifact(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    artifact_path: str,
    *,
    n: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Near-dup pairs computed FROM the persisted bucket artifact: the band
    self-join runs over the parquet table (no re-shingling, and genuinely
    no persist — the artifact replaces the cache), and only exact
    verification touches document text, restricted to candidates.
    Identical output to ``minhash_lsh_pairs`` over the same corpus, by
    construction — the declared query pins that equivalence against the
    exact oracle.

    Why this variant needs zero caching where ``minhash_lsh_pairs`` needs
    three persists: every subtree below re-reads the cheap parquet
    artifact instead of re-running the shingle→signature pipeline, and the
    plan is shaped so each expensive subtree has exactly ONE consumer —
    candidate DOCS come from bucket occupancy (``groupBy`` on the
    artifact: a doc is a candidate iff any of its (band, sig) buckets
    holds ≥2 docs — the same set as the union of pair endpoints, since
    pairs are exactly the within-bucket combinations), so the band
    SELF-JOIN is consumed only by the final semi-join and is evaluated
    once. A leak-free storage-status assert pins this
    (``test_dedup.py::test_artifact_pairs_leave_no_cached_blocks``)."""
    spark = docs.sparkSession
    buckets = spark.read.parquet(artifact_path)
    candidates = _self_collisions(buckets)
    crowded = (
        buckets.groupBy("__band", "__sig")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("__band", "__sig")
    )
    cand_docs = (
        buckets.join(crowded, ["__band", "__sig"], "left_semi").select("__id").distinct()
    )
    # each of the verify leg's consumers re-evaluates the serve (no caching
    # here by design); its broadcast semi-join keeps every evaluation to the
    # candidate documents
    served = _serve(docs, text_col, id_col, cand_docs)
    return _verify(served, candidates, n=n, min_jaccard=min_jaccard, persist=False)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, verified with exact Jaccard.

    rows per band = num_hashes / bands. Detection probability for a pair at
    Jaccard j is ``1 - (1 - j^r)^b``; with (b=32, r=4), j=0.5 → 0.88,
    j=0.8 → ~1.0. Candidates are verified exactly, so false positives cost
    one Jaccard evaluation and never reach the output.

    Pipeline: shingle → 128-col signature → explode to (band_id, band_hash)
    → pairs within bucket → exact verify.
    """
    base = _docs_by_id(df, text_col, id_col)
    buckets = minhash_band_buckets(base, n=n, num_hashes=num_hashes, bands=bands)

    # The self-join below consumes `buckets` twice, and Spark does NOT reuse
    # the exchange across the two sides — without a persist the whole scan →
    # shingle → 128-min signature pipeline runs twice (verified in the
    # physical plan: two identical HashAggregate subtrees). The bucket table
    # is ~3 longs × bands per doc (~100 B/doc at bands=32) — persisting it is
    # exactly the artifact a production dedup service materializes anyway.
    # Cache lifetime is CALLER-owned: wrap the consuming action in
    # session.cache_scope (or clearCache) — the CacheManager does not release
    # these entries when the Python objects go away.
    buckets = buckets.persist()

    # Two consumers read `candidates` (the endpoint serve and the final
    # semi-join): without a persist the whole LSH stage — scan → shingle →
    # signatures → band self-join — is evaluated twice. The pair list is tiny
    # (near-dup suspects only), so caching it is safe at any scale. Both
    # consumers tolerate band-collision duplicates, so no distinct.
    candidates = _self_collisions(buckets).persist()
    # `base` above spreads the full corpus because the signature pass
    # genuinely reads every document; the verify leg serves candidates only
    served = _serve(df, text_col, id_col, _endpoints(candidates))
    return _verify(served, candidates, n=n, min_jaccard=min_jaccard, persist=True)


def minhash_band_pairs_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 7,
) -> DataFrame:
    """The UNVERIFIED LSH banding candidate set, computed with the
    portable-hash discipline so an external oracle can replay it row for
    row — the measurement instrument behind ``minhash_blocking_quality``
    (VERDICT_r07 #5: the banding recall certificate for the production
    MinHash path).

    Two deliberate substitutions versus ``minhash_band_buckets``, neither
    changing the banding STRUCTURE (same shingles, same affine
    permutations from ``_permutation_params(num_hashes, seed)``, same
    band/row split, same bucket-equality candidate rule):

    - base shingle hash: md5-60 (``_token_hash(..., "md5_60")``) mod p
      instead of ``xxhash64`` mod p — DuckDB lacks xxhash64, and the
      recall being certified is a property of banding k random
      permutations, not of which uniform base hash feeds them;
    - bucket key: the band's r minhash values folded with
      ``concat_ws('_')`` into one string instead of an xxhash64 fold —
      removes the one remaining engine-specific function. The string fold
      is INJECTIVE for these non-negative pmod outputs ('_' cannot occur
      inside a decimal rendering), so bucket equality is exactly r-tuple
      equality — the property the oracle replays with the same concat.

    Output: distinct candidate pairs (id_a < id_b) — NOT Jaccard-verified;
    feeding them through the exact verifier is precisely what the audit
    measures the need for.
    """
    base = _docs_by_id(df, text_col, id_col)
    exploded = base.select("__id", F.explode(word_shingles("__t", n)).alias("__s"))
    ex = exploded.withColumn(
        "__h", F.pmod(_token_hash(F.col("__s"), "md5_60"), F.lit(_MERSENNE31))
    )
    sig = ex.groupBy("__id").agg(*_sig_agg_exprs(num_hashes, seed))
    # two join sides read this; localCheckpoint (not persist) so the blocks
    # are ContextCleaner-owned — no CacheManager entry for the caller to
    # leak (ADVICE_r08: the only caller never unpersisted)
    buckets = _band_buckets(sig, num_hashes, bands, fold="concat_ws").localCheckpoint()
    return _self_collisions(buckets).distinct()


def minhash_lsh_pairs_incremental(
    old_df: DataFrame,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Incremental MinHash dedup: find near-dups of a NEW batch against an
    EXISTING corpus without ever comparing corpus-vs-corpus — the shape a
    continuously-ingesting training pipeline actually runs (each crawl
    snapshot dedups against everything already accepted).

    Both sides get banded signatures; the candidate join is new-bands ×
    old-bands only, so per-batch cost is O(|new| + matching buckets), not
    O(|corpus|²). At production scale the old side's (band, sig, id) table is
    a *persisted* artifact — appended to as batches are accepted, never
    recomputed — and since it carries band hashes rather than text, it stays
    ~100 bytes/doc; here it is derived inline so the declared query is
    self-contained. Candidates are exact-Jaccard verified (same contract as
    ``minhash_lsh_pairs``). Output: (new_id, old_id, jaccard).
    """
    # One signature pass over the UNION with a side tag (carried through the
    # signature groupBy): separate old/new pipelines would scan, shingle and
    # aggregate twice for the same total rows — measured ~2× the wall of the
    # union form at sf0.1. In steady-state production the old side's bucket
    # table is read from its persisted artifact instead of recomputed; the
    # union form is the self-contained equivalent with the same join shape.
    tagged = old_df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t"), F.lit(False).alias("__is_new")
    ).unionByName(
        new_df.select(
            F.col(id_col).alias("__id"), F.col(text_col).alias("__t"), F.lit(True).alias("__is_new")
        )
    )
    base = _spread(tagged, by="__id")
    exploded = base.select("__id", "__is_new", F.explode(word_shingles("__t", n)).alias("__s"))
    sig = minhash_signatures_agg(exploded, num_hashes=num_hashes, carry_cols=("__is_new",))
    # two filtered consumers below; see minhash_lsh_pairs
    buckets = _band_buckets(sig, num_hashes, bands, "__is_new").persist()
    candidates = (
        _collisions(
            buckets.filter(F.col("__is_new")),
            buckets.filter(~F.col("__is_new")),
            F.col("a.__id").alias("new_id"),
            F.col("b.__id").alias("old_id"),
        )
        .distinct()
        .persist()
    )
    # the two sides are disjoint corpora: a two-sided Jaccard, no id ordering
    sh = (
        base.join(F.broadcast(_endpoints(candidates, "new_id", "old_id")), "__id", "left_semi")
        .select("__id", "__is_new", F.explode(word_shingles("__t", n)).alias("__s"))
        .persist()
    )
    verified = _jaccard(
        _hash_shingles(sh.filter(F.col("__is_new"))),
        _hash_shingles(sh.filter(~F.col("__is_new"))),
        min_jaccard,
        ("new_id", "old_id"),
    )
    return verified.join(candidates, ["new_id", "old_id"], "left_semi")


def simhash64(text: ColumnOrName, *, use_bits: int = 63) -> Column:
    """SimHash fingerprint over whitespace tokens (rotation-invariant near-dup
    sketch). Per bit b: sign of Σ_tokens (bit_b(xxhash64(token)) ? +1 : -1);
    the fingerprint packs the signs. Pure expressions: one ``transform`` to
    hash tokens, then 63 ``aggregate``-free bit sums via ``filter``+``size``.

    ``use_bits=63`` keeps the result in a signed long without overflow.
    """
    tokens = F.split(_col(text), r"\s+")
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    total = F.size(hashes)

    def _ones(bit: int) -> Column:
        # single-parameter lambda only: a second (even defaulted) parameter
        # would become the array-index variable
        return F.size(F.filter(hashes, lambda h: F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1))

    out = F.lit(0).cast("long")
    for bit in range(use_bits):
        bit_set = (_ones(bit) * 2) > total  # majority of tokens have this bit set
        out = out + F.when(bit_set, F.lit(2**bit).cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def _token_hash(tok: Column, hasher: str) -> Column:
    """Token → long hash for SimHash. ``"xxhash64"`` (default): fastest,
    engine-specific — results have no cross-engine twin. ``"md5_60"``: the
    portable-hash discipline (``sampling.portable_hash``) widened to 60 bits
    — ``conv(substr(md5(tok), 1, 15), 16, 10)``, bit-identical in DuckDB as
    ``CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)`` — so the whole
    SimHash pipeline becomes oracle-checkable. md5 costs ~2-3× xxhash64 per
    token; production dedup keeps xxhash64, correctness gates use md5_60."""
    if hasher == "xxhash64":
        return F.xxhash64(tok)
    if hasher == "md5_60":
        return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")
    raise ValueError(f"unknown hasher {hasher!r}")


def simhash_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    use_bits: int = 63,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Per-document SimHash via the exploded-aggregate shape: explode tokens,
    hash each once, then ``use_bits`` conditional ±1 sums with map-side
    partial aggregation; pack sign bits into a long.

    Same result as the ``simhash64`` expression, but the per-row expression
    tree stays small enough for whole-stage codegen and the bit sums
    parallelize across partitions (the 100 TB shape, mirroring
    ``minhash_signatures_agg``). With ``hasher="md5_60"`` (pass
    ``use_bits<=60``) the fingerprints are portable across engines — see
    ``_token_hash``.
    """
    base = _spread(df.select(F.col(id_col), F.col(text_col)), by=id_col)
    ex = base.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("__tok")
    ).withColumn("__h", _token_hash(F.col("__tok"), hasher))
    sums = ex.groupBy(id_col).agg(*_simhash_agg_exprs(use_bits))
    return sums.select(F.col(id_col), _simhash_pack_expr(use_bits).alias("simhash"))


#: Memoized SimHash expression lists (same Py4J-construction argument as
#: _sig_agg_exprs: the 63 bit-sum aggregates + the 63-term sign pack cost
#: ~950 ms to build naively, per call). Values identical: sum(if(bit, 1,
#: -1)) == sum(when(bit == 1, 1).otherwise(-1)); the pack is the same
#: long-literal conditional sum.
@gateway_memo
def _simhash_agg_exprs(use_bits: int) -> list[Column]:
    return [
        F.expr(f"sum(if((shiftright(__h, {b}) & 1) = 1, 1, -1)) AS __b{b}")
        for b in range(use_bits)
    ]


@gateway_memo
def _simhash_pack_expr(use_bits: int) -> Column:
    terms = " + ".join(f"if(__b{b} > 0, {2 ** b}L, 0L)" for b in range(use_bits))
    return F.expr(f"cast(0 as bigint) + {terms}")


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_hamming: int = 3,
    bands: int = 4,
    use_bits: int = 63,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ ``max_hamming``.

    Band blocking (pigeonhole): split the fingerprint into ``bands``
    contiguous bit ranges — any pair within hamming ≤ bands-1 agrees exactly
    on ≥1 band, so a band equi-join finds ALL such pairs (no recall loss,
    unlike probabilistic LSH). Candidates verified with
    ``bit_count(a XOR b)``. Output: (id_a, id_b, hamming).
    """
    if max_hamming >= bands:
        raise ValueError("pigeonhole guarantee requires max_hamming < bands")
    fp = simhash_fingerprints(df, text_col, id_col, use_bits=use_bits, hasher=hasher)
    width = -(-use_bits // bands)
    mask = (1 << width) - 1
    band_cols = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftright(F.col("simhash"), i * width).bitwiseAND(F.lit(mask)).alias("val"),
        )
        for i in range(bands)
    ]
    buckets = fp.select(
        F.col(id_col).alias("__id"), F.col("simhash"), F.explode(F.array(*band_cols)).alias("__b")
    ).select("__id", "simhash", F.col("__b.band").alias("__band"), F.col("__b.val").alias("__val"))
    # persist: the self-join's two sides would otherwise each recompute the
    # 63-bit-sum fingerprint aggregation (no exchange reuse; see
    # minhash_lsh_pairs). ~4 longs × bands per doc.
    buckets = buckets.persist()
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__val") == F.col("b.__val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iter: int = 50,
    dedup_edges: bool = True,
) -> DataFrame:
    """Connected components over an undirected pair list → ``(id,
    component_id)`` with ``component_id`` = min node id in the component (the
    canonical-representative convention: dedup keeps doc ``component_id``,
    drops the rest).

    Iterative min-label propagation with a pointer-jumping step (labels
    propagate one hop through edges AND one hop through the current labels
    per round) — converges in O(log diameter) rounds; near-dup clusters have
    tiny diameters, so this is 2-4 rounds in practice. Each round is one
    grouped min over (neighbor labels ∪ own label) plus the pointer-jump
    self-join, over (id, label) pairs only — never the document payloads —
    and the previous label rides through the round so the convergence test
    is a scan of the fresh checkpoint, not a join against the old table.
    ``localCheckpoint`` truncates the plan each round (iterative lineage
    otherwise grows exponentially; a cluster job would use reliable
    ``checkpoint`` instead). The per-round convergence ``count()``
    is the documented exception to the no-driver-collect rule: one scalar
    per iteration, the same contract as any Pregel-style loop. The
    alternating large-star/small-star formulation (Kiveris et al.,
    "Connected Components in MapReduce") is the same number of shuffles per
    round with better skew behavior on giant components; swap in if one
    component ever spans a meaningful fraction of the corpus.

    Checkpoints follow ``session.Rounds``: each round is one cut, every 6th
    launders Catalyst's size estimate (the pointer jump SELF-JOINS the
    evolving table, so the inherited estimate squares every round), and
    superseded rounds and the edge list are freed deterministically. The
    RETURNED frame stays backed by the final round's checkpoint; callers
    that hold state across epochs free it themselves when superseded.
    """
    edges = pairs.select(F.col(src).alias("s"), F.col(dst).alias("d")).union(
        pairs.select(F.col(dst).alias("s"), F.col(src).alias("d"))
    )
    if dedup_edges:
        # duplicates never change the labels (min is idempotent) but they
        # inflate every round's neighbor join; callers whose pair list is
        # distinct and normalized (src < dst) can skip this exchange —
        # the two symmetrized directions cannot collide (dedup_edges=False)
        edges = edges.distinct()
    comp = None
    with Rounds(launder_every=6) as rounds:
        edges = rounds.hold(edges)
        for _ in range(max_iter):
            # min label among neighbors (one hop through edges); the node's
            # own previous label rides through the round as `old`, so the
            # convergence test below is a scan of this round's checkpoint
            # instead of a join back against the previous table (guide
            # §2.4 — the per-round convergence join was two extra
            # exchanges). A fused union-then-one-groupBy form of this step
            # was tried and reverted: it shuffles |neighbor contribs| +
            # |nodes| rows where this shape's grouped min partial-aggs the
            # join output and the left join stays on the small label table
            # — floors read ~1.5-2 s worse per query on the CC-heavy family.
            if comp is None:
                # round 1 fused (guide §2.4): with the identity labeling
                # comp₀(id) = id, the neighbor min is just min(d) per s — the
                # materialized identity table (a distinct + localCheckpoint
                # per CC call) and round 1's join against it collapse into
                # one grouped min over the edge list. Labels are identical:
                # every node appears as `s` (edges are symmetric by
                # construction), so least(s, min(d)) == least(comp₀,
                # coalesce(nbr_min, comp₀)).
                stepped = (
                    edges.groupBy("s")
                    .agg(F.min("d").alias("nbr_comp"))
                    .select(
                        F.col("s").alias("id"),
                        F.col("s").alias("old"),
                        F.least("s", "nbr_comp").alias("comp"),
                    )
                )
            else:
                nbr = (
                    edges.join(comp.select(F.col("id").alias("d"), "comp"), "d")
                    .groupBy("s")
                    .agg(F.min("comp").alias("nbr_comp"))
                    .select(F.col("s").alias("id"), "nbr_comp")
                )
                stepped = comp.join(nbr, "id", "left").select(
                    "id",
                    F.col("comp").alias("old"),
                    F.least("comp", F.coalesce("nbr_comp", F.col("comp"))).alias("comp"),
                )
            # pointer jump: comp <- comp(comp), halving chain lengths
            jumped = rounds.cut(
                stepped.join(
                    stepped.select(F.col("id").alias("comp"), F.col("comp").alias("comp2")),
                    "comp",
                ).select("id", "old", F.least("comp", "comp2").alias("comp"))
            )
            # convergence: label != previous label, read straight off the
            # just-materialized checkpoint — no join, no shuffle
            changed = jumped.filter(F.col("comp") != F.col("old")).count()
            # the (id, comp) projection keeps `old` internal; freeing a
            # checkpoint descends through projections, so per-epoch
            # callers free the returned frame directly
            comp = jumped.select("id", "comp")
            if changed == 0:
                return comp
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def boilerplate_shingle_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    min_docs: int = 3,
) -> DataFrame:
    """Cross-document boilerplate exposure: per document, how many of its
    distinct n-gram shingles occur in ≥ ``min_docs`` distinct documents
    corpus-wide → ``(id, n_shingles, n_boilerplate, boilerplate_ratio)``.

    The C4/RefinedWeb-style "repeated across the corpus → it's template,
    not content" signal, at shingle granularity (line granularity is the
    same pipeline with a ``\\n`` split). ONE pass over the corpus: explode
    shingles, doc-frequency via ``count() OVER (PARTITION BY shingle)``,
    then the per-doc rollup — two shuffles, one scan, and the shuffle
    carries (shingle, id) pairs, never documents. (The earlier
    groupBy-docfreq + rejoin shape computed the scan→split→shingle pipeline
    twice — Spark reuses no exchange between the agg and join sides because
    the agg's exchange carries partially-aggregated rows.) Skew note: a
    corpus-wide boilerplate shingle puts all its (id, shingle) rows in one
    window partition; the count-only frame streams them (no per-row state
    beyond the count), and a corpus where single shingles reach billions of
    docs should pre-aggregate with the groupBy+join shape plus AQE skew-join
    instead — that variant is one ``persist`` of ``sh`` away.
    """
    sh = _spread(df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))).select(
        "__id", F.explode(word_shingles("__t", n)).alias("__s")
    )
    with_df = sh.withColumn("__df", F.count("*").over(Window.partitionBy("__s")))
    return (
        with_df.groupBy("__id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("__df") >= min_docs, 1).otherwise(0)).alias(
                "n_boilerplate"
            ),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_shingles",
            F.col("n_boilerplate").cast("long").alias("n_boilerplate"),
            F.round(F.col("n_boilerplate") / F.col("n_shingles"), 6).alias(
                "boilerplate_ratio"
            ),
        )
    )


def duplicate_chunk_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    chunk_tokens: int = 10,
    max_occurrences: int = 1,
) -> DataFrame:
    """Sub-document exact dedup (the C4 "repeated three-sentence span" rule
    at token-window granularity): split each document into NON-overlapping
    ``chunk_tokens``-token windows, count each chunk's occurrences
    corpus-wide, and drop every chunk occurring more than
    ``max_occurrences`` times → per-document surviving stats
    ``(id, total_chunks, kept_chunks, total_tokens, kept_tokens,
    kept_ratio)``.

    Document-level dedup (``dedup_exact``) misses the common real-world
    case — distinct pages sharing duplicated spans (syndicated paragraphs,
    licence blocks, quoted threads); this is the finer-grained filter that
    C4/RefinedWeb actually ship. One corpus scan: chunk via
    ``packing.chunk_by_tokens`` (overlap=0 → exact partition of the token
    stream), occurrence count via ``count() OVER (PARTITION BY digest)`` —
    the single-scan window shape proven in ``boilerplate_shingle_stats`` —
    then the per-doc rollup. The window shuffle carries
    ``(id, n_tokens, sha2-digest)``, never chunk text; a pathological chunk
    repeated across billions of docs streams through the count-only frame
    (no per-row state), same skew posture as boilerplate stats.
    """
    from .packing import chunk_by_tokens

    chunks = chunk_by_tokens(
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t")),
        "__id",
        "__t",
        max_tokens=chunk_tokens,
        overlap=0,
    ).select(
        "__id",
        F.col("chunk_tokens").alias("__ct"),
        F.sha2(F.col("chunk_text"), 256).alias("__dig"),
    )
    occ = chunks.withColumn("__occ", F.count("*").over(Window.partitionBy("__dig")))
    kept = F.when(F.col("__occ") <= max_occurrences, F.lit(1)).otherwise(F.lit(0))
    return (
        occ.groupBy("__id")
        .agg(
            F.count("*").alias("total_chunks"),
            F.sum(kept).cast("long").alias("kept_chunks"),
            F.sum("__ct").cast("long").alias("total_tokens"),
            F.sum(kept * F.col("__ct")).cast("long").alias("kept_tokens"),
        )
        .select(
            F.col("__id").alias(id_col),
            "total_chunks",
            "kept_chunks",
            "total_tokens",
            "kept_tokens",
            F.when(
                F.col("total_tokens") > 0,
                F.round(F.col("kept_tokens") / F.col("total_tokens"), 6),
            ).alias("kept_ratio"),
        )
    )


def _span_tokens(text: ColumnOrName) -> Column:
    """The repo-wide tokenization convention (trim, NULL or empty → [], else
    split on runs of whitespace) — shared by the span family and
    ``packing.chunk_by_tokens``.
    NULL tokenizes as ``""`` does: ``size(NULL)`` is -1 with ANSI off and
    NULL with ANSI on, so a NULL token array would make every count
    session-dependent."""
    t = F.coalesce(F.trim(_col(text)), F.lit(""))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def _token_base(df: DataFrame, text: Column, id_col: str) -> DataFrame:
    """Every document's tokens (``_span_tokens``): ``(__id, __n, __tok)``."""
    return df.select(
        F.col(id_col).alias("__id"), _span_tokens(text).alias("__tok")
    ).select("__id", F.size("__tok").alias("__n"), "__tok")


def _window_digests(base: DataFrame, L: int, digest) -> DataFrame:
    """Rolling digests of every stride-1 ``L``-token window of ``base``
    (``_token_base``): ``(__id, __p, __h)`` with ``__h`` = ``digest`` of the
    window's space-joined tokens, built doc-side (the digest crosses the
    shuffle, the window text never does)."""
    return base.filter(F.col("__n") >= L).select(
        "__id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("__n") - L),
                lambda i: digest(F.concat_ws(" ", F.slice("__tok", i + 1, L))),
            )
        ).alias("__p", "__h"),
    )


def _merge_islands(spans: DataFrame) -> DataFrame:
    """Gaps-and-islands merge of overlapping or adjacent token intervals
    ``(__sid, __ss, __se)`` per document ``__sid`` into the maximal extents
    (0-based inclusive positions): running ``max(end)`` over preceding rows
    → new-island flag → cumulative sum → per-island min/max. The (ss, se)
    order makes the running max deterministic under tied starts."""
    w = Window.partitionBy("__sid").orderBy("__ss", "__se")
    prev_end = F.max("__se").over(w.rowsBetween(Window.unboundedPreceding, -1))
    return (
        spans.withColumn(
            "__new",
            F.when(F.col("__ss") > F.coalesce(prev_end, F.lit(-2)) + 1, 1).otherwise(0),
        )
        .withColumn("__isl", F.sum("__new").over(w))
        .groupBy("__sid", "__isl")
        .agg(F.min("__ss").alias("__ss"), F.max("__se").alias("__se"))
        .select("__sid", "__ss", "__se")
    )


def _span_audit(base: DataFrame, spans: DataFrame, id_col: str) -> DataFrame:
    """Per-document rollup of merged extents ``spans`` over every document of
    ``base`` → ``(id, n_tokens, n_dup_spans, dup_tokens, max_span_tokens,
    dup_ratio)``; a document without extents reads 0 (ratio NULL when it
    has no tokens)."""
    meta = base.select("__id", "__n")
    per = spans.groupBy("__sid").agg(
        F.count("*").cast("long").alias("n_dup_spans"),
        F.sum(F.col("__se") - F.col("__ss") + 1).cast("long").alias("dup_tokens"),
        F.max(F.col("__se") - F.col("__ss") + 1).cast("long").alias("max_span_tokens"),
    )
    return meta.join(per, meta["__id"] == per["__sid"], "left").select(
        F.col("__id").alias(id_col),
        F.col("__n").cast("long").alias("n_tokens"),
        F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.coalesce("max_span_tokens", F.lit(0)).cast("long").alias("max_span_tokens"),
        F.when(
            F.col("__n") > 0,
            F.round(
                F.coalesce("dup_tokens", F.lit(0)).cast("double") / F.col("__n"), 6
            ),
        ).alias("dup_ratio"),
    )


def _scrub(base: DataFrame, spans: DataFrame, id_col: str, *carry: str) -> DataFrame:
    """Cover-and-scrub: drop every token of ``base`` (``__id, __n, __tok``
    and the ``carry`` columns) covered by an extent of ``spans`` (``__sid,
    __ss, __se``) → ``(id, n_tokens, kept_tokens, *carry, cleaned_text)``.
    The extents join back per doc as a collected interval list (bounded by
    doc length), and a single nested HOF pass — ``filter`` with the index
    lambda over the token array, ``exists`` over the interval list — keeps
    exactly the uncovered tokens; the apply join moves only ``(id, ss,
    se)`` intervals to the data."""
    cover = spans.groupBy("__sid").agg(
        F.collect_list(F.struct("__ss", "__se")).alias("__cover")
    )
    joined = base.join(cover, base["__id"] == cover["__sid"], "left").select(
        "__id",
        "__n",
        "__tok",
        *carry,
        F.coalesce(
            "__cover", F.array().cast("array<struct<__ss:int,__se:int>>")
        ).alias("__cover"),
    )
    kept = F.filter(
        "__tok",
        lambda tok, i: ~F.exists(
            "__cover", lambda s: (i >= s["__ss"]) & (i <= s["__se"])
        ),
    )
    return joined.select(
        F.col("__id").alias(id_col),
        F.col("__n").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("kept_tokens"),
        *carry,
        F.array_join(kept, " ").alias("cleaned_text"),
    )


def _duplicated_token_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    window_tokens: int,
    max_occurrences: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared core of the span-dedup family: stride-1 rolling
    ``window_tokens``-token window digests → corpus-wide occurrence count →
    per-doc gaps-and-islands merge. Returns ``(base, spans)``: base =
    ``_token_base`` for every document, spans = the MAXIMAL merged
    duplicated extents ``(__sid, __ss, __se)``. See
    ``duplicated_span_extents`` for the scale analysis."""
    if window_tokens < 2:
        raise ValueError(f"need window_tokens >= 2, got {window_tokens}")
    L = window_tokens
    base = _token_base(df, _col(text_col), id_col)
    occ = _window_digests(base, L, lambda s: F.sha2(s, 256)).withColumn(
        "__occ", F.count("*").over(Window.partitionBy("__h"))
    )
    dup = occ.filter(F.col("__occ") > max_occurrences).select(
        F.col("__id").alias("__sid"),
        F.col("__p").alias("__ss"),
        (F.col("__p") + (L - 1)).alias("__se"),
    )
    return base, _merge_islands(dup)


def duplicated_span_extents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    window_tokens: int = 10,
    max_occurrences: int = 1,
) -> DataFrame:
    """Exact substring-span dedup audit (the suffix-array "duplicated
    50-token span" rule of Lee et al. 2022, *Deduplicating Training Data
    Makes Language Models Better*, at a stride-1 token-window granularity):
    every OVERLAPPING ``window_tokens``-token window is counted corpus-wide;
    windows occurring more than ``max_occurrences`` times are "duplicated",
    and per document the duplicated windows are merged (gaps-and-islands)
    into MAXIMAL duplicated spans → ``(id, n_tokens, n_dup_spans,
    dup_tokens, max_span_tokens, dup_ratio)``.

    ``duplicate_chunk_stats`` partitions the token stream into disjoint
    windows, so a duplicated span straddling a chunk boundary is invisible
    and span extents are quantized to the chunk grid; stride-1 windows see
    every duplicated region at token resolution — this is the audit that
    tells you *how much* of each document is copied text and how long the
    longest verbatim run is, which is what the Lee et al. suffix-array pass
    actually removes.

    Spark-first shape: the suffix array is replaced by a rolling L-gram
    digest — tokenize once, build all window digests doc-side with a HOF
    (``transform`` over a start-index ``sequence``, ``sha2`` of the joined
    slice — pure Catalyst, no Python), ``posexplode`` to (id, start,
    digest), ONE corpus-wide occurrence count via ``count() OVER
    (PARTITION BY digest)`` (the shuffle carries 32-B digests + two longs,
    never text), then the classic island merge per doc: running
    ``max(end)`` over preceding rows → new-island flag → cumulative sum →
    per-island min/max. At 100 TB the digest shuffle is ~|corpus tokens|
    rows — the same asymptotic cost as the suffix-array build, but a plain
    AQE-sizeable hash shuffle; the per-doc island windows touch only each
    document's own duplicated windows (bounded by doc length).
    """
    base, spans = _duplicated_token_spans(
        df, text_col, id_col,
        window_tokens=window_tokens, max_occurrences=max_occurrences,
    )
    return _span_audit(base, spans, id_col)


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    window_tokens: int = 10,
    max_occurrences: int = 1,
) -> DataFrame:
    """Span-dedup APPLY: drop every token covered by a corpus-duplicated
    extent (the transform whose audit twin is ``duplicated_span_extents``)
    → ``(id, n_tokens, kept_tokens, cleaned_text)``. Declared policy is
    DROP-ALL — every occurrence of a duplicated span goes, the stricter
    variant of Lee et al.'s keep-one (keep-one needs a global occurrence
    ordering; drop-all is order-free and what boilerplate scrubbing
    actually wants). The scrub is ``_scrub``; the document body never
    shuffles (the digest pipeline shuffles digests)."""
    base, spans = _duplicated_token_spans(
        df, text_col, id_col,
        window_tokens=window_tokens, max_occurrences=max_occurrences,
    )
    return _scrub(base, spans, id_col)


def shingle_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    min_containment: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: ordered pairs where document A's
    shingle set is (almost) contained in document B's —
    ``|A∩B| / |A| ≥ min_containment`` → ``(contained_id, container_id,
    containment)``.

    Jaccard misses subset relationships (a paragraph quoted inside a much
    longer page scores low), but for training-data hygiene the CONTAINED
    side is exactly what gets dropped: its content contributes nothing the
    container doesn't already. Same blocking discipline as
    ``ngram_jaccard_pairs`` — the shingle equi-join IS the candidate
    generation, only the contained side's size normalizes the count, and
    both orientations fall out of one join (the pair row count is 2× the
    Jaccard form's, the shuffle still carries (shingle, id) pairs only).
    ``max_df`` is the same opt-in hot-shingle skew cap as
    ``_jaccard_from_shingles`` (see ``_max_df_filter``); default off for
    the exact-baseline role.
    """
    sh = _hash_shingles(
        _spread(
            df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
        ).select("__id", F.explode(word_shingles("__t", n)).alias("__s"))
    )
    if max_df is not None:
        sh = _max_df_filter(sh, max_df)
    shared = _shared(
        sh, sh, ("contained_id", "container_id"), F.col("a.__id") != F.col("b.__id")
    )
    sa = _sizes(sh).select(F.col("__id").alias("contained_id"), F.col("__sz").alias("__sza"))
    return (
        shared.join(sa, "contained_id")
        .withColumn("containment", F.col("__shared") / F.col("__sza"))
        .filter(F.col("containment") >= min_containment)
        .select("contained_id", "container_id", "containment")
    )


def edit_distance_pairs(
    df: DataFrame,
    name_col: str,
    id_col: str,
    blocks: list[Column],
    *,
    max_dist: int = 2,
) -> DataFrame:
    """Multi-pass blocked entity resolution: pairs with Levenshtein distance
    ≤ ``max_dist``, where candidate generation is a UNION of equi-joins —
    one per blocking key in ``blocks`` — and only candidates pay the
    Levenshtein verify. Output: (id_a, id_b, dist).

    Recall contract (pigeonhole): if the blocking keys partition the
    *varying* span of the name into ``max_dist + 1`` disjoint segments, any
    pair within ``max_dist`` SUBSTITUTION edits agrees exactly on at least
    one segment, so the union of single-key joins finds every such pair —
    same guarantee as ``simhash_neardup_pairs``'s band blocking.
    Insertions/deletions shift the tail and can break segment alignment;
    add a length-insensitive key (e.g. a phonetic code or q-gram sketch) to
    the pass list when the domain needs indel recall.

    Scale: each pass is a plain equi-join shuffle; block-size skew follows
    the key distribution (a degenerate key value → one giant block → the
    all-pairs join in disguise), so choose keys over the DISCRIMINATING part
    of the name and let AQE's skew-join split stragglers. Candidate pairs
    may match several keys; ``distinct`` before the verify dedups them.
    """
    # blocks are expressions over df's own columns — evaluate them in the
    # same projection that renames, or they'd dangle after the alias
    sides = df.select(
        F.col(id_col).alias("__id"),
        F.col(name_col).alias("__name"),
        *[b.alias(f"__blk{i}") for i, b in enumerate(blocks)],
    )
    cand = None
    for i in range(len(blocks)):
        a = sides.select(
            F.col("__id").alias("id_a"), F.col("__name").alias("__na"),
            F.col(f"__blk{i}").alias("__k"),
        )
        b = sides.select(
            F.col("__id").alias("id_b"), F.col("__name").alias("__nb"),
            F.col(f"__blk{i}").alias("__k"),
        )
        pass_i = a.join(b, "__k").filter(F.col("id_a") < F.col("id_b")).select(
            "id_a", "id_b", "__na", "__nb"
        )
        cand = pass_i if cand is None else cand.unionByName(pass_i)
    return (
        cand.distinct()
        .withColumn("dist", F.levenshtein("__na", "__nb").cast("int"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def contamination_overlap(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    min_shared: int = 2,
) -> DataFrame:
    """Benchmark-contamination audit: train documents sharing ≥
    ``min_shared`` distinct n-gram shingles with any benchmark document →
    ``(train_id, bench_id, n_shared)``.

    The pre-training hygiene check (did an eval set leak into the training
    mix?). Same blocking shape as ``ngram_jaccard_pairs``: the shingle
    equi-join IS the candidate generation — only pairs sharing a shingle
    ever meet, so cost scales with actual overlap, not |train|×|bench|.
    The benchmark side is tiny by nature; at scale it broadcasts and the
    train side never shuffles.
    """
    tsh = _spread(
        train.select(F.col(id_col).alias("train_id"), F.col(text_col).alias("__t"))
    ).select("train_id", F.explode(word_shingles("__t", n)).alias("__s"))
    bsh = benchmark.select(
        F.col(id_col).alias("bench_id"), F.col(text_col).alias("__t")
    ).select("bench_id", F.explode(word_shingles("__t", n)).alias("__s"))
    return (
        tsh.join(F.broadcast(bsh), "__s")
        .groupBy("train_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def neardup_cluster_delta(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    is_new,
    n: int = 3,
    min_jaccard: float = 0.7,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Cross-snapshot NEAR-DUP CLUSTER DELTA audit (VERDICT_r08 item 7 —
    the dedup-side composition of the ``snapshot_diff_counts`` discipline):
    given one corpus where ``is_new(id)`` marks documents that arrived
    since the previous snapshot, cluster near-dups in BOTH snapshots and
    classify every current cluster by what happened to it:

    - ``appeared``  — every member is new (a duplicate group born whole);
    - ``merged``    — members spanned ≥ 2 distinct old clusters (a new
      bridge document fused previously-separate groups — the event that
      invalidates cached per-cluster canonical picks);
    - ``grown``     — one old cluster plus new members;
    - ``unchanged`` — one old cluster, no new members.

    Pair Jaccard is a pure pairwise function, so the old snapshot's pair
    list is exactly the new pair list restricted to old endpoints — ONE
    blocked exact-Jaccard pass (``ngram_jaccard_pairs``) feeds both legs,
    and ONE connected-components loop labels both snapshots' graphs via
    the level-composite encoding (old edges at level 0, current at
    ``2³² +``). Old-snapshot singletons count as their own cluster
    (label = doc id) so a cluster absorbing a previously-isolated doc
    reads ``grown``/``merged`` correctly.

    ``pairs`` overrides the built-in exact pass with a precomputed verified
    pair list — at 100 TB feed it ``minhash_pairs_from_artifact`` output
    (the artifact serving path) instead of re-shingling the corpus; the
    classification tail is unchanged.

    Output: (change_kind, n_clusters, n_docs) — multi-doc clusters only
    (CC is defined over the pair graph; singletons are not clusters).
    """
    enc = F.lit(1 << 32).cast("long")
    if pairs is None:
        pairs = ngram_jaccard_pairs(
            df, text_col, id_col, n=n, min_jaccard=min_jaccard
        ).select("id_a", "id_b")
    pairs = pairs.localCheckpoint()  # feeds both legs + the CC loop
    old_edges = pairs.filter(
        (~is_new(F.col("id_a"))) & (~is_new(F.col("id_b")))
    )
    union = old_edges.unionByName(
        pairs.select(
            (enc + F.col("id_a")).alias("id_a"), (enc + F.col("id_b")).alias("id_b")
        )
    )
    comp = connected_components(union)
    newm = comp.filter(F.col("id") >= (1 << 32)).select(
        (F.col("id") - enc).alias("id"), (F.col("comp") - enc).alias("__nc")
    )
    oldm = comp.filter(F.col("id") < (1 << 32)).select(
        "id", F.col("comp").alias("__oc")
    )
    per = (
        newm.join(oldm, "id", "left")
        .groupBy("__nc")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(is_new(F.col("id")), 1).otherwise(0)).alias("__n_new"),
            F.count_distinct(
                F.when(
                    ~is_new(F.col("id")), F.coalesce("__oc", F.col("id"))
                )
            ).alias("__n_old_clusters"),
        )
    )
    kind = (
        F.when(F.col("__n_old_clusters") == 0, "appeared")
        .when(F.col("__n_old_clusters") >= 2, "merged")
        .when(F.col("__n_new") > 0, "grown")
        .otherwise("unchanged")
    )
    return per.groupBy(kind.alias("change_kind")).agg(
        F.count("*").alias("n_clusters"),
        F.sum("n_docs").cast("long").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Cross-document EXACT substring dedup at arbitrary offset (Lee et al. 2022's
# ExactSubstr pass, suffix-array semantics re-expressed as winnowed k-gram
# anchors + extend-and-verify — the sub-window-quantum sibling of
# duplicated_span_extents)
# ---------------------------------------------------------------------------


def _cross_doc_extents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int,
    window: int,
    context: int,
    min_len: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared core of the cross-doc substring family (see
    ``cross_doc_substring_spans`` for the algorithm and scale analysis).
    Returns ``(base, merged)``: base = (__id, __n, __tok) for every
    document, merged = the maximal merged cross-doc duplicated extents
    (__sid, __ss, __se) — 0-based inclusive token positions."""
    if k < 2 or window < 2:
        raise ValueError(f"need k >= 2 and window >= 2, got k={k} window={window}")
    if min_len < window + k - 1:
        raise ValueError(
            f"min_len must be >= window + k - 1 = {window + k - 1} (the winnowing "
            f"detection guarantee), got {min_len}"
        )
    base = _token_base(df, F.lower(_col(text_col)), id_col)

    # 1. per-position k-gram hashes (only (id, pos, hash) crosses — the
    #    token arrays stay behind until the sparse anchor join)
    grams = _window_digests(base, k, lambda g: F.substring(F.md5(g), 1, 16))
    ww = Window.partitionBy("__id").orderBy("__p").rowsBetween(-(window - 1), 0)
    anchors = (
        grams.select(
            "__id",
            "__p",
            F.min(F.struct(F.col("__h").alias("h"), F.col("__p").alias("p"))).over(
                ww
            ).alias("__a"),
        )
        .filter(F.col("__p") >= window - 1)
        .select("__id", F.col("__a.p").alias("__ap"))
        .distinct()
    )
    # 2. attach gram + context strings (sparse side joins the arrays once)
    occ = anchors.join(base, "__id").select(
        "__id",
        "__ap",
        F.concat_ws(" ", F.slice("__tok", F.col("__ap") + 1, k)).alias("__g"),
        F.concat_ws(" ", F.slice("__tok", F.col("__ap") + 1, context)).alias("__ctx"),
    )
    wg = Window.partitionBy("__g").orderBy("__ctx", "__id", "__ap")
    me = F.struct(F.col("__id").alias("i"), F.col("__ap").alias("a"))
    nb = occ.select(
        "__id", "__ap", "__g",
        F.lag(me).over(wg).alias("__p1"),
        F.lead(me).over(wg).alias("__p2"),
    )
    g1 = occ.groupBy("__g").agg(F.min(me).alias("__o1"))
    g2 = (
        occ.join(g1, "__g")
        .filter(F.col("__id") != F.col("__o1.i"))
        .groupBy("__g")
        .agg(F.min(me).alias("__o2"))
    )
    canon = (
        occ.join(g1, "__g")
        .join(g2, "__g", "left")
        .select(
            "__id", "__ap",
            F.when(F.col("__id") != F.col("__o1.i"), F.col("__o1"))
            .otherwise(F.col("__o2"))
            .alias("__pt"),
        )
    )
    cand = (
        nb.select("__id", "__ap", F.col("__p1").alias("__pt"))
        .unionAll(nb.select("__id", "__ap", F.col("__p2").alias("__pt")))
        .unionAll(canon)
        .filter(F.col("__pt").isNotNull() & (F.col("__pt.i") != F.col("__id")))
        .select(
            F.col("__id").alias("__ia"), F.col("__ap").alias("__pa"),
            F.col("__pt.i").alias("__ib"), F.col("__pt.a").alias("__pb"),
        )
        .distinct()
    )
    # 3. extend-and-verify against both token arrays
    a = base.select(
        F.col("__id").alias("__ia"), F.col("__tok").alias("__wa"),
        F.col("__n").alias("__na"),
    )
    b = base.select(
        F.col("__id").alias("__ib"), F.col("__tok").alias("__wb"),
        F.col("__n").alias("__nb"),
    )
    ex = cand.join(a, "__ia").join(b, "__ib")
    mr = F.least(F.col("__na") - (F.col("__pa") + k), F.col("__nb") - (F.col("__pb") + k))
    ml = F.least(F.col("__pa"), F.col("__pb"))
    empty = F.array().cast("array<int>")
    seq_r = F.when(mr >= 1, F.sequence(F.lit(1), mr)).otherwise(empty)
    seq_l = F.when(ml >= 1, F.sequence(F.lit(1), ml)).otherwise(empty)
    mism_r = F.filter(
        seq_r,
        lambda i: F.element_at("__wa", F.col("__pa") + k + i)
        != F.element_at("__wb", F.col("__pb") + k + i),
    )
    mism_l = F.filter(
        seq_l,
        lambda i: F.element_at("__wa", F.col("__pa") - i + 1)
        != F.element_at("__wb", F.col("__pb") - i + 1),
    )
    ext = ex.select(
        "__ia", "__pa",
        F.coalesce(F.try_element_at(mism_r, F.lit(1)) - 1, mr).alias("__re"),
        F.coalesce(F.try_element_at(mism_l, F.lit(1)) - 1, ml).alias("__le"),
    )
    spans = (
        ext.filter(F.lit(k) + F.col("__le") + F.col("__re") >= min_len)
        .select(
            F.col("__ia").alias("__sid"),
            (F.col("__pa") - F.col("__le")).alias("__ss"),
            (F.col("__pa") + k - 1 + F.col("__re")).alias("__se"),
        )
        .distinct()
    )
    return base, _merge_islands(spans)


def cross_doc_substring_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    window: int = 4,
    context: int = 30,
    min_len: int = 15,
) -> DataFrame:
    """Exact CROSS-DOCUMENT repeated-substring extents at arbitrary token
    offset (Lee et al. 2022, *Deduplicating Training Data Makes Language
    Models Better*, the ExactSubstr suffix-array pass; reference parity
    target: the near-dup tier of the TMDB pipeline stops at document
    granularity — this is the finer audit a training-data curator runs):
    find, for every document, the union of maximal token runs of length
    ≥ ``min_len`` that appear verbatim in at least one OTHER document,
    and report ``(id, n_tokens, n_dup_spans, dup_tokens, max_span_tokens,
    dup_ratio)`` per document.

    The suffix array is replaced by three linear passes, none all-pairs:

    1. **Anchor selection** (winnowing, Schleimer et al. SIGMOD'03): hash
       every k-token gram, keep per sliding ``window`` the (hash, pos)-min
       — any shared run of ≥ ``window + k − 1`` tokens selects at least
       one anchor at the SAME relative offset in every copy
       (self-synchronizing), at expected density 2/(window+1).
    2. **Partnering** inside each anchor-GRAM group (grouped by the gram
       STRING, so hash collisions cannot create false matches): each
       occurrence pairs with (a) its lag and lead neighbors in
       (context, id, pos) order — the suffix-array-adjacency discipline:
       copies sharing a long run sort adjacent because their ``context``
       strings agree — and (b) the gram's canonical cross-document
       occurrence (min (id, pos) from a different doc), which guarantees
       every occurrence in a multi-doc group gets ≥ 1 cross-doc partner.
       ≤ 3 candidates per occurrence — linear, never within-group
       all-pairs.
    3. **Extend-and-verify**: each candidate joins both token arrays and
       extends left/right to the first mismatching token (a bounded
       first-mismatch fold — exact, verifies real tokens, trusts no
       hash). Spans shorter than ``min_len`` drop; survivors merge per
       document via gaps-and-islands into maximal extents.

    Determinism: anchor choice is a (hash, pos) struct-min; partner order
    is the total order (context, id, pos); extension is an exact
    first-mismatch argmin — every stage replays bit-identically in an
    external SQL engine. 100 TB shape: the anchor shuffle carries
    ~2/(window+1) of the token stream (vs all of it for the stride-1
    digest pass); the gram-group window and both grouped aggregates key on
    the gram string; candidate extension joins token arrays by doc id
    (co-partitioned equi-joins, AQE-sizeable); nothing enumerates document
    pairs. The known approximation, documented: neighbor pairing is
    exact-adjacency under the ``context``-token horizon; ties beyond it
    order by (id, pos), so a run duplicated ONLY beyond the horizon inside
    a ≥ 3-copy same-doc tie block can under-extend — the canonical partner
    still flags it at ≥ gram length.
    """
    base, merged = _cross_doc_extents(
        df, text_col, id_col, k=k, window=window, context=context, min_len=min_len
    )
    return _span_audit(base, merged, id_col)


def cross_doc_substring_apply(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    window: int = 4,
    context: int = 30,
    min_len: int = 15,
) -> DataFrame:
    """APPLY twin of ``cross_doc_substring_spans`` (the audit/apply
    pairing discipline of ``duplicated_span_extents`` /
    ``remove_duplicated_spans``): drop every token covered by a
    cross-document duplicated extent ≥ ``min_len`` → ``(id, n_tokens,
    kept_tokens, cleaned_text)``. Declared policy is DROP-ALL — every
    copy of a cross-doc duplicated run goes (keep-one needs a global copy
    ordering; drop-all is order-free and is what boilerplate scrubbing
    wants). The extents join back per doc as a collected interval list
    (bounded by doc length) and one nested HOF pass keeps the uncovered
    tokens; document bodies shuffle only where the extents pipeline
    already moves them. ``cleaned_text`` is the surviving stream under
    the spans pass's lowercased-whitespace token convention."""
    base, merged = _cross_doc_extents(
        df, text_col, id_col, k=k, window=window, context=context, min_len=min_len
    )
    return _scrub(base, merged, id_col)


def cross_doc_substring_keep_one(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    window: int = 4,
    context: int = 30,
    min_len: int = 15,
) -> DataFrame:
    """KEEP-ONE twin of ``cross_doc_substring_apply`` (the curator policy
    Lee et al. 2022 actually ship: deduplicate, don't eliminate): for each
    distinct maximal-extent CONTENT (the exact token slice of a merged
    cross-doc duplicated extent), the globally FIRST copy — min (id,
    start) over every occurrence of that content — survives untouched;
    every other copy is scrubbed. Returns ``(id, n_tokens, kept_tokens,
    kept_copies, cleaned_text)`` where ``kept_copies`` counts this
    document's surviving canonical extents.

    The global copy ordering is the canonical-component convention used
    throughout this module (``connected_components`` keeps min node id;
    here min (id, start) per content group): total, data-independent, and
    replayable in an external SQL engine — grouping is by the content
    STRING, not a hash, so collisions cannot merge distinct contents
    (the family's trusts-no-hash discipline). Invariant this policy
    guarantees (and the unit test pins): no duplicated run's content ever
    vanishes from the corpus — drop-all removes every copy, keep-one
    leaves exactly one copy per distinct extent content.

    Documented approximation, inherited from extent granularity: copies
    group by the MERGED extent's content, so a run whose copies merged
    into DIFFERENT maximal extents in different documents (one document
    had adjacent duplicated material, the other didn't) lands in distinct
    content groups and each group keeps its own canonical copy — keep-one
    never over-deletes, it can only under-delete relative to the
    (ill-posed) per-run ideal. 100 TB shape: one extra shuffle keyed on
    the extent content string, carrying each duplicated extent exactly
    once — the same cost class as the extend-and-verify join the family
    already pays (total duplicated bytes, never the corpus), and the
    grouped side is the MERGED extent list (≤ spans), never per-candidate
    rows."""
    base, merged = _cross_doc_extents(
        df, text_col, id_col, k=k, window=window, context=context, min_len=min_len
    )
    # attach each merged extent's exact content (one join against the
    # token arrays — merged extents are per-doc maximal, so each doc's
    # array ships once here, as in the apply's cover join)
    ext = merged.join(base, merged["__sid"] == base["__id"]).select(
        "__sid",
        "__ss",
        "__se",
        F.concat_ws(
            " ", F.slice("__tok", F.col("__ss") + 1, F.col("__se") - F.col("__ss") + 1)
        ).alias("__c"),
    )
    canon = ext.groupBy("__c").agg(
        F.min(F.struct(F.col("__sid").alias("i"), F.col("__ss").alias("s"))).alias(
            "__w"
        )
    )
    tagged = ext.join(canon, "__c").select(
        "__sid",
        "__ss",
        "__se",
        (
            (F.col("__sid") == F.col("__w.i")) & (F.col("__ss") == F.col("__w.s"))
        ).alias("__keep"),
    )
    kept_copies = (
        tagged.filter(F.col("__keep"))
        .groupBy("__sid")
        .agg(F.count("*").cast("long").alias("__kc"))
    )
    counted = base.join(kept_copies, base["__id"] == kept_copies["__sid"], "left").select(
        "__id", "__n", "__tok", F.coalesce("__kc", F.lit(0)).alias("kept_copies")
    )
    return _scrub(counted, tagged.filter(~F.col("__keep")), id_col, "kept_copies")
