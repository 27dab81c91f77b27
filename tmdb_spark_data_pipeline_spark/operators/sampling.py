"""Deterministic sampling / splitting / rebalancing operators.

Training-data-pipeline extensions beyond the reference surface (SURVEY.md
§2.11 item 13 mandate): a 100 TB corpus is never trained on wholesale — it is
split, stratified, and rebalanced first. Everything here is driven by a
*portable* content hash (md5 prefix), not ``rand()``, so the same row lands in
the same split on every engine, every run, every cluster size — the property
that makes train/test contamination auditable.

Scale posture: all pure Catalyst expressions. ``hash_split`` is a projection
(no shuffle at all); ``stratified_sample`` and ``rebalance_quota`` shuffle
once on their strata/group key exactly like any grouped aggregate. No
``sample()``/``rand()`` — those are nondeterministic under retries and
repartitioning (a retried task re-draws its randoms, silently duplicating or
dropping rows in the sample).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import ColumnOrName, _col
from . import rank

#: Hash-space size for split assignment: fractions are resolved to integer
#: bucket ranges out of this many buckets (1e-4 granularity).
SPLIT_BUCKETS = 10_000


def portable_hash(key: ColumnOrName, buckets: int = SPLIT_BUCKETS) -> Column:
    """Uniform bucket in ``[0, buckets)`` from a key column, identical across
    engines: ``conv(substr(md5(key), 1, 8), 16, 10) % buckets``.

    DuckDB twin: ``CAST('0x' || substr(md5(CAST(key AS VARCHAR)), 1, 8) AS
    BIGINT) % buckets``. The 32-bit md5 prefix keeps the value inside exact
    BIGINT/double range on both engines; md5 is bit-stable everywhere, unlike
    ``xxhash64``/``hash()`` which differ per engine (and per seed).
    """
    h = F.conv(F.substring(F.md5(_col(key).cast("string")), 1, 8), 16, 10)
    return (h.cast("bigint") % F.lit(buckets)).alias("bucket")


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    *,
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split (train/val/test/...) by hashed key.

    Pure projection — zero shuffle, streamable, and stable under appends: a
    row's split depends only on its key, so growing the corpus never moves an
    existing document across the train/test boundary (the contamination
    guarantee re-sampling cannot give).

    ``weights`` are fractions summing to ~1; resolved to contiguous integer
    bucket ranges out of ``SPLIT_BUCKETS`` (granularity 1e-4), assigned in
    the given insertion order.
    """
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = portable_hash(key_col)
    expr: Column = F.lit(None).cast("string")
    edges: list[tuple[str, int]] = []
    acc = 0.0
    for name, w in weights.items():
        acc += w
        edges.append((name, min(SPLIT_BUCKETS, round(acc * SPLIT_BUCKETS))))
    # build from the last range backwards: when/otherwise chain
    for name, hi in reversed(edges):
        expr = F.when(bucket < hi, F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def stratified_sample(
    df: DataFrame,
    strata: tuple[str, ...],
    fraction: float,
    key_col: str,
) -> DataFrame:
    """Exact-count deterministic stratified sample: ``ceil(n_g * fraction)``
    rows from every stratum ``g``, chosen by hashed-key order (hash asc, key
    asc as total-order tie-break).

    Unlike ``df.sampleBy`` this is exact (not Bernoulli — per-stratum counts
    are guaranteed, crucial for small strata) and deterministic (no seed
    state). One shuffle on the strata key; the per-stratum sort is the same
    cost class as any grouped top-n. At 100 TB, strata are
    languages/sources — thousands of groups, each fitting a task after the
    hash partition; skewed strata fall back to AQE skew splitting.
    """
    if not 0 < fraction <= 1:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    h = portable_hash(key_col)
    w = Window.partitionBy(*strata)
    order = Window.partitionBy(*strata).orderBy(h.asc(), F.col(key_col).asc())
    ranked = df.withColumn("__n", F.count("*").over(w)).withColumn(
        "__rn", F.row_number().over(order)
    )
    take = F.ceil(F.col("__n") * F.lit(fraction))
    return ranked.filter(F.col("__rn") <= take).drop("__n", "__rn")


def rebalance_quota(
    df: DataFrame,
    group_col: str,
    quota: int,
    score_col: str,
    key_col: str,
) -> DataFrame:
    """Cap every group at ``quota`` rows, keeping the highest-scoring ones
    (score desc NULLS LAST, key asc tie-break) — the per-source /
    per-language rebalancing step that stops one crawl dump from dominating a
    training mix.

    Same physical shape as grouped top-n (§2.7): one shuffle on the group
    key, per-partition sort, early row_number cutoff.
    """
    return rank.top_n_per_group(
        df, (group_col,), score_col, n=quota, tiebreak=(key_col,), rank_col="__rn"
    ).drop("__rn")


def negative_pairs(
    df: DataFrame,
    id_col: str,
    *,
    k: int = 3,
    mult: int = 2_654_435_761,
    step: int = 40_503,
) -> DataFrame:
    """Deterministic negative sampling for contrastive datasets: for every
    anchor row, ``k`` pseudo-random partner ids drawn by an affine hash over
    the row's dense index — reproducible across runs/partitionings (no
    ``rand()``, which re-draws under task retry), and never the anchor
    itself.

    Shape: a window ``row_number`` assigns the dense index (one sort by id —
    at 100 TB this would come from a stored dense id instead), negatives are
    an ``explode(sequence(1, k))`` projection, and partners resolve through
    a single equi-join on the index. Output: (anchor id, neg id, slot).

    The affine map ``(idx·mult + slot·step) mod (n-1)`` lands uniformly in
    [0, n-1); indices ≥ the anchor shift by one, which both removes
    self-pairs and keeps the distribution uniform over the other n-1 rows.
    """
    from pyspark.sql import Window

    w = Window.orderBy(F.col(id_col).asc())
    idx = df.select(F.col(id_col)).withColumn("__idx", F.row_number().over(w) - 1)
    n = idx.count()
    if n < 2:
        raise ValueError("negative sampling needs at least two rows")
    anchors = idx.select(
        F.col(id_col).alias("anchor_id"),
        "__idx",
        F.explode(F.sequence(F.lit(1), F.lit(k))).alias("slot"),
    )
    raw = F.pmod(
        F.col("__idx") * F.lit(mult) + F.col("slot").cast("long") * F.lit(step),
        F.lit(n - 1),
    )
    picked = anchors.withColumn(
        "__neg_idx", F.when(raw >= F.col("__idx"), raw + 1).otherwise(raw)
    )
    partners = idx.select(F.col(id_col).alias("neg_id"), F.col("__idx").alias("__neg_idx"))
    return picked.join(partners, "__neg_idx").select("anchor_id", "neg_id", "slot")


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    k: int,
    *,
    key_out: str = "samp_key",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis–
    Spirakis A-ES): every row gets the key ``ln(u) / w`` where ``u`` is a
    portable md5-derived uniform in (0,1) and ``w`` its weight; the ``k``
    largest keys are exactly a weighted sample without replacement (a row's
    inclusion probability is proportional to its weight among the remaining
    rows at every draw).

    Same no-``rand()`` discipline as the rest of this module: ``u`` comes
    from the content hash, so the sample is identical across engines, runs,
    retries, and cluster sizes — re-runs of a 100 TB sampling job pick the
    same documents. Physical shape: a projection plus a global top-k, which
    Catalyst executes as ``TakeOrderedAndProject`` (per-partition heaps of
    size k, no full sort, no shuffle of non-winners). Ties (astronomically
    unlikely on a 32-bit hash) break on key asc for a total order.

    Weights must be strictly positive; rows with nonpositive weights are
    filtered out before the top-k (never sampled, even when fewer than ``k``
    valid rows exist).
    """
    u = (
        portable_hash(key_col, buckets=1 << 32).cast("double") + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    wcol = F.col(weight_col).cast("double")
    return (
        df.filter(wcol > 0)
        .withColumn(key_out, F.log(u) / wcol)
        .orderBy(F.col(key_out).desc(), F.col(key_col).asc())
        .limit(k)
    )


def waterfill_allocations(
    per_key: DataFrame,
    key_col: str,
    size_col: str,
    budget: int | None = None,
    *,
    budget_col: str | None = None,
) -> DataFrame:
    """Water-filling (max-min fair) allocation: find the unique cap c with
    Σ min(size_i, c) = budget; keys at or under the cap keep everything,
    larger keys are clipped to c. Closed form, no iteration: sort keys by
    size ascending, the break point is the longest prefix where granting
    every remaining key the current size still fits.

    ``per_key`` is the already-aggregated (key, size) table — |keys| rows,
    not the corpus — so the single-partition window here is deliberate and
    cheap (same stance as ``rfm_segments``). Pass the budget either as a
    Python int or as ``budget_col`` (a constant column, e.g. computed from
    the total). If budget >= Σ size, nothing is capped and every key keeps
    its full size.

    Output: key, size, cap (double, NULL when uncapped-everywhere),
    allocated (double, 2dp), epochs (double, 6dp), capped (bool). Rounding
    at fixed scales keeps both engines of an oracle pair bit-identical.
    """
    from pyspark.sql import Window

    if (budget is None) == (budget_col is None):
        raise ValueError("pass exactly one of budget / budget_col")
    budget_expr = (
        F.lit(int(budget)).cast("long")
        if budget is not None
        else F.col(budget_col).cast("long")
    )
    per = per_key.select(
        F.col(key_col).alias("__key"),
        F.col(size_col).cast("long").alias("__size"),
        budget_expr.alias("__budget"),
    )
    sc = per.agg(F.count("*").alias("__k"))
    b = per.crossJoin(F.broadcast(sc))
    w = Window.orderBy(F.col("__size").asc(), F.col("__key").asc())
    b = (
        b.withColumn("__i", F.row_number().over(w))
        .withColumn(
            "__cum",
            F.sum("__size").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn(
            "__feasible",
            F.col("__cum") + F.col("__size") * (F.col("__k") - F.col("__i"))
            <= F.col("__budget"),
        )
    )
    sel = b.agg(
        F.coalesce(F.max(F.when(F.col("__feasible"), F.col("__i"))), F.lit(0)).alias(
            "__istar"
        ),
        F.coalesce(
            F.max(F.when(F.col("__feasible"), F.col("__cum"))), F.lit(0)
        ).alias("__cumstar"),
        F.max("__budget").alias("__b"),
        F.max("__k").alias("__kk"),
    ).select(
        F.when(
            F.col("__istar") < F.col("__kk"),
            F.round(
                (F.col("__b") - F.col("__cumstar"))
                / (F.col("__kk") - F.col("__istar")),
                6,
            ),
        ).alias("cap")  # NULL cap == budget covers everything
    )
    out = (
        b.crossJoin(F.broadcast(sel))
        .withColumn(
            "allocated",
            F.when(
                F.col("cap").isNull(), F.round(F.col("__size").cast("double"), 2)
            ).otherwise(
                F.round(F.least(F.col("__size").cast("double"), F.col("cap")), 2)
            ),
        )
        # size-0 guard (ADVICE r5): epochs is undefined for an empty key —
        # emit an explicit NULL so engine and oracle can't diverge on the
        # 0/0 failure mode
        .withColumn(
            "epochs",
            F.when(
                F.col("__size") > 0, F.round(F.col("allocated") / F.col("__size"), 6)
            ),
        )
        .withColumn(
            "capped",
            F.when(F.col("cap").isNull(), F.lit(False)).otherwise(
                F.col("__size").cast("double") > F.col("cap")
            ),
        )
    )
    return out.select(
        F.col("__key").alias(key_col),
        F.col("__size").alias(size_col),
        "cap",
        "allocated",
        "epochs",
        "capped",
    )


#: P(Poisson(1) <= k) * 1e6 for k = 0..4, as FIXED integer literals (round
#: at the 6th decimal of e^-1 partial sums). Being literals — not runtime
#: exp() calls — the weight generation below contains no floating point at
#: all, so any engine replays it exactly.
POISSON1_CDF_MICRO = (367879, 735759, 919699, 981012, 996340)


def poisson_bootstrap_weights(
    df: DataFrame,
    key_col: str,
    *,
    b: int = 64,
    rep_col: str = "rep",
    weight_col: str = "w",
) -> DataFrame:
    """Explode each row into ``b`` bootstrap replicas with DETERMINISTIC
    Poisson(1) resample weights — the distributed bootstrap (Poisson
    bootstrap: per-row independent weights, no global n, map-side only;
    the standard way to put error bars on a metric at 100 TB, where true
    multinomial resampling would need a global shuffle per replicate).

    w(row, rep) = inverse-CDF of Poisson(1) at u = portable 32-bit
    md5 hash of "key:rep" mod 1e6, compared against the fixed integer
    thresholds ``POISSON1_CDF_MICRO`` — all-integer, engine-portable,
    stable under appends (a row's weights depend only on its key). The
    tail is truncated at w = 5 (P ≈ 0.366%, documented bias far below
    bootstrap noise at any realistic n).

    Scale shape: one projection + explode (b× rows carrying only the
    grouping keys + metric), partial-agg'd straight into the per-replica
    aggregate — the corpus is never shuffled by replica.
    """
    from .dedup import _spread

    # the b x md5 projection is the expensive per-row stage — spread a
    # single-file input across cores first (gated no-op at real scale)
    reps = F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias(rep_col)
    out = _spread(df).select("*", reps)
    u = portable_hash(
        F.concat(
            _col(key_col).cast("string"), F.lit(":"), F.col(rep_col).cast("string")
        ),
        buckets=1_000_000,
    )
    w: Column = F.lit(5)
    for k in range(len(POISSON1_CDF_MICRO) - 1, -1, -1):
        w = F.when(u < POISSON1_CDF_MICRO[k], F.lit(k)).otherwise(w)
    return out.withColumn(weight_col, w)
