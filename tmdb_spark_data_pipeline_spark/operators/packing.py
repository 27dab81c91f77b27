"""Sequence packing: assign documents to fixed-token-budget packs.

LLM-training prep (SURVEY.md §2.11 item 13 extension): training examples are
fixed-length token windows; feeding one short document per window wastes the
budget, so documents are packed. This implements *stream packing*: within
each shard (partition key), documents are laid out in a deterministic order
on a contiguous token stream and a document belongs to the pack where it
STARTS — ``pack_id = floor(cumulative_start / budget)``. Long documents
straddle a boundary (they are chunked downstream by the tokenizer); what the
engine guarantees is a deterministic, shuffle-minimal grouping.

This is the closed-form variant deliberately: true first-fit/next-fit bin
packing is a sequential scan (each decision depends on the previous bin's
remaining space) — not expressible as a window function and not parallel. The
start-offset rule is one window cumsum per shard: the same physical shape as
a running total, embarrassingly parallel across shards, identical results at
any cluster size. Wasted-budget overhead vs true next-fit is bounded by
(mean_doc_len / budget) per pack — small when budget >> typical document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import ColumnOrName, _col


def whitespace_token_count(text: ColumnOrName) -> F.Column:
    """Token count proxy: whitespace word count of trimmed text (0 for
    empty). The tokenizer-exact count is a drop-in replacement column."""
    t = F.trim(_col(text))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("long")


def chunk_by_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_tokens: int,
    overlap: int = 0,
) -> DataFrame:
    """Sliding-window document chunking: split each document into
    fixed-token windows of ``max_tokens`` with ``overlap`` tokens of
    context carried between consecutive chunks (stride = max_tokens −
    overlap) — the standard long-document → training-sequence splitter.

    Pure Catalyst expressions: tokenize once (its own projection stage, so
    CollapseProject can't re-evaluate the split per output column), compute
    the chunk count in closed form, ``explode(sequence(...))`` the chunk
    ids, then ``slice`` the token array per chunk. No Python at execution
    time; the explode multiplies rows by ceil(len/stride), never
    materializing more than the chunked corpus (which is the output).
    Documents at/under ``max_tokens`` yield exactly one chunk.
    """
    if not 0 <= overlap < max_tokens:
        raise ValueError(f"need 0 <= overlap < max_tokens, got {overlap}/{max_tokens}")
    from .dedup import _span_tokens

    stride = max_tokens - overlap
    base = df.select(F.col(id_col), _span_tokens(text_col).alias("__tok"))
    n = F.size("__tok")
    n_chunks = (
        F.when(n <= max_tokens, F.lit(1))
        .otherwise(F.ceil((n - max_tokens) / F.lit(float(stride))) + 1)
        .cast("int")
    )
    chunked = base.select(
        id_col,
        "__tok",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    piece = F.slice(F.col("__tok"), F.col("chunk_id") * stride + 1, max_tokens)
    return chunked.select(
        id_col,
        "chunk_id",
        F.size(piece).alias("chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def pack_sequences(
    df: DataFrame,
    shard_col: str,
    order_col: str,
    token_col: str,
    budget: int,
) -> DataFrame:
    """Add ``pack_id``/``pack_start`` columns: the fixed-budget pack each row
    starts in, per shard, in ``order_col`` order (must be unique per shard —
    it is the determinism contract).

    One window cumsum per shard — a single shuffle on ``shard_col``; no
    global coordination, so shards scale out independently.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    w = (
        Window.partitionBy(shard_col)
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(token_col).over(w), F.lit(0)).cast("long")
    return df.withColumn("pack_start", start).withColumn(
        "pack_id", (F.col("pack_start") / F.lit(budget)).cast("long")
    )


def word_chunk_udtf(chunk_words: int = 16):
    """Python UDTF tier (Spark 4 ``@udtf``): split a text into fixed-size
    word chunks, one OUTPUT ROW per chunk — the table-function shape the
    other sanctioned-Python tiers (scalar / grouped-agg / applyInPandas /
    mapInPandas / applyInPandasWithState / cogroup) can't express directly
    (a row-to-many-rows generator consumed via LATERAL join).

    Returns a UDTF class ready for ``spark.udtf.register``. The expression
    twin is ``chunk_by_tokens`` (slice-based, JVM-side) — that is the hot
    path; the UDTF exists to cover the API tier and is Arrow-batched when
    ``spark.sql.execution.pythonUDTF.arrow.enabled`` is set. Word split is
    ``\\s+`` with empties dropped, matching the engine's token-count proxy.
    """
    import re

    from pyspark.sql.functions import udtf

    n = int(chunk_words)
    if n <= 0:
        raise ValueError(f"chunk_words must be positive, got {chunk_words}")

    @udtf(returnType="chunk_idx int, n_words int, first_word string, last_word string")
    class WordChunks:
        def eval(self, text: str):
            if text is None:
                return
            words = [w for w in re.split(r"\s+", text) if w]
            for i in range(0, len(words), n):
                piece = words[i : i + n]
                yield (i // n, len(piece), piece[0], piece[-1])

    return WordChunks
