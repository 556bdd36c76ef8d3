"""Document chunking for training pipelines: split each document into
~``chunk_tokens``-token windows with ``overlap`` tokens of context
carried between consecutive chunks.

Pure array expressions — tokens → strided windows
(``textstats.ngram_windows_sql``) → ``posexplode`` — one map-only
pass, rows out ≈ tokens/step per doc. No Python, no shuffle; at
100 TB chunking is scan-bound and embarrassingly parallel, exactly as
it should be.

Note the token definition is the word-regex tokenizer shared by all
text stats (a BPE-ish budget proxy); swap in a real tokenizer via a
Pandas UDF only if chunk boundaries must match a model's vocabulary —
the plumbing (stride math, posexplode shape, ids) stays identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from small_etl_spark.llm.textstats import ngram_windows_sql, tokens, tokens_sql


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
    context_len: int = 2048,
    order_col: str | None = None,
) -> DataFrame:
    """Assign documents/chunks to training-sequence packs: the
    concat-then-cut strategy real pre-training pipelines use — stream
    the corpus in a deterministic order, accumulate token counts, and
    start pack ``k`` at token offset ``k·context_len``.

    ``pack_id = floor(tokens_before / context_len)`` from a global
    prefix sum — computed with ``operators.sort.global_cumsum``
    (range-partition + per-partition offsets), NOT an unpartitioned
    ``sum() OVER (ORDER BY)`` window, so every partition accumulates
    in parallel and the operator survives corpus-scale inputs. For a
    coordination-free variant, order by a shard hash and pack per
    shard (`pack_sequences_ffd` shows that shape). Returns the input
    plus ``pack_id, pack_offset`` (the doc's token start within its
    pack's coordinate space).
    """
    from small_etl_spark.operators.sort import global_cumsum

    order = order_col or id_col
    out = global_cumsum(
        df, [order], n_tokens_col, cumsum_col="__cum_incl__"
    )
    before = F.col("__cum_incl__") - F.col(n_tokens_col)
    return out.withColumns(
        {
            "pack_id": F.floor(before / F.lit(context_len)).cast("bigint"),
            "pack_offset": (before % F.lit(context_len)).cast("bigint"),
        }
    ).drop("__cum_incl__")


def pack_sequences_ffd(
    df: DataFrame,
    id_col: str = "doc_id",
    n_tokens_col: str = "n_tokens",
    context_len: int = 2048,
    num_shards: int = 64,
    shard_col: str | None = None,
) -> DataFrame:
    """Distributed first-fit-decreasing bin packing: group whole
    documents into packs of ≤ ``context_len`` tokens without
    splitting any document (the quality alternative to
    :func:`pack_sequences`' concat-then-cut, which splits docs at
    pack boundaries).

    Scale shape: hash-shard the corpus (``num_shards`` × the usual
    executor count at 100 TB), run classic FFD *within* each shard via
    ``applyInPandas`` — packing is a sequential algorithm, so the
    distribution axis is shards, not the algorithm. FFD guarantees
    ≤ 11/9·OPT + 1 bins per shard; sharding costs at most one
    partially-filled pack per shard, negligible when shards hold
    thousands of docs. One shuffle (the shard groupBy).

    Documents longer than ``context_len`` get a singleton pack
    (truncation/chunking is :func:`chunk_documents`' job, upstream).
    Pack ids are globally unique: ``shard * 2^32 + local``.
    Returns ``id_col, n_tokens, pack_id, pack_tokens`` (pack_tokens =
    the pack's total after assignment, for fill-factor audits).
    """
    import pandas as pd

    out_schema = (
        f"{id_col} bigint, {n_tokens_col} bigint, "
        "pack_id bigint, pack_tokens bigint"
    )

    def ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        order = pdf.sort_values([n_tokens_col, id_col], ascending=[False, True])
        shard = int(order["_shard"].iloc[0])
        bins: list[int] = []  # remaining capacity per local pack
        assign: list[int] = []
        for n in order[n_tokens_col]:
            n = int(n)
            placed = None
            for b, cap in enumerate(bins):
                if cap >= n:
                    placed = b
                    bins[b] = cap - n
                    break
            if placed is None:
                placed = len(bins)
                bins.append(max(context_len - n, 0))
            assign.append(placed)
        base = shard << 32
        sums: dict[int, int] = {}
        for b, n in zip(assign, order[n_tokens_col]):
            sums[b] = sums.get(b, 0) + int(n)
        return pd.DataFrame(
            {
                id_col: order[id_col].to_numpy(),
                n_tokens_col: order[n_tokens_col].to_numpy(),
                "pack_id": [base + b for b in assign],
                "pack_tokens": [sums[b] for b in assign],
            }
        )

    # a doc with unknown length cannot be packed — drop it before the
    # Python kernel (int(NaN) throws); upstream QC owns null counts
    # shard_col overrides the default xxhash64 sharding with a caller
    # expression (the portable oracle twin shards by doc_id % k so the
    # DuckDB replay can reproduce the exact shard membership)
    shard_expr = (
        F.col(shard_col).cast("bigint")
        if shard_col is not None
        else F.pmod(F.xxhash64(F.col(id_col)), F.lit(num_shards))
    )
    sharded = df.filter(F.col(n_tokens_col).isNotNull()).select(
        F.col(id_col), F.col(n_tokens_col), shard_expr.alias("_shard")
    )
    return sharded.groupBy("_shard").applyInPandas(ffd, schema=out_schema)


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """One row per chunk: ``doc_id, chunk_idx, chunk_text, n_tokens``.

    Stride = chunk_tokens - overlap; the final chunk may be short;
    empty docs yield one empty chunk (so no document silently
    disappears from the corpus — filter on ``n_tokens`` explicitly).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    windows = ngram_windows_sql(
        tokens_sql(f"lower({text_col})"), chunk_tokens, chunk_tokens - overlap
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.expr(windows)).alias("chunk_idx", "chunk_text"),
    ).withColumn(
        "n_tokens", F.size(tokens(F.col("chunk_text"))).cast("bigint")
    )


def length_bucketed_batches(
    df: DataFrame,
    token_col: str,
    batch_size: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign documents to inference batches of ``batch_size`` within
    power-of-two length buckets (``bucket = floor(log2(tokens))``), so
    every batch holds similar-length sequences and padding waste is
    bounded by 2× instead of max-length. Returns
    ``(id, bucket, batch_id)``, deterministic (ordered by id within
    bucket).

    Built on operators/sort.py::global_ordinal over (bucket, id) —
    range partition + offset prefix sums — then rebased per bucket by
    a broadcast of each bucket's minimum ordinal. A per-bucket window
    would put ALL of a bucket's documents (most of the corpus shares
    a few length buckets) into single window partitions; this
    composition keeps every step parallel.
    """
    from pyspark.sql import functions as F

    from small_etl_spark.operators.sort import global_ordinal

    bucketed = df.select(
        F.col(id_col),
        F.floor(F.log2(F.greatest(F.col(token_col), F.lit(1)))).cast(
            "bigint"
        ).alias("bucket"),
    )
    ranked = global_ordinal(bucketed, ["bucket", id_col])
    mins = ranked.groupBy(F.col("bucket").alias("__b__")).agg(
        F.min("ordinal").alias("__min_ord__")
    )
    return (
        ranked.join(F.broadcast(mins), F.col("bucket") == F.col("__b__"))
        .select(
            id_col,
            "bucket",
            F.floor(
                (F.col("ordinal") - F.col("__min_ord__")) / batch_size
            ).cast("bigint").alias("batch_id"),
        )
    )
