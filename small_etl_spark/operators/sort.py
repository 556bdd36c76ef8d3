"""Sort / limit operators (SURVEY §2.7, O1–O2).

- O1 single-field sort — /root/reference/src/core/contextual_pipeline.rs:647-672
  Reference nulls: missing sorts LAST ascending, FIRST descending.
  Reference compares the JSON-rendered string (numbers as strings!);
  we sort natively-typed by default — a deliberate, documented
  deviation (SURVEY §7.1) — and offer ``lexicographic=True`` for
  bug-compatible behavior.

Physical: Spark's sort is a range-partitioned distributed sort
(sampling → range exchange → per-partition sort) — no single-node
bottleneck at 100 TB, unlike a naive global orderBy-to-one-partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def sort_by_field(
    df: DataFrame,
    field: str,
    order: str = "asc",
    lexicographic: bool = False,
) -> DataFrame:
    """O1: sort by one field with the reference's null placement."""
    col = F.col(field).cast("string") if lexicographic else F.col(field)
    if order.lower() == "desc":
        return df.orderBy(col.desc_nulls_first())
    return df.orderBy(col.asc_nulls_last())


def top_k(
    df: DataFrame,
    field: str,
    k: int,
    order: str = "desc",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Sort + limit composition (reference expresses top-k this way).

    ``tiebreak`` columns (ascending) make the result deterministic when
    ``field`` has duplicates. Catalyst turns orderBy+limit into
    TakeOrderedAndProject — a per-partition top-k then a k-row merge at
    the driver; O(n) scan, no full sort, the right plan at any scale.
    """
    main = F.col(field).desc_nulls_first() if order.lower() == "desc" else F.col(
        field
    ).asc_nulls_last()
    extra = [F.col(c).asc() for c in (tiebreak or [])]
    return df.orderBy(main, *extra).limit(k)


def _ranged_with_offsets(
    df: DataFrame,
    order_cols: list[str],
    total_expr,
    num_partitions: int | None,
) -> DataFrame:
    """Shared two-phase scaffolding for :func:`global_ordinal` /
    :func:`global_cumsum`: range-partition on the order columns, PIN
    that partitioning, aggregate one (pid → total) row per partition,
    prefix-sum the totals into each partition's exclusive offset, and
    attach the offset as ``__off__`` via a BROADCAST join against the
    tiny (pid, offset) table.

    Three design points, all for cluster scale:

    - ``localCheckpoint(eager=True)`` materializes the range exchange
      ONCE before the totals pass. Without it, the totals job and the
      final projection job would each re-execute
      ``repartitionByRange`` — whose split points come from SAMPLING —
      and on inputs large enough that sampling is partial the two
      executions can draw different boundaries, silently attaching
      offsets to the wrong partitions. Pinning makes both jobs read
      the identical materialized partitions; if blocks are lost the
      job fails loudly instead of recomputing inconsistently.
    - The prefix sum runs as a WINDOW over the (pid, total) aggregate
      — partition-count-sized rows in one task — broadcast-joined
      back, instead of the pre-round-13 ``collect()`` +
      ``createDataFrame`` driver pin: same integer/truncation
      semantics (the window accumulates in the same pid order the
      driver loop did), one fewer scheduled job and no py4j result
      round-trip (measured −47% on the operator at sf0.1, rows
      identical at three SFs — OPTIMIZATION_r13.md).
    - The offsets attach through ``F.broadcast`` of a (pid, offset)
      DataFrame, NOT a chained ``CASE WHEN`` over pids: a CaseWhen
      chain is O(partitions) work PER ROW, so its cost grows with
      cluster size (2k partitions ⇒ 2k branch tests per row); the
      broadcast hash join is O(1) per row at any partition count.
    """
    parts = [num_partitions] if num_partitions else []
    ranged = (
        df.repartitionByRange(*parts, *order_cols)
        .withColumn("__pid__", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Window

    wo = Window.orderBy("__pid__").rowsBetween(
        Window.unboundedPreceding, -1
    )
    off_df = (
        ranged.groupBy("__pid__")
        .agg(total_expr.alias("__t__"))
        .select(
            "__pid__",
            F.coalesce(F.sum("__t__").over(wo), F.lit(0))
            .cast("bigint")
            .alias("__off__"),
        )
    )
    return ranged.join(F.broadcast(off_df), "__pid__", "left").withColumn(
        "__off__", F.coalesce(F.col("__off__"), F.lit(0)).cast("bigint")
    )


def global_ordinal(
    df: DataFrame,
    order_cols: list[str],
    ordinal_col: str = "ordinal",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign a global 0-based rank by ``order_cols`` (include a
    unique tiebreak) WITHOUT the single-partition window a bare
    ``row_number() OVER (ORDER BY ...)`` plans.

    The distributed pattern: range-partition on the order columns
    (sampled split points keep partitions balanced) and PIN the
    exchange, count each partition, prefix-sum those counts into
    per-partition offsets with a window over the partition-count-sized
    ``(pid, total)`` aggregate, broadcast-join the offsets back, then
    ``ordinal = offset[pid] + local_rank`` where the local window
    partitions BY pid — every partition ranks in parallel. Used for
    curriculum ordering (train on quality-sorted corpora), stable
    export numbering, and pagination at corpus scale. See
    :func:`_ranged_with_offsets` for why the exchange is pinned and
    the offsets broadcast-joined rather than CASE-WHEN-chained.
    """
    from pyspark.sql import Window

    ranged = _ranged_with_offsets(
        df, order_cols, F.count(F.lit(1)), num_partitions
    )
    w = Window.partitionBy("__pid__").orderBy(*[F.col(c) for c in order_cols])
    return ranged.withColumn(
        ordinal_col,
        (F.col("__off__") + F.row_number().over(w) - 1).cast("bigint"),
    ).select(*df.columns, ordinal_col)


def global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    cumsum_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Running total of ``value_col`` in global ``order_cols`` order
    WITHOUT the single-task window a bare
    ``sum() OVER (ORDER BY ...)`` plans — the prefix-sum companion to
    :func:`global_ordinal` and the backbone of packing / sharding /
    coverage-curve operators.

    Same two-phase shape as :func:`global_ordinal` (via
    :func:`_ranged_with_offsets` — pinned range exchange + broadcast-
    joined offsets): aggregate one (pid → partition total) row per
    partition, prefix-sum those totals with a window over that
    partition-count-sized ``(pid, total)`` aggregate, then add each
    partition's offset to its
    LOCAL running sum — every partition computes its window in
    parallel. The cumsum is INCLUSIVE of the current row; include a
    unique tiebreak in ``order_cols`` for determinism.
    """
    from pyspark.sql import Window

    ranged = _ranged_with_offsets(
        df, order_cols, F.sum(value_col), num_partitions
    )
    w = (
        Window.partitionBy("__pid__")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ranged.withColumn(
        cumsum_col, (F.col("__off__") + F.sum(value_col).over(w)).cast("bigint")
    ).select(*df.columns, cumsum_col)


def ntile_by(
    df: DataFrame,
    order_cols: list[str],
    k: int,
    tile_col: str = "tile",
) -> DataFrame:
    """Exact SQL-``NTILE(k)`` semantics — bucket sizes differ by at
    most one, larger buckets first — computed from
    :func:`global_ordinal` instead of an unpartitioned window.

    With n rows, q = n DIV k and r = n MOD k: the first r buckets
    hold q+1 rows. Rank i (0-based) maps to
    ``i DIV (q+1)`` while ``i < r·(q+1)``, else
    ``r + (i − r·(q+1)) DIV q`` — integer expressions over the
    partition-parallel ordinal plus two scalar constants, so the
    quantile tiering that NTILE gives in one single-task window
    survives any corpus size.
    """
    ranked = global_ordinal(df, order_cols, ordinal_col="__ord__")
    n = ranked.count()
    q, r = divmod(n, k)
    if q == 0:
        tile = F.col("__ord__") + 1
    else:
        head = r * (q + 1)
        tile = (
            F.when(F.col("__ord__") < head, F.expr(f"__ord__ DIV {q + 1}"))
            .otherwise(F.lit(r) + F.expr(f"(__ord__ - {head}) DIV {q}"))
            + 1
        )
    return ranked.withColumn(tile_col, tile.cast("bigint")).drop("__ord__")
