"""Data-layout operators: Z-order (Morton) clustering for
multi-dimensional scan pruning.

North-star operator (the reference writes output in arrival order —
``/root/reference/src/core/load.rs`` appends rows as received). At
100 TB, layout IS the query optimizer's best friend: parquet row-group
min/max stats prune scans only when rows with similar values are
physically together. A linear sort clusters ONE column; interleaving
the bits of several bucketed columns (the Morton / Z-order curve)
bounds EVERY participating column's span per file, so predicates on
any subset of the z-columns skip most row groups.

Usage shape at scale::

    zordered = zorder_by(df, [("user_id", 0, 1024), ("ts_h", 0, 744)])
    zordered.write.parquet(...)   # row groups now tight on both dims

The bucketing bounds are explicit literals (not a data pass) so the
layout is stable as the table grows — the 100 TB ingest can't afford
a min/max scan per write, and drifting bounds would interleave
incompatibly across days.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from small_etl_spark.session import local_frame

ZBITS_DEFAULT = 8


def _bucket(col: Column, lo: int, hi: int, bits: int) -> Column:
    """Scale an integer column in [lo, hi] to [0, 2^bits) with exact
    integer arithmetic (values past hi clamp into the top bucket)."""
    nb = 1 << bits
    span = hi - lo
    # div (IntegralDivide), not `/`: Spark's `/` is double division,
    # and a double mantissa shifts bucket edges by one for values near
    # multiples of span/2^bits at large magnitudes — the bucket
    # function must be bit-stable across days of ingest for the
    # interleaving to stay compatible. Bigint floor-division is exact
    # at any magnitude.
    scaled = F.call_function(
        "div",
        (col.cast("bigint") - F.lit(lo)) * nb,
        F.lit(span).cast("bigint"),
    )
    return F.greatest(
        F.lit(0).cast("bigint"),
        F.least(scaled, F.lit(nb - 1).cast("bigint")),
    )


def morton_code(buckets: list[Column], bits: int = ZBITS_DEFAULT) -> Column:
    """Interleave the low ``bits`` bits of each bucketed column into
    one Z-curve key. Pure JVM bit expressions (shift/and/or) — stays
    inside whole-stage codegen, no UDF."""
    n = len(buckets)
    code = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, c in enumerate(buckets):
            bit = F.shiftright(c, b).bitwiseAND(F.lit(1).cast("bigint"))
            code = code.bitwiseOR(F.shiftleft(bit, b * n + i))
    return code


def zorder_by(
    df: DataFrame,
    cols: list[tuple[str, int, int]],
    bits: int = ZBITS_DEFAULT,
    num_partitions: int | None = None,
    code_col: str = "zcode",
) -> DataFrame:
    """Cluster ``df`` along the Z-curve of ``cols`` — each entry is
    ``(column, lo, hi)`` static bucketing bounds. Returns the frame
    range-partitioned and sorted by the Morton code (kept in
    ``code_col``), ready to write.

    One range-partitioning shuffle (sampled split points, so curve-
    dense regions still balance) + an in-partition sort — the same
    cost as a linear sort-by-one-column write, but every z-column
    gets file-level locality. Drop ``code_col`` after writing if the
    consumer shouldn't see it; keeping it costs one bigint and lets
    incremental appends reuse the same curve without recompute.
    """
    buckets = [_bucket(F.col(c), lo, hi, bits) for c, lo, hi in cols]
    out = df.withColumn(code_col, morton_code(buckets, bits))
    parts = [num_partitions] if num_partitions else []
    return out.repartitionByRange(*parts, code_col).sortWithinPartitions(code_col)


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    num_buckets: int,
    path: str | None = None,
) -> None:
    """Write ``df`` as a BUCKETED table: hash-partitioned into
    ``num_buckets`` files by ``key`` and sorted by it within each
    bucket — Spark's persisted co-location layout.

    The 100 TB payoff is in :func:`bucketed_join` below: two tables
    bucketed on the same key into the same bucket count join with
    ZERO Exchange on either side — the planner proves co-partitioning
    from the table metadata and emits a shuffle-free sort-merge join.
    For a fact table joined daily against the same dimensions, the
    shuffle is paid ONCE at write time instead of on every query;
    bucket-pruning on point predicates is free on top.

    ``path`` makes the table external (data at ``path``, metadata in
    the session catalog) so callers control the storage root; the
    catalog entry is what carries the bucket spec — bucketing is the
    one layout parquet files alone can't declare.
    """
    w = (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .format("parquet")
    )
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def bucketed_join(
    spark,
    left_table: str,
    right_table: str,
    key: str,
) -> DataFrame:
    """Inner-join two bucketed tables on their bucket key. When both
    were written by :func:`write_bucketed` with the same bucket
    count, the physical plan contains NO shuffle Exchange on either
    side — assert ``"Exchange hashpartitioning" not in plan`` (pinned
    by the oracled ``bucketed_join_colocated`` contract and
    tests/test_layout.py).

    The ``merge`` hint forces the sort-merge strategy so the
    demonstration matches the 100 TB case: there BOTH sides exceed
    the broadcast threshold and the planner picks SMJ on its own; at
    test SF it would broadcast the small side instead (a
    BroadcastExchange, which says nothing about co-location).
    Bucketed SMJ needs no exchange AND no per-query sort (the
    sortBy at write time already ordered each bucket)."""
    return (
        spark.table(left_table)
        .hint("merge")
        .join(spark.table(right_table), key)
    )


def list_data_files(spark, path: str) -> list[tuple[str, int]]:
    """Recursive ``(file_uri, bytes)`` inventory of a table directory
    via the Hadoop FileSystem API — works unchanged on ``file://``,
    ``s3a://``, ``gs://`` etc. (the K6 storage story). Hidden/commit
    artifacts (``_SUCCESS``, ``.crc``, ``_started``/``_committed``)
    are skipped. The listing is METADATA-sized (one row per file);
    at lakehouse scale read the table-format manifest instead of a
    directory walk — same downstream planner either way.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    it = fs.listFiles(p, True)
    out: list[tuple[str, int]] = []
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        out.append((st.getPath().toString(), int(st.getLen())))
    return out


def compaction_plan(
    files: list[tuple[str, int]],
    target_bytes: int,
) -> list[list[tuple[str, int]]]:
    """Bin-pack small files into compaction groups of ≈``target_bytes``
    via first-fit-decreasing (the same FFD discipline as
    llm/chunking.py::pack_sequences_ffd, ≤ 11/9·OPT + 1 bins):
    oversized files get a singleton bin and are left alone by
    :func:`compact_parquet`. Driver-side over the metadata-sized
    inventory — never touches data.

    Small files are the silent 100 TB scan killer: a 128 MB-target
    table fragmented into 1 MB files pays 128× the open/seek cost and
    starves vectored IO; a streaming sink appending per micro-batch
    produces exactly that. Compaction is the maintenance pass every
    lakehouse schedules (OPTIMIZE / rewrite_data_files); this is its
    planner, decoupled so tests can assert bin arithmetic exactly.
    """
    bins: list[tuple[int, list[tuple[str, int]]]] = []
    for f in sorted(files, key=lambda x: (-x[1], x[0])):
        for i, (used, members) in enumerate(bins):
            if used + f[1] <= target_bytes:
                bins[i] = (used + f[1], members + [f])
                break
        else:
            bins.append((f[1], [f]))
    return [members for _, members in bins]


def compact_parquet(
    spark,
    src_path: str,
    dst_path: str,
    target_bytes: int,
) -> DataFrame:
    """Execute a :func:`compaction_plan`: rewrite ``src_path``'s many
    small parquet files into ≈one file per bin under ``dst_path``.
    Returns the plan as a DataFrame ``(bin, n_files, in_bytes)`` for
    auditing.

    One distributed job, no driver data movement: every source file
    is read once, rows are tagged with their bin via a BROADCAST
    (file → bin) map keyed on ``input_file_name()``, hash-exchanged
    on the bin id (width = number of bins — each task writes ≈one
    target-sized file), and written ``partitionBy(bin)``. Bins are
    data-parallel, so a 10k-file backlog compacts at cluster width,
    not sequentially. Readers take the whole ``dst_path`` recursively;
    the bin= dirs are write artifacts, not a semantic partition.
    """
    import re

    files = list_data_files(spark, src_path)
    plan = compaction_plan(files, target_bytes)

    def norm(p: str) -> str:
        # Hadoop prints file:/x, input_file_name() file:///x — compare
        # scheme-normalized
        return re.sub(r"^file:/+", "/", p)

    mapping = [
        (norm(path), b)
        for b, members in enumerate(plan)
        for path, _ in members
    ]
    map_df = F.broadcast(
        local_frame(spark, mapping, "__file__ string, __bin__ int")
    )
    df = spark.read.parquet(src_path).withColumn(
        "__file__",
        F.regexp_replace(F.input_file_name(), "^file:/+", "/"),
    )
    (
        df.join(map_df, "__file__")
        .drop("__file__")
        .repartition(max(len(plan), 1), F.col("__bin__"))
        .write.mode("overwrite")
        .partitionBy("__bin__")
        .parquet(dst_path)
    )
    report = [
        (b, len(members), sum(sz for _, sz in members))
        for b, members in enumerate(plan)
    ]
    return local_frame(spark, report, "bin int, n_files int, in_bytes bigint")
