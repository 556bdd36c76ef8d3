"""North-star analytics: TPC-H headline shapes (q1/q3/q5/q18), group-by / window / rollup / cube / pivot, sessionization and window aggregation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from small_etl_spark.queries._registry import register
from small_etl_spark.session import local_frame
from small_etl_spark.sources.tables import load_table


# --------------------------------------------------------------------------
# North-star analytics (§7.2 P5): group-by / window / rollup / pivot
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0
             AS sum_base_price,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)
             / 10000.0 AS sum_disc_price,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l_discount*100) AS BIGINT))
                    * (100 + CAST(round(l_tax*100) AS BIGINT))) AS DOUBLE)
             / 1000000.0 AS sum_charge,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)/COUNT(*) AS avg_qty,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)
             / 100.0 / COUNT(*) AS avg_price,
           CAST(SUM(CAST(round(l_discount*100) AS BIGINT)) AS DOUBLE)
             / 100.0 / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full TPC-H Q1 pricing summary (north-star): 8 aggregates over
    one scan, all money in exact integer units (cents, cents×pct,
    cents×pct×pct) so sums are order-independent and oracle-exact.
    Plan: scan-filter → partial hash agg → 6-group exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    # expr-text aggregates (round 12): one parse per output column
    # instead of ~40 Column round trips — plan construction is timed
    # in every bench rep. Literal types pinned (100.0D doubles, bigint
    # casts) so the trees are token-identical to the Column build.
    qty = "cast(l_quantity as bigint)"
    price_c = "cast(round((l_extendedprice * 100)) as bigint)"
    disc_c = "cast(round((l_discount * 100)) as bigint)"
    tax_c = "cast(round((l_tax * 100)) as bigint)"
    return (
        li.filter("l_shipdate <= cast('1998-09-02' as date)")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(f"sum({qty}) as sum_qty"),
            F.expr(
                f"(cast(sum({price_c}) as double) / 100.0D)"
                " as sum_base_price"
            ),
            F.expr(
                f"(cast(sum(({price_c} * (100 - {disc_c}))) as double)"
                " / 10000.0D) as sum_disc_price"
            ),
            F.expr(
                f"(cast(sum((({price_c} * (100 - {disc_c}))"
                f" * (100 + {tax_c}))) as double)"
                " / 1000000.0D) as sum_charge"
            ),
            F.expr(f"(cast(sum({qty}) as double) / count(1)) as avg_qty"),
            F.expr(
                f"((cast(sum({price_c}) as double) / 100.0D) / count(1))"
                " as avg_price"
            ),
            F.expr(
                f"((cast(sum({disc_c}) as double) / 100.0D) / count(1))"
                " as avg_disc"
            ),
            F.expr("count(1) as count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "groupby_agg",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0
             AS sum_base_price,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)/COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def q_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style grouped aggregation (north-star; no reference
    equivalent — reference's only agg is a record count,
    sequence_pipeline.rs:276-306). Partial (map-side) aggregation +
    one hash shuffle on the grouping keys."""
    li = load_table(spark, sf_dir, "lineitem")
    qty_int = F.col("l_quantity").cast("bigint")
    price_cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty_int).alias("sum_qty"),
        (F.sum(price_cents).cast("double") / 100.0).alias("sum_base_price"),
        (F.sum(qty_int).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "window_topk_per_group",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice, rn FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             CAST(row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_extendedprice DESC, l_linenumber ASC
             ) AS BIGINT) AS rn
      FROM lineitem
    ) WHERE rn <= 2
    """,
    headline=True,
)
def q_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via window row_number (north-star; closest
    reference op is record_index, contextual_pipeline.rs:968).

    Round 12: the input goes through ``ensure_parallelism(key_cols=
    [window key])`` — a split-starved scan (one parquet row group at
    bench SF) otherwise serializes the rank-pushdown's map-side
    Sort+partial WindowGroupLimit on ONE core (guide §2.5: unsplittable
    input → repartition after the read). The keyed exchange satisfies
    the window's required distribution, so the plan keeps ONE exchange
    and the sort moves to the 32-way post-shuffle side; at scale the
    helper no-ops and Spark's default partial-limit plan stands."""
    from small_etl_spark.llm.util import ensure_parallelism

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber").asc()
    )
    return (
        ensure_parallelism(
            li.select("l_orderkey", "l_linenumber", "l_extendedprice"),
            key_cols=["l_orderkey"],
        )
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 2)
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)
             / 10000.0 AS revenue,
           CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < DATE '1995-03-15'
      AND l_shipdate > DATE '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
    headline=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (north-star): 3-table join + grouped revenue +
    top-10. orders and customer grow linearly with scale factor, so we
    do NOT hint a broadcast on them — Catalyst's size estimates (and
    AQE at runtime) pick broadcast at small SF and shuffle join at
    100 TB, where a forced broadcast would OOM the executors. Partial
    agg runs before the groupBy exchange; TakeOrderedAndProject for
    the limit. Revenue in exact 1e-4 units (cents × discount-pct)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cutoff = "cast('1995-03-15' as date)"
    rev = (
        "(cast(round((l_extendedprice * 100)) as bigint)"
        " * (100 - cast(round((l_discount * 100)) as bigint)))"
    )
    # Round-12 eager-aggregation experiment, REVERTED by measurement:
    # pre-aggregating the shipdate-filtered fact per l_orderkey before
    # the joins (the q18 rewrite) measured +30% here — q3's dimension
    # filters (BUILDING segment × orderdate cut) prune ~90% of lines,
    # so the post-join agg exchange carries far fewer rows than a
    # pre-join agg exchange would. Eager agg pays off only when the
    # aggregation reduces more than the joins filter (q18); here the
    # join-first shape is the measured optimum (interleaved A/B,
    # OPTIMIZATION_r12.md).
    return (
        li.filter(f"l_shipdate > {cutoff}")
        .join(
            o.filter(f"o_orderdate < {cutoff}"),
            F.expr("l_orderkey = o_orderkey"),
        )
        .join(
            c.filter("c_mktsegment = 'BUILDING'"),
            F.expr("o_custkey = c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.expr(f"(cast(sum({rev}) as double) / 10000.0D) as revenue")
        )
        .selectExpr(
            "l_orderkey",
            "revenue",
            "cast(cast(o_orderdate as timestamp) as long) as o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)
                    * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)
             / 10000.0 AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
    headline=True,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (north-star): 6-table star join through
    region→nation→supplier with a same-nation customer constraint.
    Only the constant-cardinality dimensions (region: 5 rows, nation:
    25 rows) carry an explicit broadcast hint; orders / customer /
    supplier are SF-proportional, so Catalyst size stats + AQE choose
    broadcast-vs-shuffle per deployment — a forced broadcast would OOM
    at the 100 TB point. Columns are pruned on every side so only the
    join keys and revenue inputs move."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter("r_name = 'ASIA'")
    rev = (
        "(cast(round((l_extendedprice * 100)) as bigint)"
        " * (100 - cast(round((l_discount * 100)) as bigint)))"
    )
    return (
        li.join(o, F.expr("l_orderkey = o_orderkey"))
        .join(c, F.expr("o_custkey = c_custkey"))
        .join(
            s,
            F.expr(
                "(l_suppkey = s_suppkey) AND (c_nationkey = s_nationkey)"
            ),
        )
        .join(F.broadcast(n), F.expr("s_nationkey = n_nationkey"))
        .join(F.broadcast(r), F.expr("n_regionkey = r_regionkey"))
        .groupBy("n_name")
        .agg(F.expr(f"(cast(sum({rev}) as double) / 10000.0D) as revenue"))
    )


@register(
    "q18_large_orders",
    """
    SELECT c_name, c_custkey, o_orderkey,
           CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS BIGINT)) > 250
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
    headline=True,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (north-star), eager-aggregation form (round 12).

    The declared result groups ONLY by order-level keys, so the
    per-order quantity sum the HAVING subquery computes IS the final
    ``total_qty``: summing the semi-joined lineitem rows again per
    (order, customer) group re-derives the same number, because
    orders.o_orderkey and customer.c_custkey are unique (1:1 joins
    fan nothing out). Catalyst cannot see that equivalence (it does
    no eager aggregation pushdown), so the round-12 plan hands it the
    already-reduced form: ONE lineitem scan → partial+final hash agg
    per l_orderkey → HAVING filter → join orders → join customer →
    top-100. vs the r11 plan this removes the second full lineitem
    scan, the LeftSemi join against it, and the re-aggregation — at
    100 TB the fact table is read once instead of twice and the star
    joins see only qualifying ORDERS (selective), never raw lines.
    No forced broadcasts: the agg output, orders and customer all
    scale with the data; AQE picks broadcast at small SF and shuffle
    join at 100 TB. Result identity is pinned by this entry's
    unchanged DuckDB oracle (the IN-subquery SQL).

    The fact side goes through ``ensure_parallelism(key_cols=
    [l_orderkey])`` (round 12, same split-starved fix as
    dedup_first_wins): the keyed exchange satisfies the per-order
    aggregate's distribution (one Exchange either way), moving the agg
    off the one-row-group scan task onto the 32-way post-shuffle side
    (interleaved min-of-5/7 A/B: −5%/−16%). No-op at scale."""
    from small_etl_spark.llm.util import ensure_parallelism

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    per_order = (
        ensure_parallelism(
            li.select("l_orderkey", "l_quantity"), key_cols=["l_orderkey"]
        )
        .groupBy("l_orderkey")
        .agg(F.expr("sum(cast(l_quantity as bigint)) as total_qty"))
        .filter("total_qty > 250")
    )
    return (
        per_order.join(o, F.expr("l_orderkey = o_orderkey"))
        .join(c, F.expr("o_custkey = c_custkey"))
        .selectExpr(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "cast(cast(o_orderdate as timestamp) as long) as o_orderdate",
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@register(
    "having_filter",
    """
    SELECT o_custkey, COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100.0
             AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 8
    """,
)
def q_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (north-star; TPC-H Q18 shape): post-aggregate
    predicate — Catalyst evaluates it after the partial+final agg, no
    second shuffle."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum(cents).cast("double") / 100.0).alias("total_spend"),
        )
        .filter(F.col("n_orders") >= 8)
    )


@register(
    "cube_agg",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over both grouping dimensions (north-star; all 2^k
    grouping sets in one shuffle via grouping-set expansion)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "grouping_sets_flags",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           COUNT(*) AS n,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
             AS gid
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus),
                            (l_returnflag, l_linestatus))
    """,
)
def q_grouping_sets_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (the general form CUBE/ROLLUP
    specialize): three chosen sets in ONE shuffle via grouping-set
    expansion, with grouping() flags disambiguating real NULLs from
    subtotal rows — at scale this replaces three separate groupBy jobs
    and three scans with one.

    Until the round-5 package split this was silently shadowed by the
    SQL-surface ``grouping_sets_agg`` in events_ops.py (same name,
    later registration; dict overwrite kept the early position — and
    the shadowed body even referenced a column the testdata lineitem
    does not have, so it had never actually run). The registry now
    REJECTS duplicate names, and the grouping()-flag variant lives on
    under its own name, fixed to real columns."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], ["l_returnflag", "l_linestatus"]],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
        (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
        .cast("bigint")
        .alias("gid"),
    )


@register(
    "window_functions",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           lag(o_totalprice) OVER w AS prev_total,
           lead(o_totalprice) OVER w AS next_total,
           first_value(o_totalprice) OVER w AS max_total,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth (north-star): rank/dense_rank/lag/lead/
    first_value/ntile in one pass — one shuffle on the partition key,
    single sort serves every frame."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.lag("o_totalprice").over(w).alias("prev_total"),
        F.lead("o_totalprice").over(w).alias("next_total"),
        F.first("o_totalprice").over(w).alias("max_total"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


@register(
    "date_functions",
    """
    SELECT o_orderkey,
           CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS month_start,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(dayofweek(o_orderdate) AS INT) AS dow,
           CAST(epoch(o_orderdate + INTERVAL 90 DAY) AS BIGINT) AS due_date,
           CAST(date_diff('day', o_orderdate, DATE '1998-12-31') AS BIGINT)
             AS days_to_eoy
    FROM orders
    """,
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar surface (north-star — the reference treats
    dates as opaque strings, SURVEY §2.9): trunc, parts, arithmetic,
    diffs. DuckDB dayofweek is 0-based Sunday; Spark's is 1-based —
    aligned via dayofweek-1."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("long").alias("month_start"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("dow"),
        F.date_add("o_orderdate", 90).cast("timestamp").cast("long").alias("due_date"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate"))
        .cast("long")
        .alias("days_to_eoy"),
    )


@register(
    "string_functions",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substring(c_name, 1, 8) AS name_prefix,
           CAST(length(c_name) AS INT) AS name_len,
           replace(c_mktsegment, 'AUTO', 'CAR') AS segment_replaced,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
           split_part(c_name, '#', 2) AS name_suffix,
           c_name || '/' || c_mktsegment AS combined
    FROM customer
    """,
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface (north-star): case, substring, length,
    replace, pad, split, concat — all JVM built-ins in one codegen
    stage."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("int").alias("name_len"),
        F.replace(F.col("c_mktsegment"), F.lit("AUTO"), F.lit("CAR")).alias(
            "segment_replaced"
        ),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_suffix"),
        F.concat_ws("/", "c_name", "c_mktsegment").alias("combined"),
    )


@register(
    "approx_percentiles",
    """
    SELECT event_type, TRUE AS p50_in_band
    FROM events GROUP BY event_type
    """,
)
def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based median (north-star 100 TB path: mergeable
    KLL-style sketch, no global sort). The sketch value itself is
    engine-specific, so the ORACLE CHECKS THE APPROXIMATION CONTRACT:
    with accuracy=1000 the returned sample's rank error is ≤ n/1000,
    so its value must lie inside the exact [p49, p51] band — the query
    emits that boolean per group and the oracle asserts it is TRUE for
    every group. Deterministic for fixed input (the sketch has no
    RNG), so the contract row is a stable driver check, not a flaky
    tolerance."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_percentile("value", F.lit(0.5), F.lit(1000)).alias("__p50__"),
            F.percentile("value", F.lit(0.49)).alias("__lo__"),
            F.percentile("value", F.lit(0.51)).alias("__hi__"),
        )
        .select(
            "event_type",
            (
                (F.col("__p50__") >= F.col("__lo__"))
                & (F.col("__p50__") <= F.col("__hi__"))
            ).alias("p50_in_band"),
        )
    )


@register(
    "rollup_agg",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (north-star)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "pivot_agg",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS qty_O,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (north-star); explicit value list avoids the extra
    distinct-values job at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("bigint")))
    )
    return out.withColumnsRenamed({"O": "qty_O", "F": "qty_F"})


@register(
    "distinct_agg",
    """
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS distinct_parts,
           COUNT(DISTINCT l_suppkey) AS distinct_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) (north-star). Spark expands multi-distinct; for
    100 TB cardinality estimation prefer approx_distinct (rows-only)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
    )


@register(
    "approx_distinct",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS approx_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the 100 TB cardinality
    path. The HLL estimate is engine-specific, so the ORACLE CHECKS
    THE APPROXIMATION CONTRACT: at rsd=0.01 the estimate must land
    within 5% (5σ) of the exact count, which the oracle computes for
    real; the query emits the exact count plus the in-tolerance
    boolean. HLL hashing has no RNG → deterministic for fixed input,
    so this is a stable driver row, not a flaky tolerance."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.01).alias("__approx__"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("__approx__") - F.col("exact_parts"))
                <= 0.05 * F.col("exact_parts")
            ).alias("approx_ok"),
        )
    )


@register(
    "sessionize",
    """
    SELECT user_id, event_id,
           CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800.0 THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_idx
    FROM (
      SELECT user_id, event_id, ts,
             epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               AS gap
      FROM events
    )
    """,
    headline=True,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min inactivity gap splits sessions (north-star
    batch twin of streaming session windows). One shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("double")
    gap = epoch - F.lag(epoch).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800.0), F.lit(1)).otherwise(F.lit(0))
    return ev.select(
        "user_id",
        "event_id",
        F.sum(is_new).over(w).alias("session_idx"),
    )


@register(
    "window_agg_hourly",
    """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
           event_type, COUNT(*) AS n,
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
    headline=True,
)
def q_window_agg_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation, batch form (north-star; twin of the
    streaming version in small_etl_spark.streaming)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n",
            "min_value",
            "max_value",
        )
    )


@register(
    "stream_window_agg_hourly",
    """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
           event_type, COUNT(*) AS n,
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_window_agg_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTUAL Structured Streaming run under the oracle gate: the
    tumbling-window agg executes as a readStream file source with a
    watermark, drains with availableNow into a memory sink, and the
    drained table is hash-compared against the same ANSI SQL the batch
    twin uses — streaming results must equal batch results exactly."""
    import shutil
    import tempfile
    import uuid

    from small_etl_spark.streaming.windows import (
        read_events_stream,
        run_to_memory_sink,
        tumbling_window_agg,
    )

    # file-source streams read directories; stage the single file
    stream_dir = tempfile.mkdtemp(prefix="events_stream_")
    shutil.copy(f"{sf_dir}/events.parquet", stream_dir)
    stream = tumbling_window_agg(read_events_stream(spark, stream_dir))
    sink = f"stream_hourly_{uuid.uuid4().hex[:8]}"
    run_to_memory_sink(stream, sink)
    return spark.table(sink)


@register(
    "session_window_agg",
    """
    WITH g AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
      FROM g
    )
    SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           CAST(floor(epoch(max(ts))) AS BIGINT) + 1800 AS session_end,
           user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window batch form (streaming twin in
    small_etl_spark.streaming.windows.session_window_agg; equivalence
    pinned in tests/test_streaming.py). Session end = last event +
    gap; money summed in exact cents."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents).cast("double") / 100.0).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


@register(
    "sliding_window_agg",
    """
    WITH base AS (
      SELECT event_type, value,
             CAST(floor(epoch(ts)/1800)*1800 AS BIGINT) AS w0
      FROM events
    ), expanded AS (
      SELECT event_type, value, w0 AS window_start FROM base
      UNION ALL
      SELECT event_type, value, w0 - 1800 FROM base
    )
    SELECT window_start, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
    FROM expanded GROUP BY window_start, event_type
    """,
)
def q_sliding_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30min window per event_type (streaming twin:
    streaming.windows.sliding_window_agg). Each event lands in exactly
    window/slide = 2 epoch-aligned windows — the oracle enumerates
    both shifts explicitly."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents).cast("double") / 100.0).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "salted_agg",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(round(value*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
    FROM events GROUP BY event_type
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage skew-salted aggregation (operators.skew.salted_agg):
    a hot key spreads over 16 salt reducers in stage 1, stage 2 merges
    partials — same result as the plain groupBy, skew-immune plan."""
    from small_etl_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("bigint")
    )
    out = salted_agg(
        ev, ["event_type"], {"n": "count", "cents_sum": "sum:cents"},
        salt_buckets=16,
    )
    return out.select(
        "event_type", "n",
        (F.col("cents_sum").cast("double") / 100.0).alias("sum_value"),
    )


@register(
    "observed_write_metrics",
    """
    SELECT COUNT(*) AS rows,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents,
           CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_flags
    FROM lineitem
    """,
)
def q_observed_write_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-cost pipeline metrics via Dataset.observe
    (operators/profiling.py::observe_during): counts/sums ride the
    write action's single pass as a CollectMetrics node — the
    scale-correct K7 execution-summary shape, where a per-stage
    count() would re-run the stage. The query drives a REAL noop
    write with the observation attached and returns what the
    Observation reported; the oracle recomputes the same aggregates
    from the table, so the free-rider metrics are value-checked
    against a ground-truth scan."""
    from small_etl_spark.operators.profiling import observe_during

    li = load_table(spark, sf_dir, "lineitem")
    observed, obs = observe_during(
        li,
        {
            "rows": F.count(F.lit(1)),
            "price_cents": F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ),
            "null_flags": F.sum(F.col("l_returnflag").isNull().cast("bigint")),
        },
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return local_frame(
        spark,
        [(m["rows"], m["price_cents"], m["null_flags"])],
        "rows bigint, price_cents bigint, null_flags bigint",
    )
