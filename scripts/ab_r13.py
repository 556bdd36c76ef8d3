#!/usr/bin/env python3
"""Round-13 A/B harness: interleaved min-of-N of current-vs-candidate
forms (same session).

Usage:
    python scripts/ab_r13.py EXP [--reps=N] [--verify] [--sf-dir=DIR]

Experiments:
    q5        join order: star chain last (shipped) vs ASIA-supplier
              reduction first (candidate)
    ccstar    cc_star convergence: eager ckpt + diff job (shipped) vs
              lazy ckpt folded into the diff job (candidate)
    cumsum    global_cumsum offsets: driver collect+createDataFrame
              (shipped) vs window-over-totals broadcast (candidate)
    hourly    window_agg_hourly noise check: shipped form vs itself
              (interleaved twice — any spread is host noise)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Window, functions as F

from small_etl_spark.session import get_spark
from small_etl_spark.sources.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

REV = (
    "(cast(round((l_extendedprice * 100)) as bigint)"
    " * (100 - cast(round((l_discount * 100)) as bigint)))"
)


def q5_shipped(spark, sf_dir):
    from small_etl_spark.queries import REGISTRY

    return REGISTRY["q5_local_supplier_volume"].builder(spark, sf_dir)


def q5_candidate(spark, sf_dir):
    """Region→nation→supplier reduction FIRST: the ASIA filter reaches
    the fact table at the first probe (1/5 of lines survive) instead
    of the fifth."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter("r_name = 'ASIA'")
    s_asia = (
        s.join(F.broadcast(n), F.expr("s_nationkey = n_nationkey"))
        .join(F.broadcast(r), F.expr("n_regionkey = r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(s_asia, F.expr("l_suppkey = s_suppkey"))
        .join(o, F.expr("l_orderkey = o_orderkey"))
        .join(
            c,
            F.expr("(o_custkey = c_custkey) AND (c_nationkey = s_nationkey)"),
        )
        .groupBy("n_name")
        .agg(F.expr(f"(cast(sum({REV}) as double) / 10000.0D) as revenue"))
    )


def _ccstar_pairs(spark, sf_dir):
    from small_etl_spark.llm.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return docs, ngram_jaccard_pairs(docs, group_col="source", min_jaccard=0.8)


def ccstar_shipped(spark, sf_dir):
    from small_etl_spark.queries import REGISTRY

    return REGISTRY["cc_star_components"].builder(spark, sf_dir)


def ccstar_candidate(spark, sf_dir):
    """cc_two_phase_star with the per-round eager localCheckpoint made
    LAZY: the convergence-diff job materializes the checkpoint, so a
    round costs one scheduled job (plus the fill-in for any partitions
    the limit(1) short-circuit skipped) instead of two full ones."""
    docs, pairs = _ccstar_pairs(spark, sf_dir)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))

    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def large_star(ed):
        nbrs = ed.unionByName(
            ed.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        big = nbrs.filter(F.col("v") > F.col("u"))
        return (
            big.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(ed):
        directed = ed.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        m = directed.groupBy("u").agg(F.min("v").alias("m"))
        return (
            directed.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(m.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    converged = False
    for _ in range(12):
        nxt = small_star(large_star(e)).localCheckpoint(eager=False)
        if (
            nxt.exceptAll(e)
            .unionByName(e.exceptAll(nxt))
            .limit(1)
            .count()
            == 0
        ):
            e = nxt
            converged = True
            break
        e = nxt
    if not converged:
        raise RuntimeError("did not converge")
    labels = e.select(
        F.greatest("u", "v").alias("node"), F.least("u", "v").alias("component")
    )
    mins = labels.groupBy("node").agg(F.min("component").alias("component"))
    roots = mins.select(F.col("component").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    cc = mins.unionByName(roots).distinct().select(
        F.col("node").alias("doc_id"), "component"
    )
    singles = docs.select("doc_id").join(cc, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("component")
    )
    return cc.unionByName(singles)


def _cumsum_input(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        "cast(n_chars as bigint) as v",
        "substring(md5(cast(cast(doc_id as string) as binary)), 1, 4) as h",
    )


def cumsum_shipped(spark, sf_dir):
    from small_etl_spark.operators.sort import global_cumsum

    return global_cumsum(_cumsum_input(spark, sf_dir), ["h", "doc_id"], "v")


def cumsum_candidate(spark, sf_dir):
    """global_cumsum with the per-partition offsets computed as a tiny
    window over the totals agg (broadcast-joined) instead of a driver
    collect + createDataFrame — one fewer scheduled job and no py4j
    result transfer; the pinned range exchange stays."""
    df = _cumsum_input(spark, sf_dir)
    order_cols = ["h", "doc_id"]
    ranged = (
        df.repartitionByRange(*order_cols)
        .withColumn("__pid__", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    wo = (
        Window.orderBy("__pid__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off_df = (
        ranged.groupBy("__pid__")
        .agg(F.sum("v").alias("__t__"))
        .select(
            "__pid__",
            F.coalesce(F.sum("__t__").over(wo), F.lit(0))
            .cast("bigint")
            .alias("__off__"),
        )
    )
    joined = ranged.join(F.broadcast(off_df), "__pid__", "left").withColumn(
        "__off__", F.coalesce(F.col("__off__"), F.lit(0)).cast("bigint")
    )
    w = (
        Window.partitionBy("__pid__")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.withColumn(
        "cumsum", (F.col("__off__") + F.sum("v").over(w)).cast("bigint")
    ).select(*df.columns, "cumsum")


def hourly_shipped(spark, sf_dir):
    from small_etl_spark.queries import REGISTRY

    return REGISTRY["window_agg_hourly"].builder(spark, sf_dir)


EXPERIMENTS = {
    "q5": (q5_shipped, q5_candidate),
    "ccstar": (ccstar_shipped, ccstar_candidate),
    "cumsum": (cumsum_shipped, cumsum_candidate),
    "hourly": (hourly_shipped, hourly_shipped),
}


def main() -> None:
    exp = None
    reps = 5
    verify = False
    global SF_DIR
    for a in sys.argv[1:]:
        if a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
        elif a == "--verify":
            verify = True
        elif a.startswith("--sf-dir="):
            SF_DIR = a.split("=", 1)[1]
        else:
            exp = a
    fa, fb = EXPERIMENTS[exp]
    spark = get_spark(f"ab-r13-{exp}")
    warm = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    warm.groupBy("l_returnflag").count().write.format("noop").mode(
        "overwrite"
    ).save()

    if verify:
        for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01", SF_DIR):
            a_df, b_df = fa(spark, d), fb(spark, d)
            assert a_df.columns == b_df.columns, (d, a_df.columns, b_df.columns)
            d1 = a_df.exceptAll(b_df).count()
            d2 = b_df.exceptAll(a_df).count()
            print(f"verify {d}: exceptAll a-b={d1} b-a={d2}")
            assert d1 == 0 and d2 == 0, f"MISMATCH at {d}"
        print("verify: identical rows at all three SFs")

    # warmups (untimed, both forms)
    for f in (fa, fb):
        f(spark, "/root/testdata/sf0.001").write.format("noop").mode(
            "overwrite"
        ).save()
        f(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    res = {"A": [], "B": []}
    for i in range(reps):
        for label, f in (("A", fa), ("B", fb)):
            t0 = time.perf_counter()
            f(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            res[label].append(time.perf_counter() - t0)
    per_pair = [
        "A" if a < b else "B" for a, b in zip(res["A"], res["B"])
    ]
    print(
        f"{exp}: A(shipped) min={min(res['A']):.3f}s "
        f"B(candidate) min={min(res['B']):.3f}s  "
        f"delta={100 * (min(res['B']) / min(res['A']) - 1):+.1f}%  "
        f"pairwise winners={per_pair}"
    )
    print("A reps:", [round(x, 3) for x in res["A"]])
    print("B reps:", [round(x, 3) for x in res["B"]])


if __name__ == "__main__":
    main()
