"""Driver-built frames plan as JVM local relations (``session.local_frame``)
and the session's codegen cache holds the engine's working set.

``spark.createDataFrame(list, schema)`` is a pickled Python RDD
(``Scan ExistingRDD``): every job over it starts ``pyspark.daemon``
workers. ``local_frame`` hands the same rows over as an Arrow table, a
``LocalTableScan`` the JVM runs alone. Each routed site is driven here
through a spy that checks the frame it built: the executed plan has a
``LocalTableScan`` and no ``ExistingRDD``, and its rows and schema equal
the list-built form (exceptAll both ways).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
from datetime import date
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

from small_etl_spark import session as S
from small_etl_spark import sql as sqlmod
from small_etl_spark.operators import layout
from small_etl_spark.sinks import versioned as V
from small_etl_spark.sources import http

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _comparable(df):
    """Maps as sorted entry arrays: set operations refuse map columns."""
    return df.select(
        [
            F.array_sort(F.map_entries(F.col(f"`{f.name}`"))).alias(f.name)
            if isinstance(f.dataType, MapType)
            else F.col(f"`{f.name}`")
            for f in df.schema.fields
        ]
    )


def _assert_local_and_same(spark, rows, schema, df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    old = spark.createDataFrame(list(rows), schema)
    assert df.schema == old.schema
    new, old = _comparable(df), _comparable(old)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


# --------------------------------------------------------- the helper

_MATRIX = (
    "s string, n bigint, i int, b boolean, d double, dec decimal(12,2), "
    "day date, m map<string,string>, a array<string>, "
    "st struct<x: int, y: string>"
)


@pytest.mark.parametrize(
    "rows",
    [
        [
            (
                "x", 1, 2, True, 0.5, Decimal("1.25"), date(2024, 1, 2),
                {"k": "v", "j": "w"}, ["p", "q"], (1, "y"),
            ),
            ("", -(2**63), -(2**31), False, -0.0, Decimal("-0.01"),
             date(1970, 1, 1), {}, [], (None, None)),
            (None,) * 10,
            (None, None, None, None, None, None, None,
             {"k": None}, [None, "r"], None),
        ],
        [],
    ],
    ids=["values-and-nulls", "zero-rows"],
)
def test_local_frame_matches_list_form(spark, rows):
    df = S.local_frame(spark, rows, _MATRIX)
    _assert_local_and_same(spark, rows, _MATRIX, df)


# ----------------------------------------------------- routed sites


@pytest.fixture()
def built(monkeypatch):
    """(calling function, rows, schema, frame) of every frame the
    routed modules build."""
    out = []

    def spy(spark, rows, schema):
        rows = list(rows)
        df = S.local_frame(spark, rows, schema)
        out.append((sys._getframe(1).f_code.co_name, rows, schema, df))
        return df

    for mod in (V, sqlmod, layout, http):
        monkeypatch.setattr(mod, "local_frame", spy)
    return out


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def _versioned(spark, root, monkeypatch):
    t = str(root / "t")
    # one file per partition; the footer and bloom harvests run as
    # Spark jobs from two files on
    monkeypatch.setattr(V, "_DIST_FOOTER_THRESHOLD", 2)
    V.commit_snapshot(
        _kv(spark, 0, 20).repartition(2, "k"), t, mode="overwrite",
        bloom_columns=["k"],
    )
    V.read_snapshot(spark, t, with_lineage=True).collect()
    V.table_changes(spark, t, 0, 0).collect()
    src = spark.range(18, 22).select(
        F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v")
    )
    V.stream_upsert_batch(src, batch_id=0, table=t, key="k")
    V.read_snapshot(spark, t).collect()
    V.table_changes(spark, t, 0, 1).collect()
    V.compact_eq_deletes(spark, t)
    V.snapshot_history(spark, t).collect()
    V.table_files(spark, t).collect()
    V.table_partitions(spark, t).collect()
    V.manifest_agg(
        spark, t, {"n": ("count", "*"), "lo": ("min", "k")}
    ).collect()
    p = str(root / "p")
    V.commit_snapshot(
        _kv(spark, 0, 6).withColumn("day", F.col("k") % 2), p,
        mode="overwrite", partition_by=["day"],
    )
    V.table_files(spark, p).collect()
    V.table_partitions(spark, p).collect()
    # every file pruned: the empty read keeps the lineage column
    V.read_snapshot(
        spark, t, where=[("k", ">", 1000)], with_lineage=True
    ).collect()


def _sql(spark, root, monkeypatch):
    sql = sqlmod.sql
    t = {"t": str(root / "t"), "u": str(root / "u"), "w": str(root / "w")}
    sql(spark, "CREATE TABLE t (k bigint, m map<string,int>, f boolean)", t)
    sql(spark, "INSERT INTO t VALUES (1, map('a', 1), true)", t)
    sql(spark, "CREATE TABLE u LIKE t", t)
    sql(spark, "SHOW TABLES", tables=t).collect()
    sql(spark, "SHOW BRANCHES t", tables=t).collect()
    sql(spark, "ALTER TABLE t CREATE TAG cut", tables=t)
    sql(spark, "SHOW TAGS t", tables=t).collect()
    sql(spark, "DESCRIBE DETAIL t", t).collect()
    sql(spark, "SHOW CREATE TABLE t", t).collect()
    sql(spark, "VACUUM t RETAIN 0 HOURS", t).collect()
    cat = str(root / "cat")
    V.catalog_commit(cat, {"t": t["t"]})
    sql(
        spark, "BEGIN; INSERT INTO t VALUES (2, NULL, NULL); COMMIT",
        catalog_root=cat,
    ).collect()
    sql(spark, "DESCRIBE CATALOG", catalog_root=cat).collect()


def _layout(spark, root, monkeypatch):
    src = str(root / "src")
    _kv(spark, 0, 40).repartition(4).write.parquet(src)
    layout.compact_parquet(spark, src, str(root / "dst"), 1 << 20).collect()


def _http(spark, root, monkeypatch):
    df = http.records_to_df(spark, [])
    assert df.columns == [] and df.count() == 0


_SITES = {
    _versioned: {
        "_harvest_footer_entries", "_harvest_bloom_entries",
        "_read_files", "_read_with_lineage", "read_snapshot",
        "_apply_eq_deletes", "compact_eq_deletes", "table_changes",
        "snapshot_history", "table_files", "table_partitions",
        "manifest_agg",
    },
    _sql: {
        "_dml_result", "_dml", "_dml_vacuum", "_ddl_create",
        "_sql_txn_block", "_describe_detail", "_show_create_table",
    },
    _layout: {"compact_parquet"},
    _http: {"records_to_df"},
}


@pytest.mark.parametrize("drive", list(_SITES), ids=lambda f: f.__name__[1:])
def test_routed_sites_build_local_relations(
    spark, tmp_path, monkeypatch, built, drive
):
    drive(spark, tmp_path, monkeypatch)
    assert {site for site, *_ in built} == _SITES[drive]
    for _site, rows, schema, df in built:
        if not df.columns:
            continue  # records_to_df: checked by its driver
        _assert_local_and_same(spark, rows, schema, df)
    shapes = {
        type(f.dataType).__name__
        for *_, df in built for f in df.schema.fields
    }
    if drive is _versioned:  # table_files / table_partitions rows
        assert {"MapType", "ArrayType", "BooleanType"} <= shapes
        assert any(not rows for *_, rows, _s, _d in built)


def test_merge_upsert_starts_no_python_worker(tmp_path):
    """A fresh session commits a lineage table, then ``merge_upsert``s
    into it and reads it back with lineage: the JVM starts no
    ``pyspark.daemon`` for any of it (a shared session's daemon would
    be reused, so the count runs in its own process)."""
    script = textwrap.dedent(
        f"""
        import json, os
        from pyspark import SparkContext
        from pyspark.sql import functions as F
        from small_etl_spark.session import get_spark
        from small_etl_spark.sinks import versioned as V

        spark = get_spark("no-daemon", master="local[2]",
                          shuffle_partitions=2)
        jvm_pid = SparkContext._gateway.proc.pid

        def daemons():  # pyspark.daemon children of this JVM
            n = 0
            for d in filter(str.isdigit, os.listdir("/proc")):
                try:
                    with open(f"/proc/{{d}}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                    with open(f"/proc/{{d}}/cmdline", "rb") as f:
                        n += ppid == jvm_pid and b"pyspark.daemon" in f.read()
                except OSError:
                    pass
            return n

        t = {str(tmp_path / "t")!r}
        kv = lambda lo, hi, d: spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * d).alias("v"))
        V.commit_snapshot(kv(0, 50, 2).repartition(4), t, mode="overwrite")
        before = daemons()
        V.merge_upsert(spark, t, kv(40, 60, 3), key="k")
        rows = V.read_snapshot(spark, t, with_lineage=True).collect()
        print(json.dumps({{"before": before, "after": daemons(),
                          "rows": len(rows),
                          "ids": len({{r._row_id for r in rows}})}}))
        spark.stop()
        """
    )
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got == {"before": 0, "after": 0, "rows": 60, "ids": 60}


# ------------------------------------------------------ codegen cache


def test_codegen_cache_holds_the_analytics_round(spark, tmp_path):
    """The six analytics-workload queries, run twice through the noop
    sink, compile nothing on a third pass: the session's codegen cache
    holds them next to whatever earlier tests left in it."""
    from perfbench import inputs
    from perfbench.workloads import Analytics

    from small_etl_spark.queries import REGISTRY

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"
    data = str(tmp_path / "sf0.001")
    inputs.write_star_schema(data, seed=7, sf=0.001, n_docs=60)
    metric = (
        spark.sparkContext._jvm.org.apache.spark.metrics.source
        .CodegenMetrics.METRIC_COMPILATION_TIME()
    )

    def round_():
        for name in Analytics.queries:
            REGISTRY[name].builder(spark, data).write.format("noop").mode(
                "overwrite"
            ).save()

    round_()
    round_()
    compiled = metric.getCount()
    round_()
    assert metric.getCount() == compiled
