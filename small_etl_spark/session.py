"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the same settings are
what we'd ship to a 1000-executor cluster job conf: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), UTC session
timezone (oracle parity and sanity at scale), Arrow enabled for the
Pandas-UDF slow path.

Generated code and driver-local frames are one-time costs per session:

- ``spark.sql.codegen.cache.maxEntries`` is raised from Spark's 100 to
  1024, so the engine's working set of generated classes stays
  compiled. A registry query generates 11-22 classes; the six queries
  of the perfbench ``analytics`` round generate 95 (sf0.01, 4 cores).
  At 100 entries they evicted each other: every warm round recompiled
  28 classes with Janino, and HotSpot profiled and JIT-compiled the
  fresh bytecode again. At 1024 a warm round compiles none, and its
  process CPU fell from 7.4 to 5.4 s (median of 10 interleaved pairs).
  An entry holds one generated class in metaspace; the benchmark's
  retained memory moved -0.4% (analytics) and +4% (etl).
- :func:`local_frame` builds the small frames the driver assembles
  itself (manifest listings, statement results) as JVM local relations
  instead of pickled Python RDDs, so no job over them starts a Python
  worker.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# K6 cloud storage (reference: src/config/lambda.rs:173-246 reads and
# writes S3 directly). Spark-first, everything is a Hadoop-FS URI —
# the same df.read/df.write works on file://, s3a://, gs://, abfss://.
# This conf block is what we'd merge into the session for S3: the
# hadoop-aws + aws-sdk jars ship with a cluster distro (they are not in
# this container, so tests exercise a second *file://* root instead).
S3A_CONF = {
    # executor-wide S3A committer: task commits are O(1) metadata ops,
    # not directory renames (required for object stores).
    "spark.sql.sources.commitProtocolClass": (
        "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol"
    ),
    "spark.sql.parquet.output.committer.class": (
        "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter"
    ),
    "spark.hadoop.fs.s3a.committer.name": "magic",
    "spark.hadoop.fs.s3a.aws.credentials.provider": (
        "org.apache.hadoop.fs.s3a.auth.IAMInstanceCredentialsProvider,"
        "com.amazonaws.auth.EnvironmentVariableCredentialsProvider"
    ),
    # connection pool sized for 32-core executors doing parquet range reads
    "spark.hadoop.fs.s3a.connection.maximum": "96",
    "spark.hadoop.fs.s3a.threads.max": "64",
    "spark.hadoop.fs.s3a.fast.upload": "true",
    # vectored IO (Hadoop 3.3.5+): parquet column chunks in parallel
    "spark.hadoop.fs.s3a.vectored.read.min.seek.size": "4K",
    "spark.hadoop.fs.s3a.vectored.read.max.merged.size": "1M",
}


def get_spark(
    app_name: str = "small_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``. For S3-backed IO pass
    ``extra_conf=S3A_CONF`` (needs the hadoop-aws jars of a cluster
    distro; see K6 note above).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # transformWithStateInPandas needs google.protobuf in the driver
    # and in every worker the JVM spawns; enable the container shim
    # BEFORE the JVM launches (it snapshots the environment). No-op
    # wherever protobuf is properly installed.
    from small_etl_spark.streaming.pbcompat import enable_container_protobuf

    enable_container_protobuf()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: coalesce tiny shuffle partitions, split skewed ones,
        # convert sort-merge→broadcast when runtime stats allow.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom filters: a selective dimension filter is turned
        # into a bloom filter pushed into the fact-side scan, pruning
        # row groups before the join — inert at test SF (creation
        # thresholds), a major scan saver on selective star joins at
        # the 100 TB point.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # ICU case mappings make lower()/upper() collation-aware, but the
        # one-time CollationAwareUTF8String static init costs minutes of
        # CPU; JVM simple case mapping is identical for our data (and
        # matches DuckDB). Also set at runtime in sources.tables.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # holds the engine's working set of generated classes, so a
        # warm session never recompiles (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # 128 MB input splits: at 100 TB this is ~800k tasks — fine for
        # a large cluster; locally parquet files are single-split anyway.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence[Any]], schema: StructType | str
) -> DataFrame:
    """A small driver-built frame as a JVM ``LocalTableScan``.

    ``spark.createDataFrame(list, schema)`` pickles the rows into a
    Python RDD (``Scan ExistingRDD``), so every job over it starts
    ``pyspark.daemon`` workers just to unpickle them. The same rows as
    a ``pyarrow.Table`` become a local relation the JVM evaluates alone
    (up to ``spark.sql.execution.arrow.localRelationThreshold``, 48 MB
    by default). ``rows`` are tuples in ``schema`` order holding the
    Python values the list form takes (dicts for maps, lists for
    arrays, None for NULL); ``schema`` is a ``StructType`` or its DDL
    text."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = [
        pa.array([row[i] for row in rows], type=field.type)
        for i, field in enumerate(arrow_schema)
    ]
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
