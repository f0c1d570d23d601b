"""Sources: testdata tables, manifest text scans, binary objects.

Replaces the reference's two sources — the manifest ``TextInputFormat``
scan (``java/PredictDriverCluster.java:38,42``) and the per-record
HDFS ``copyToLocalFile`` image fetch
(``java/PredictBatchMapperCluster.java:51-61``) — with declarative
Spark readers: file-split parallelism, predicate/column pushdown and
partition pruning all come from Catalyst.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing types.

    ``events.ts`` has varied physical type across testdata generations
    and is normalized to TimestampType either way:

    - TIMESTAMP(NANOS): Spark 4 can only read it as long nanos
      (``spark.sql.legacy.parquet.nanosAsLong``); truncate to micros —
      exactly what the DuckDB oracle does natively.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
      TIMESTAMP_NTZ; cast to TimestampType (wall-clock identity under
      the engine's pinned UTC session timezone) so downstream
      ``unix_micros``/watermark code sees one type everywhere.
    """
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:  # noqa: BLE001
            pass
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # integer DIV, not `/`: nano values exceed double's exact
            # integer range, so float division would drift by ±1 µs
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fan_out(df: DataFrame, target: int | None = None) -> DataFrame:
    """Unlock scan-side parallelism for CPU-heavy NARROW derivations.

    The testdata parquet files are single row groups, so Spark's
    byte-range file splitting yields ONE non-empty partition per table
    — every expression evaluated before the first shuffle (md5
    shingling, logit scoring) runs in a single task. A round-robin
    repartition of the small input (KBs–MBs) buys cores× speedup on
    the derivation that follows.

    No-op when the scan already has >= target partitions — on a real
    multi-split dataset (100 TB = tens of thousands of row groups)
    this helper disappears from the plan rather than injecting a
    pointless extra shuffle.
    """
    # Batch-only: df.rdd on a streaming DataFrame raises
    # AnalysisException (and re-plans the query on every call even on
    # batch — acceptable for the small single-split scans this guards).
    # Streaming sources size their partitions at the source; return
    # unchanged rather than blow up a future streaming caller.
    if df.isStreaming:
        return df
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """Manifest text scan → ``DataFrame[line: string]``.

    Mirror of the reference's TextInputFormat source (SURVEY.md §2A #1):
    one row per line; split-level parallelism is automatic. Note the
    reference does NOT strip UTF-8 BOMs (imagelist1.txt ships one) —
    neither do we at scan time; cleaning is a separate operator
    (operators/classify.py:clean_manifest).
    """
    return spark.read.text(path).withColumnRenamed("value", "line")


def read_binary_objects(spark: SparkSession, path_glob: str) -> DataFrame:
    """Binary object source — replaces the reference's per-record
    ``FileSystem.copyToLocalFile`` loop (java/PredictBatchMapperCluster
    .java:51-61) with the splittable ``binaryFile`` format:
    ``(path, modificationTime, length, content binary)``.

    A trailing filename glob is rewritten to ``pathGlobFilter`` over
    the parent directory: a raw glob in the load path expands to one
    ROOT PATH PER FILE, and once that exceeds
    ``parallelPartitionDiscovery.threshold`` (32) Spark launches a
    one-task-per-file distributed listing job — 25× slower than a
    single-directory listing at 1k objects, and a full cluster job
    before any data is read at 100 TB object counts.

    Splits: Spark charges each file ``spark.sql.files.openCostInBytes``
    (4 MB) on top of its length and packs files into splits of up to
    128 MB, so 1,000 objects of 4-32 KiB would become 32 splits holding
    ~600 KB each. The engine session caps a scan at one split per core
    (``session._cap_file_splits``); past the cap Spark re-packs the
    files by bytes, so splits carry about equal bytes."""
    head, tail = os.path.split(path_glob)
    if head and any(c in tail for c in "*?["):
        return (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", tail)
            .load(head)
        )
    return spark.read.format("binaryFile").load(path_glob)
