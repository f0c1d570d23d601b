"""Sinks. The reference's only sink is TextOutputFormat writing
``image_path \\t class,prob`` part files (java/PredictDriverCluster
.java:39,43; SURVEY.md §2A #20); we reproduce that exact layout plus
the engine-native columnar sinks a real pipeline uses.

The key sort picks its shuffle from the size of its input (CLAUDE.md
gotcha 19). A global ``orderBy`` first runs a sampling job over its
whole input plan to find its range bounds. An input that fits one
advisory partition needs no bounds: it is sorted in one reducer, as
the reference's MR job does with Hadoop's default of one reducer.
``--no-sort`` (``sort=False``) stays the 100 TB default: no shuffle at
all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swat_mapreduce_spark.functions.text import PROB_FORMAT


def _fits_one_reducer(df: DataFrame) -> bool:
    """True when Catalyst's size estimate of ``df`` is at most the
    session's ``spark.sql.adaptive.advisoryPartitionSizeInBytes``. An
    unknown size is estimated as ``Long.MaxValue``, so it never fits."""
    jspark = df.sparkSession._jsparkSession
    sqlconf = df.sparkSession._jvm.org.apache.spark.sql.internal.SQLConf
    advisory = jspark.sessionState().conf().getConf(
        sqlconf.ADVISORY_PARTITION_SIZE_IN_BYTES()
    )
    return df._jdf.queryExecution().analyzed().stats().sizeInBytes() <= advisory


def write_predictions_tsv(preds: DataFrame, path: str, sort: bool = True) -> None:
    """Reference-format sink: one text line ``path\\tclass,prob`` with
    prob rendered %.4f, key-sorted like the MR shuffle output.

    ``sort=True``: rows that fit one advisory partition are range-
    partitioned into ONE partition, for which Spark's RangePartitioner
    takes no sample, and sorted there — one pass over the input plan,
    one part file. Larger or unknown-size rows take a global
    ``orderBy``, whose sampling job buys AQE-sized range partitions.
    ``sort=False`` writes in scan order (the 100 TB default; no shuffle).
    """
    kv = f"concat_ws(',', `class`, format_string('{PROB_FORMAT}', prob)) AS kv"
    df = preds.select("image_path", F.expr(kv))
    if sort and _fits_one_reducer(df):
        df = df.repartitionByRange(1, "image_path").sortWithinPartitions("image_path")
    elif sort:
        df = df.orderBy("image_path")
    value = F.expr("concat_ws(char(9), image_path, kv) AS value")
    df.select(value).write.mode("overwrite").text(path)


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Columnar sink; partition columns enable partition pruning on
    re-read — the scale-path default."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
