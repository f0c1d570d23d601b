"""Sinks. The reference's only sink is TextOutputFormat writing
``image_path \\t class,prob`` part files (java/PredictDriverCluster
.java:39,43; SURVEY.md §2A #20); we reproduce that exact layout plus
the engine-native columnar sinks a real pipeline uses."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swat_mapreduce_spark.functions.text import format_prob


def write_predictions_tsv(preds: DataFrame, path: str, sort: bool = True) -> None:
    """Reference-format sink: one text line ``path\\tclass,prob`` with
    prob rendered %.4f, key-sorted like the MR shuffle output.

    At 100 TB you'd drop the global sort (sortWithinPartitions keeps
    the reference's per-reducer ordering without a total order).
    """
    df = preds.select(
        "image_path",
        F.concat_ws(",", F.col("class"), format_prob(F.col("prob"))).alias("kv"),
    )
    if sort:
        df = df.orderBy("image_path")
    df.select(
        F.concat_ws("\t", "image_path", "kv").alias("value")
    ).write.mode("overwrite").text(path)


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Columnar sink; partition columns enable partition pruning on
    re-read — the scale-path default."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
