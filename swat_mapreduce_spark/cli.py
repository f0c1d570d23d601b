"""Standalone CLI — the engine's equivalent of the reference's two
entry points (SURVEY.md §3):

* ``python/predict_batch_threaded_local.py <input> <ckpt>
  <class_folder> [model_cfg] [device] [--batch-size]`` (§3.3), and
* ``hadoop jar predict_cluster.jar PredictDriverCluster <input_list>
  <output_dir>`` (§3.1).

Usage::

    python -m swat_mapreduce_spark <input_list> <output_dir>
        [--labels PATH] [--no-sort]

``--labels`` stands in for the reference's ``<class_folder>``. The
reference's model cfg, device and batch size have no counterpart: the
deterministic scorer runs as JVM expressions, so the plan has no model
to configure and no Arrow batches to size.

Reads a manifest (one image path per line — blank lines skipped,
``#`` comments skipped, whitespace trimmed, exactly the mapper's
rules, java/PredictBatchMapperCluster.java:48-49,114). One deliberate
divergence: Spark's text source strips a FILE-LEADING UTF-8 BOM
(imagelist1.txt ships one), so the first manifest line arrives clean
here; a mid-file BOM (or one injected via DataFrame, as the synthetic
manifest fixture does) still flows through untouched — that wart
stays pinned by the flagship_classify oracle. Scores every path
(the md5 stand-in scorer; the torch-gated real scorer lives in
operators/inference.py) and writes the reference-layout TSV
``path\\tclass,prob`` part files, key-sorted unless ``--no-sort``:
in one reducer, and so one part file, when Catalyst's size estimate of
the predictions fits one ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
partition, else by a global ``orderBy`` (sources/sinks.py).

Arg-validation behavior mirrors java/PredictDriverCluster.java:14-20:
wrong arg count → usage on stderr, exit 2 (argparse convention).
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="swat_mapreduce_spark",
        description="manifest -> classify -> key-sorted TSV (reference dataflow)",
    )
    p.add_argument("input_list", help="manifest text file (one path per line)")
    p.add_argument("output_dir", help="output directory for TSV part files")
    p.add_argument(
        "--labels",
        default=None,
        help="labels file/dir (python/predict_batch_threaded_local.py:41-52 "
        "rules); default: built-in 30-class vocabulary",
    )
    p.add_argument(
        "--no-sort", action="store_true",
        help="write the predictions unsorted (no global key sort) — "
        "the 100 TB default",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from pyspark.sql import SparkSession

    from swat_mapreduce_spark.operators import classify
    from swat_mapreduce_spark.session import get_spark
    from swat_mapreduce_spark.sources.readers import read_manifest
    from swat_mapreduce_spark.sources.sinks import write_predictions_tsv

    # a caller's session is used as it stands; engine defaults apply
    # only to a session this run creates
    spark = SparkSession.getActiveSession() or get_spark("swat-cli")
    labeled = classify.predict(
        read_manifest(spark, args.input_list), spark, labels_path=args.labels
    )
    write_predictions_tsv(
        labeled.select("image_path", "class", "prob"),
        args.output_dir,
        sort=not args.no_sort,
    )
    print(f"wrote predictions to {args.output_dir}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
