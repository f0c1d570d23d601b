"""SparkSession factory with scale-oriented defaults.

Replaces the reference's hand-wired Hadoop ``Job`` configuration
(``java/PredictDriverCluster.java:14-56``): one declarative session,
AQE on, Arrow enabled for the pandas-UDF inference path.

Task counts track cores, not input counts. Shuffle partitions follow
``$SPARK_GRAFT_CPUS`` in ``get_spark``; file-scan splits are capped at
``sparkContext.defaultParallelism`` (``_cap_file_splits``), which on a
cluster is the total executor cores. Spark otherwise charges each file
a 4 MB open cost and packs 1,000 objects of 4-32 KiB into 32 splits,
and every split feeding a Python stage pays the worker's fixed
per-task set-up (CLAUDE.md gotcha 16).

That set-up is pyspark's per-task ``importlib.invalidate_caches()``,
which re-reads every archive a worker imported pyspark from: 0.14-0.22 s
CPU per task with stock workers. ``get_spark`` sessions start their
Python workers from ``site_pyspark_daemon`` (a top-level module next to
this package), which loads the site-packages pyspark when its version
matches the JVM's ``pyspark.zip``, so that re-read finds no archive.
``spark.python.daemon.module`` is a static conf: a session created
elsewhere and handed to ``ensure_engine_conf`` (the correctness
driver's vanilla session) keeps stock workers and still pays the
set-up on every task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Top-level module the Python daemon runs (site_pyspark_daemon.py); its
# directory goes on the workers' path so any driver cwd finds it.
_DAEMON_MODULE = "site_pyspark_daemon"
_DAEMON_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Tuned for local[$SPARK_GRAFT_CPUS] testing; on a real cluster the same
# settings hold except shuffle partitions, which should track cluster
# cores (AQE coalesces the excess at runtime anyway).
_DEFAULTS = {
    # Runtime re-planning: partition coalescing, skew-join splitting,
    # broadcast-join demotion/promotion. Essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs (the inference path). The reference
    # micro-batches 32 images (java/PredictBatchMapperCluster.java:19);
    # we use a larger Arrow batch because our model singleton is loaded
    # once per worker, not once per batch (SURVEY.md §4 fix (a)).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # events.parquet uses TIMESTAMP(NANOS) which Spark 4 rejects by
    # default; read as long nanos and convert (sources/readers.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic timestamp semantics across Spark and the DuckDB
    # oracle: everything in UTC.
    "spark.sql.session.timeZone": "UTC",
    # get_spark always overrides this from $SPARK_GRAFT_CPUS; the
    # literal is what ensure_engine_conf gives an externally-created
    # session (the correctness driver's default would otherwise be 200).
    # AQE coalesces below it at runtime.
    "spark.sql.shuffle.partitions": "32",
    # Keep stderr clean for harnesses that capture output tails (the
    # stage progress bar interleaves carriage returns into logs).
    "spark.ui.showConsoleProgress": "false",
    # Let custom Python data sources receive pushFilters() (Spark 4.1;
    # runtime-settable, off by default).
    "spark.sql.python.filterPushdown.enabled": "true",
    # InferFiltersFromGenerate adds size(arr)>0 above every non-outer
    # explode; predicate pushdown then re-inlines the generator's FULL
    # derivation pipeline (tokenize/shingle/distinct) into the scan,
    # where it runs serially on single-split inputs and again in the
    # post-exchange projection (gotcha 13; measured 3.69 s -> 0.81 s on
    # the shapley mask subtree, r13). Every exploded array in this
    # engine is an expensive DERIVED pipeline — never a cheap stored
    # column the rule could usefully prune — so the inferred filter is
    # a net loss engine-wide. Hot paths additionally use
    # functions/arrays.explode_nonnull, which stays safe under foreign
    # sessions where this conf is absent. Runtime-settable, so the
    # driver's vanilla session picks it up via ensure_engine_conf.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


def get_spark(
    app_name: str = "swat_mapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is None and "MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    conf["spark.python.daemon.module"] = _DAEMON_MODULE
    py_path = "spark.executorEnv.PYTHONPATH"
    conf[py_path] = os.pathsep.join(filter(None, [conf.get(py_path), _DAEMON_DIR]))
    for k, v in conf.items():
        builder = builder.config(k, v)
    return _cap_file_splits(builder.getOrCreate())


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created
    session (the correctness driver hands us its own SparkSession).
    Static confs such as the Python daemon module cannot be set here, so
    such a session keeps stock Python workers."""
    for k, v in _DEFAULTS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — non-runtime-settable conf: keep going
            pass
    return _cap_file_splits(spark)


def _cap_file_splits(spark: SparkSession) -> SparkSession:
    """At most one file-scan split per core. When a scan would produce
    more splits than that, Spark re-packs its files by bytes into about
    ``defaultParallelism`` splits; smaller scans keep their layout.
    1,000 objects of 4-32 KiB on 4 cores: 32 -> 4 payload-scorer tasks
    (CLAUDE.md gotcha 16). Setting a conf builds the session's SQL state
    here rather than at the first query (~0.4 s on 4 cores, moved into
    session start, not added)."""
    spark.conf.set(
        "spark.sql.files.maxPartitionNum",
        str(spark.sparkContext.defaultParallelism),
    )
    return spark
