"""The shared query runner (``queries.run_query``): the one way bench,
selfcheck, planaudit and query_cli build and run a registry query."""

from __future__ import annotations

import pytest


def _entry(name, spark_fn):
    from swat_mapreduce_spark.queries import QueryEntry

    return QueryEntry(name, spark_fn, None)


def _persisted_rdds(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_noop_computes_every_output_column(spark, sf_dir):
    """A noop write evaluates the projections a count() prunes: an
    output column that raises fails the noop run, while count() of the
    same frame succeeds."""
    from pyspark.sql import functions as F

    from swat_mapreduce_spark.queries import run_query

    def spark_fn(spark, _sf_dir):
        return spark.range(4).select(
            "id", F.expr("raise_error(concat('boom ', id))").alias("bad")
        )

    q = _entry("raises_in_projection", spark_fn)
    assert spark_fn(spark, sf_dir).count() == 4
    with pytest.raises(Exception, match="boom"):
        run_query(spark, q, sf_dir, "noop")


def test_plan_reads_plan_fn(spark, sf_dir):
    """jaccard_link_prediction collects internally, so its spark_fn
    plans as a LocalTableScan; the "plan" mode explains its plan_fn,
    whose shuffles show."""
    from swat_mapreduce_spark.queries import load_all, run_query

    q = load_all()["jaccard_link_prediction"]
    assert q.plan_fn is not None
    assert "Exchange" in run_query(spark, q, sf_dir, "plan")


@pytest.mark.parametrize("mode", ["collect", "noop", "plan"])
def test_every_mode_drops_persisted_frames(spark, sf_dir, mode):
    """A frame persisted (and materialized) inside spark_fn leaves no
    persisted RDD behind, whatever the mode."""
    from swat_mapreduce_spark.queries import run_query

    before = _persisted_rdds(spark)
    seen = []

    def spark_fn(spark, _sf_dir):
        base = spark.range(100).selectExpr("id % 7 AS k").persist()
        base.count()
        seen.append(_persisted_rdds(spark) - before)
        return base.groupBy("k").count()

    run_query(spark, _entry("persists", spark_fn), sf_dir, mode)
    assert seen and seen[0], "spark_fn persisted nothing"
    assert _persisted_rdds(spark) == before


def test_unknown_mode_is_rejected(spark, sf_dir):
    from swat_mapreduce_spark.queries import run_query

    def spark_fn(spark, _sf_dir):
        raise AssertionError("built for an unknown mode")

    with pytest.raises(ValueError, match="count"):
        run_query(spark, _entry("never_built", spark_fn), sf_dir, "count")


def test_work_counts_repeat_exactly(spark, sf_dir):
    """The premise of bench's work gate (tools/benchdiff.py): recording a
    query's work again in one session gives the same jobs, stages and
    tasks. One query each with a broadcast join, a shuffle, a Python
    stage and a streaming replay, and the queries whose plans once
    depended on which of two inputs finished first (CLAUDE.md gotcha
    21; zone_map_skipping_audit then differed in half its recordings,
    so four recordings miss it 1 time in 8)."""
    from bench import time_query
    from swat_mapreduce_spark.queries import load_all

    reg = load_all()
    for name in (
        "q3_shipping_priority",
        "q1_pricing_summary",
        "arrow_scalar_udf",
        "stream_tumbling_agg",
        "zone_map_skipping_audit",
        "neardup_tfidf_cosine",
        "quade_test_event_types",
        "ann_ivf_recall_eval",
        "minhash_estimate_accuracy",
        "python_datasource_stream",
        "bfs_2hop_reach",
    ):
        runs = [time_query(spark, reg[name], sf_dir)[1] for _ in range(4)]
        counts = [{k: w[k] for k in ("jobs", "stages", "tasks")} for w in runs]
        assert all(c == counts[0] for c in counts), (name, counts)
        assert counts[0]["jobs"] > 0, name


def test_each_query_pays_for_its_staged_fixtures(spark, sf_dir):
    """bench charges a staged fixture (here the corpus LSH index) to
    every query that uses it, not to whichever used it first: a probe
    recorded after the index query built the index does the same work
    as one recorded with no index staged."""
    from bench import time_query
    from swat_mapreduce_spark.queries import load_all
    from swat_mapreduce_spark.sources.staging import clear_staged

    reg = load_all()
    probe = reg["dedup_probe_incremental"]
    time_query(spark, reg["dedup_index_build"], sf_dir)
    after_build = time_query(spark, probe, sf_dir)[1]
    clear_staged()
    cold = time_query(spark, probe, sf_dir)[1]
    assert {k: after_build[k] for k in ("jobs", "stages", "tasks")} == {
        k: cold[k] for k in ("jobs", "stages", "tasks")
    }


def test_stream_work_counts_its_micro_batches(spark, sf_dir):
    """A streaming query's micro-batches run under the stream's own job
    group; bench credits them to the rep that started the stream."""
    import dataclasses

    from bench import time_query
    from perfbench.tracing import SparkStatus
    from swat_mapreduce_spark.queries import load_all

    # a name of its own, so group "<name>#1" holds this run's jobs only
    q = dataclasses.replace(load_all()["stream_tumbling_agg"], name="stream_credit")
    work = time_query(spark, q, sf_dir)[1]
    in_group = SparkStatus(spark).totals("stream_credit#1")
    assert work["jobs"] > in_group["jobs"] > 0
    assert work["tasks"] > in_group["tasks"]
