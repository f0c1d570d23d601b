"""The shared query runner (``queries.run_query``): the one way bench,
isolate, selfcheck, planaudit and query_cli build and run a registry
query."""

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
