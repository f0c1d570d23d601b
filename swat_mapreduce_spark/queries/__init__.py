"""Query registry: every engine operator exposed as a named query with
(optionally) a DuckDB oracle SQL equivalent.

The correctness driver (``__spark_entry__.py``) runs each registered
Spark query at sf=0.01 and compares row-count + schema + order-
insensitive value hash against the oracle SQL executed by DuckDB over
the same parquet tables. Queries without an oracle (genuinely
non-SQL-expressible: streaming state, LSH internals) get a rows-only
check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QueryEntry:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL or None for rows-only check
    # Lazy plan builder for queries whose spark_fn collect()s
    # internally (bounded driver-state patterns): returns the heavy
    # pre-collect DataFrame WITHOUT executing it, so run_query's "plan"
    # mode (query_cli --explain, planaudit) explains the real
    # computation instead of the LocalTableScan of collected rows.
    plan_fn: Callable[[SparkSession, str], DataFrame] | None = None


REGISTRY: dict[str, QueryEntry] = {}


def run_query(spark: SparkSession, q: QueryEntry, sf_dir: str, mode: str):
    """Build and run ``q`` at ``sf_dir`` the one way every tool does.

    - ``"collect"``: ``(columns, Rows)`` — what the oracle check hashes.
    - ``"noop"``: a noop-sink write that computes every output column
      and returns nothing — what bench times. A ``count()`` would let
      Catalyst prune the output projections away.
    - ``"plan"``: the formatted physical plan of ``q.plan_fn`` (or
      ``q.spark_fn``), unexecuted beyond what the builder runs itself.

    Every mode drops the session's cached relations afterwards, so a
    query's ``persist()`` blocks neither leak into nor speed up the
    next run.
    """
    if mode not in ("collect", "noop", "plan"):
        raise ValueError(f"unknown run mode {mode!r}")
    try:
        if mode == "plan":
            from swat_mapreduce_spark.plans.explain import formatted_plan

            return formatted_plan((q.plan_fn or q.spark_fn)(spark, sf_dir))
        df = q.spark_fn(spark, sf_dir)
        if mode == "collect":
            return df.columns, df.collect()
        df.write.format("noop").mode("overwrite").save()
    finally:
        spark.catalog.clearCache()


def register(
    name: str,
    oracle: str | None = None,
    plan_fn: Callable[[SparkSession, str], DataFrame] | None = None,
):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QueryEntry(name, fn, oracle, plan_fn)
        return fn

    return deco


def load_all() -> dict[str, QueryEntry]:
    """Import every query module (side effect: registration)."""
    from swat_mapreduce_spark.queries import (  # noqa: F401
        corpus_stats,
        curation,
        data_selection,
        dedup,
        engine_observability,
        entity_resolution,
        formats,
        lakehouse,
        llm_text,
        llm_text2,
        llm_text3,
        llm_text4,
        llm_text5,
        llm_text6,
        llm_text7,
        llm_text8,
        llm_text9,
        model_evals,
        multimodal,
        python_udf_surfaces,
        quality_audits,
        reference_pipeline,
        relational,
        retrieval_fusion,
        relational2,
        relational3,
        relational4,
        relational5,
        scale_patterns,
        spatial,
        sql_surfaces,
        stats_tests,
        stats_tests2,
        stats_tests3,
        similarity,
        streaming_queries,
        temporal,
        text_overlap,
        timeseries_survival,
        training_pipeline,
    )

    return REGISTRY
